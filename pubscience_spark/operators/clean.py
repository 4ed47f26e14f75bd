"""Cleaning operators over text columns.

Wraps the deterministic kernels for the sentence fold (C4) and
segmentation (G1/G2) as Series→Series pandas UDFs, and mirrors the F8
language detector as native Catalyst expressions. Fixture-checked bytes
always run CPython ``re`` inside the UDFs — never Java ``regexp_replace``
(SURVEY.md §7.4).
"""

from __future__ import annotations

import re as _re

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, StringType

from ..kernels import textclean
from ..kernels import langid as _langid
from ..kernels import segment as _segment


@pandas_udf(ArrayType(StringType()))
def sentences_udf(s: pd.Series) -> pd.Series:
    """C4 per-document sentence fold (clean/cleaner.py:257-291 semantics)."""
    return s.map(lambda t: textclean.sentence_fold(t.split("\n"))
                 if t is not None else [])


# filter-over-UDF-column plans evaluate a deterministic UDF twice (once
# under the pushed filter, once in the projection — guide §4.4); the
# fold is pure, the marker only blocks the optimizer from duplicating it
sentences_udf_1pass = sentences_udf.asNondeterministic()


@pandas_udf(ArrayType(StringType()))
def split_sentences_udf(s: pd.Series) -> pd.Series:
    """G1 sentence segmentation."""
    return s.map(lambda t: _segment.split_sentences(t) if t is not None else [])


def chunks_udf(max_tokens: int = 256):
    """G2 token-budget chunking, parameterized."""
    @pandas_udf(ArrayType(StringType()))
    def _chunks(s: pd.Series) -> pd.Series:
        return s.map(lambda t: _segment.chunk_text(t, max_tokens)
                     if t is not None else [])
    return _chunks


def _sql_str(s: str) -> str:
    """``s`` as a Spark SQL string literal: ``\\`` and ``'`` doubled."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def with_detected_lang(df, text_col: str = "text", out_col: str = "detected",
                       sample_size: int = 10000, margin: float = 0.08):
    """F8 detector as NATIVE Catalyst expressions — the same arithmetic as
    ``kernels.langid.detect_lang`` (pytest-enforced equal), but JVM-side
    (codegen, no Python workers) and mirrorable term-for-term in the DuckDB
    oracle SQL: word split, stopword hits, non-overlapping trigram counts
    via replace-length, identical float op order. Ties go to the FIRST
    alphabetical language, but any tie (< 1e-9 gap) is 'unknown' anyway —
    matching the kernel's sort + margin rule exactly.

    STAGED through separate projections on purpose: composed as one giant
    Column, the word-extraction subtree is duplicated into every CASE
    branch, where Spark's subexpression elimination does not reach
    (conditional branches are exempt) — measured 15× slower. As staged
    columns, CollapseProject keeps each expensive intermediate materialized
    once and the final CASE references only cheap attributes."""
    words_col, padded_col, nchars_col = "__lid_w", "__lid_p", "__lid_nc"
    # each stage is ONE withColumns call: incremental withColumn
    # re-analyzes the whole accumulating tree per column, and with 10
    # languages the analyzer cost (NOT row work) dominated — round-7
    # bench measured ~3.2 s/trial of pure driver planning vs 0.16 s
    # execution on the 5k-row fixture
    df = df.withColumn(words_col, F.expr(
        f"regexp_extract_all(lower(substring({text_col}, 1, "
        f"{sample_size})), '{_langid.WORD_RE}', 0)"))
    df = df.withColumns({
        padded_col: F.concat(
            F.lit(" "), F.array_join(F.col(words_col), " "),
            F.lit(" ")),
    })
    df = df.withColumns({
        nchars_col: F.greatest(F.length(padded_col) - 2, F.lit(1)),
    })
    langs = sorted(_langid._PROFILES)
    score_cols = {}
    for lang in langs:
        stop, grams = _langid._PROFILES[lang]
        # stopword hits WITHOUT a higher-order function: lambda
        # variables get fresh expression ids per construction, which
        # busts the codegen cache — round-7 bench measured ~2 s of
        # recompile per fresh q_langid plan, and the interpreted HOF
        # was also 2x the row cost. The zero-width lookahead counts
        # every position where " <stopword> " starts, i.e. exactly
        # the words-in-set count (padded joins words with single
        # spaces; adjacent stopwords share a delimiter, which plain
        # non-overlapping counting would miss).
        #
        # Each score is ONE ``F.expr`` parse (round 8): composed from
        # per-call Column API pieces, the 10-language loop cost
        # hundreds of py4j round-trips of pure driver time per query
        # build; the SQL text parses JVM-side to the identical tree
        # (0.5D/10.0D keep the literals DOUBLE, int/int division is
        # double in both forms).
        alt = "|".join(_re.escape(w) for w in sorted(stop))
        stop_re = _sql_str(f"(?= ({alt}) )")
        gram_terms = " + ".join(
            f"(length({padded_col}) - length(replace({padded_col}, "
            f"{_sql_str(g)}, ''))) / {len(g)}" for g in grams)
        score_cols[f"__lid_s_{lang}"] = F.expr(
            f"CASE WHEN size({words_col}) > 0 THEN "
            f"regexp_count({padded_col}, {stop_re})"
            f" / size({words_col})"
            f" + 0.5D * (({gram_terms}) / {nchars_col}) * 10.0D "
            f"ELSE 0.0D END")
    df = df.withColumns(score_cols)
    scores = {lang: F.col(f"__lid_s_{lang}") for lang in langs}
    # winner selection via ONE sorted struct array, not pairwise CASE
    # chains: the old O(langs^2) conjunct tree (10 branches x 9
    # comparisons, plus a greatest-of-9 per branch for the runner)
    # dominated plan/codegen time once the profile table grew to 10
    # languages (round-7 bench: langid 1.5 s -> 4.2 s with ~0 row
    # work — 5k rows x 300 chars). sort_array on struct(score, rank)
    # orders by score, then by rank; rank = -alphabet_index makes the
    # alphabetically FIRST language win ties, the kernel's rule.
    ranked = F.sort_array(F.array(*[
        F.struct(scores[lang].alias("s"),
                 F.lit(-i).alias("r"))
        for i, lang in enumerate(langs)]), asc=False)
    best = ranked[0]["s"]
    runner = ranked[1]["s"]
    best_lang = F.element_at(
        F.array(*[F.lit(lang) for lang in langs]),
        (-ranked[0]["r"]).cast("int") + 1)
    detected = F.when(
        (best < F.lit(margin)) | ((best - runner) < F.lit(1e-9)),
        F.lit("unknown")).otherwise(best_lang)
    drop = [words_col, padded_col, nchars_col] + \
        [f"__lid_s_{lang}" for lang in langs]
    return df.withColumn(out_col, detected).drop(*drop)


def clean_corpus(df, id_col: str = "url", text_col: str = "text"):
    """§3.1 ``Cleaner.clean()`` lifecycle as one operator: per-document
    line-clean (C1-C3) → length gate → sentence fold (C4) → one row per
    assembled sentence (posexplode keeps the in-document order column the
    reference got implicitly from file order)."""
    return (df.select(F.col(id_col).alias("id"),
                      F.posexplode(sentences_udf(F.col(text_col)))
                      .alias("sentence_no", "sentence")))
