"""End-to-end training-corpus curation plan (training-data tier).

Composes the engine's curation operators into the standard LLM-data
recipe, one named entry point:

    raw docs
      ├─ F1/F2 length gates (native predicates)
      ├─ F8 language gate (lang column, or the native detector expression)
      ├─ X1 exact dedup (sha256 keep-first by id — min() agg, hot-key safe)
      ├─ MinHash-LSH near-dup DROP (banded candidates → exact-Jaccard
      │    verify → keep the lower id of every surviving pair)
      ├─ quality gate (alpha/stopword/word-length native expressions)
      ├─ O6 deterministic md5 split assignment
      └─ write parquet partitioned by split + a JSON manifest of
         per-stage survivor counts (the curation funnel)

Scale shape: every gate is a Catalyst predicate (pushdown-friendly); the
only Python is the MinHash signature pUDF; the near-dup drop anti-joins a
SLIM id set; stage counts come from ONE aggregation pass over boolean
stage flags (no per-stage count() jobs), then the survivors are written in
a second pass. Deterministic end to end — no rand(), no partition-order
dependence — so re-runs overwrite byte-stable output.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators.sampling import train_val_test_split


def _quality_ok(text_col: str, *, min_alpha_ratio: float,
                max_word_len: float, min_stop_ratio: float):
    """Native quality predicate (same feature definitions as the
    quality_features battery query)."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    n_alpha = F.length(F.regexp_replace(t, "[^A-Za-z]", ""))
    non_ws = F.length(F.regexp_replace(t, r"\s", ""))
    words = F.split(F.lower(F.trim(t)), r"\s+")
    n_words = F.size(words)
    stop = ["the", "a", "an", "and", "or", "of", "to", "in", "is", "on",
            "for", "with", "as", "by", "at", "it", "that", "this", "are",
            "was"]
    n_stop = F.size(F.filter(words, lambda w: w.isin(*stop)))
    return ((n_chars > 0) & (n_words > 0)
            & ((n_alpha / n_chars) >= min_alpha_ratio)
            & ((non_ws / n_words) <= max_word_len)
            & ((n_stop / n_words) >= min_stop_ratio))


GOPHER_DEFAULT_MAX = {
    # Rae et al. 2021 table A1 drop thresholds
    "dup_line_frac": 0.30, "dup_line_char_frac": 0.20,
    "dup_para_frac": 0.30, "dup_para_char_frac": 0.20,
    "top_2gram_char_frac": 0.20, "top_3gram_char_frac": 0.18,
}


def curate_corpus(spark: SparkSession, docs: DataFrame, out_dir: str, *,
                  id_col: str = "doc_id", text_col: str = "text",
                  min_chars: int = 100, min_words: int = 20,
                  lang_keep: str | None = None,
                  use_detector: bool = False,
                  neardup_threshold: float = 0.85,
                  neardup_bands: int = 32,
                  neardup_mode: str = "pairs",
                  min_alpha_ratio: float = 0.6,
                  max_word_len: float = 12.0,
                  min_stop_ratio: float = 0.01,
                  gopher_max: dict | None = None,
                  gopher_quality_gate: bool = False,
                  c4: bool = False,
                  c4_badwords: list[str] | None = None,
                  para_dedup: bool = False,
                  para_min_chars: int = 30,
                  exact_substr: bool = False,
                  exact_substr_min_tokens: int = 50,
                  exact_substr_salt: int = 8,
                  decontam_eval: DataFrame | None = None,
                  decontam_n: int = 13,
                  split_weights: tuple = (.9, .05, .05)) -> dict:
    """Run the funnel; returns the manifest dict (also written to
    ``out_dir/manifest.json``). Output table at ``out_dir/corpus``.

    ``gopher_max`` (opt-in) adds a repetition gate: a dict of
    signal → max threshold over the ``gopher_repetition`` columns (use
    :data:`GOPHER_DEFAULT_MAX` for the published values). Still one
    aggregation pass — the signals are native expressions, so the gate
    is just another boolean flag.
    ``c4`` (opt-in) runs the C4 §2.2 line-level cleanup FIRST
    (:func:`operators.curate_text.c4_clean`): the text every later gate
    sees is the line-filtered rewrite, and pages failing C4's
    page-level rule (lorem ipsum / curly brace / too few sentences)
    drop at their own funnel stage (``after_c4_gate``).
    ``c4_badwords`` (opt-in, requires ``c4``) adds the paper's
    page-level dirty-word removal (bring your own list — see
    :func:`operators.curate_text.c4_clean`); flagged pages fail the C4
    stage and the manifest reports ``badword_pages`` separately.
    ``gopher_quality_gate`` (opt-in) folds the published Gopher C1
    QUALITY thresholds (word-count bounds, mean word length, symbol
    ratio, bullet/ellipsis lines, alpha words, required stopwords —
    :func:`operators.curate_text.gopher_quality_pass`) into the quality
    flag, expression-composed so no signal columns are materialized.
    ``neardup_mode``: ``"pairs"`` (default) drops the higher id of every
    verified near-dup pair; ``"cluster"`` computes transitive CLUSTERS
    over the pair graph (large-star/small-star connected components,
    :mod:`operators.components`) and keeps exactly the min-id
    representative per cluster — the standard fuzzy-dedup semantics
    when similarity chains span templates (a~c, b~c: "pairs" keeps a
    AND b, "cluster" keeps only a).
    ``para_dedup`` (opt-in) runs corpus-wide paragraph-level dedup (the
    C4/RefinedWeb recipe,
    :func:`operators.dedup.paragraph_dedup_incremental`) over
    the doc-dedup survivors: cross-page boilerplate paragraphs keep one
    occurrence, documents emptied entirely are dropped. Runs BEFORE
    decontamination so eval n-grams are checked against the final text.
    ``exact_substr`` (opt-in) runs exact-substring duplicate-SPAN
    removal (Lee et al. 2022 ExactSubstr, the RefinedWeb recipe —
    :func:`operators.spandedup.drop_duplicate_spans`) after paragraph
    dedup: any token span ≥ ``exact_substr_min_tokens`` long that
    occurs elsewhere in the corpus keeps only its first occurrence;
    documents emptied entirely are dropped. Also before
    decontamination, for the same reason.
    ``decontam_eval`` (opt-in) drops docs sharing any ``decontam_n``-gram
    with the given evaluation corpus (id/text columns as named here)."""
    if neardup_mode not in ("pairs", "cluster"):   # fail fast, pre-plan
        raise ValueError(f"neardup_mode {neardup_mode!r}: "
                         "expected 'pairs' or 'cluster'")
    if c4_badwords and not c4:                     # fail fast, pre-plan
        raise ValueError("c4_badwords requires c4=True — the badword "
                         "gate runs inside the C4 stage; passing a "
                         "list with c4 disabled would silently skip it")
    # ---- stage flags (cheap predicates; one aggregation pass) ----------
    if c4:
        from ..operators.curate_text import c4_clean
        docs = c4_clean(docs, text_col, out_col="__c4t",
                        badwords=c4_badwords)
        docs = (docs.withColumnRenamed("c4_badword", "__c4_bad")
                if c4_badwords else
                docs.withColumn("__c4_bad", F.lit(False)))
        docs = (docs
                .withColumn("__c4_ok", F.col("c4_keep"))
                .drop(text_col, "c4_keep", "n_lines_kept",
                      "n_lines_dropped")
                .withColumnRenamed("__c4t", text_col))
    else:
        docs = (docs.withColumn("__c4_ok", F.lit(True))
                .withColumn("__c4_bad", F.lit(False)))
    flagged = (docs
               .withColumn("__len_ok",
                           (F.length(text_col) >= min_chars)
                           & (F.size(F.split(F.trim(F.col(text_col)),
                                             r"\s+")) >= min_words)))
    if lang_keep is None:
        flagged = flagged.withColumn("__lang_ok", F.lit(True))
    elif use_detector:
        from ..operators.clean import with_detected_lang
        flagged = with_detected_lang(flagged, text_col, "__det") \
            .withColumn("__lang_ok", F.col("__det") == lang_keep) \
            .drop("__det")
    else:
        flagged = flagged.withColumn("__lang_ok",
                                     F.col("lang") == lang_keep)
    flagged = flagged.withColumn(
        "__q_ok", _quality_ok(text_col, min_alpha_ratio=min_alpha_ratio,
                              max_word_len=max_word_len,
                              min_stop_ratio=min_stop_ratio))
    if gopher_quality_gate:
        # expression-composed (no added columns — input tables may carry
        # same-named signal columns); published C1 thresholds
        from ..operators.curate_text import (gopher_quality_pass,
                                             gopher_quality_signals)
        flagged = flagged.withColumn(
            "__q_ok", F.col("__q_ok")
            & gopher_quality_pass(gopher_quality_signals(text_col)))
    if gopher_max:
        from ..operators.curate_text import gopher_repetition
        flagged = gopher_repetition(flagged, text_col)
        rep_ok = F.lit(True)
        for sig, mx in gopher_max.items():
            rep_ok = rep_ok & (F.col(sig) <= F.lit(float(mx)))
        flagged = flagged.withColumn("__rep_ok", rep_ok).drop(
            "dup_line_frac", "dup_line_char_frac", "dup_para_frac",
            "dup_para_char_frac", "top_2gram_char_frac",
            "top_3gram_char_frac")
    else:
        flagged = flagged.withColumn("__rep_ok", F.lit(True))

    # ``flagged`` feeds THREE passes (the funnel aggregation, the slim
    # keeper projection, the survivor join) — unpersisted, the whole
    # gate chain (C4 line rewrite, gopher signals, quality regexes)
    # re-executed per consumer (round-8 audit). One cache build, three
    # reads; released after the write.
    from pyspark.storagelevel import StorageLevel
    flagged = flagged.persist(StorageLevel.MEMORY_AND_DISK)

    # exact-dedup keeper per sha256 among gate survivors (min() agg —
    # map-side combine, viral-duplicate safe)
    gated = flagged.where(
        "__c4_ok AND __len_ok AND __lang_ok AND __q_ok AND __rep_ok")
    keepers = (gated
               .select(F.sha2(F.col(text_col), 256).alias("__sha"), id_col)
               .groupBy("__sha").agg(F.min(id_col).alias("__keep")))
    exact = (gated.withColumn("__sha", F.sha2(F.col(text_col), 256))
             .join(keepers, "__sha")
             .where(F.col(id_col) == F.col("__keep"))
             .drop("__sha", "__keep"))

    # near-dup drop over the exact-dedup survivors: slim candidate pairs,
    # exact verify, drop the HIGHER id of each pair (keep-first)
    exact = exact.persist(StorageLevel.MEMORY_AND_DISK)
    pairs = dedup_ops.minhash_neardup(exact, id_col, text_col,
                                      threshold=neardup_threshold,
                                      bands=neardup_bands)
    if neardup_mode == "cluster":
        from ..operators.components import connected_components
        comps = connected_components(pairs, "id_a", "id_b")
        drop_ids = (comps.where(F.col("node") != F.col("component"))
                    .select(F.col("node").alias(id_col)))
    else:                                          # "pairs" (validated)
        drop_ids = pairs.select(F.col("id_b").alias(id_col)).distinct()
    # no broadcast hint: the drop set is usually tiny (AQE will broadcast
    # it), but a near-dup-heavy corpus at 10^12 docs can produce a drop
    # set too large to ship to every executor — let the planner decide
    kept = exact.join(drop_ids, id_col, "left_anti")
    n_paras_dropped, n_para_emptied = 0, 0
    pd_out = None
    if para_dedup:
        pd_out = dedup_ops.paragraph_dedup_incremental(
            kept.select(id_col, text_col), id_col, text_col,
            min_chars=para_min_chars, index_df=None)[0].persist()
        stats = pd_out.agg(
            F.coalesce(F.sum("n_paras_dropped"), F.lit(0))
            .cast("long").alias("pd"),
            F.coalesce(F.sum(F.when(F.length(F.trim(F.col(text_col)))
                                    == 0, 1).otherwise(0)), F.lit(0))
            .cast("long").alias("emptied")).collect()[0]
        n_paras_dropped, n_para_emptied = stats["pd"], stats["emptied"]
        kept = (kept.drop(text_col)
                .join(pd_out.select(id_col, text_col), id_col)
                .where(F.length(F.trim(F.col(text_col))) > 0))
    n_spans_rm, n_span_toks_rm, n_span_emptied = 0, 0, 0
    es_out = None
    if exact_substr:
        from ..operators.spandedup import drop_duplicate_spans
        es_out = drop_duplicate_spans(
            kept.select(id_col, text_col), id_col, text_col,
            min_tokens=exact_substr_min_tokens,
            salt=exact_substr_salt).persist()
        st = es_out.agg(
            F.coalesce(F.sum("n_spans_removed"), F.lit(0))
            .cast("long").alias("s"),
            F.coalesce(F.sum("n_tokens_removed"), F.lit(0))
            .cast("long").alias("t"),
            F.coalesce(F.sum(F.when(
                (F.col("n_tokens_removed") > 0)
                & (F.length(F.trim(F.col(text_col))) == 0), 1)
                .otherwise(0)), F.lit(0))
            .cast("long").alias("emptied")).collect()[0]
        n_spans_rm, n_span_toks_rm = st["s"], st["t"]
        n_span_emptied = st["emptied"]
        kept = (kept.drop(text_col)
                .join(es_out.select(id_col, text_col), id_col)
                .where(F.length(F.trim(F.col(text_col))) > 0))
    n_contaminated = 0
    hit_ids = None
    if decontam_eval is not None:
        from ..operators.curate_text import ngram_hashes
        ev = ngram_hashes(decontam_eval, id_col, text_col, decontam_n) \
            .select("ngram_hash").distinct()
        # persist the (tiny) hit set: its count and the anti-join would
        # otherwise each re-run the 13-gram explode over the corpus
        hit_ids = (ngram_hashes(kept, id_col, text_col, decontam_n)
                   .join(F.broadcast(ev), "ngram_hash")
                   .select(F.col("id").alias(id_col)).distinct()).persist()
        n_contaminated = hit_ids.count()
        kept = kept.join(hit_ids, id_col, "left_anti")
    kept = train_val_test_split(kept, id_col, weights=split_weights)

    # ---- one-pass funnel counts + write -------------------------------
    z = F.lit(0)          # sum() over zero rows is NULL — pin to 0
    c4c = F.col("__c4_ok")
    funnel_row = flagged.agg(
        F.count(F.lit(1)).alias("input"),
        F.coalesce(F.sum(F.when(c4c, 1).otherwise(0)), z)
        .alias("c4_ok"),
        F.coalesce(F.sum(F.when(F.col("__c4_bad"), 1).otherwise(0)), z)
        .alias("badword_pages"),
        F.coalesce(F.sum(F.when(c4c & F.col("__len_ok"), 1)
                         .otherwise(0)), z).alias("len_ok"),
        F.coalesce(F.sum(F.when(c4c & F.col("__len_ok")
                                & F.col("__lang_ok"), 1)
                         .otherwise(0)), z).alias("lang_ok"),
        F.coalesce(F.sum(F.when(c4c & F.col("__len_ok")
                                & F.col("__lang_ok")
                                & F.col("__q_ok"), 1).otherwise(0)), z)
        .alias("quality_ok"),
        F.coalesce(F.sum(F.when(c4c & F.col("__len_ok")
                                & F.col("__lang_ok")
                                & F.col("__q_ok") & F.col("__rep_ok"), 1)
                         .otherwise(0)), z)
        .alias("repetition_ok")).collect()[0]
    corpus_path = os.path.join(out_dir, "corpus")
    out = kept.drop("__c4_ok", "__c4_bad", "__len_ok", "__lang_ok",
                    "__q_ok", "__rep_ok")
    out.write.mode("overwrite").option("partitionOverwriteMode", "dynamic") \
        .partitionBy("split").parquet(corpus_path)
    # dynamic overwrite writes no files for an empty result — read back
    # only when data exists (zero-input runs yield an empty manifest).
    # Hadoop FS probe: works for s3a://hdfs:// out_dirs, LocalFileSystem
    # for plain paths
    from . import fsutil
    has_files = fsutil.has_files(spark, corpus_path)
    if has_files:
        written = spark.read.parquet(corpus_path)
        split_counts = {r["split"]: r["n"] for r in
                        written.groupBy("split")
                        .agg(F.count(F.lit(1)).alias("n")).collect()}
    else:
        split_counts = {}
    n_written = sum(split_counts.values())
    flagged.unpersist()
    exact.unpersist()
    if pd_out is not None:
        dedup_ops.unpersist_input(pd_out)
        pd_out.unpersist()
    if es_out is not None:
        dedup_ops.unpersist_input(es_out)
        es_out.unpersist()
    if hit_ids is not None:
        hit_ids.unpersist()
    manifest = {
        "input": funnel_row["input"],
        "after_c4_gate": funnel_row["c4_ok"],
        "badword_pages": funnel_row["badword_pages"],
        "after_length_gate": funnel_row["len_ok"],
        "after_lang_gate": funnel_row["lang_ok"],
        "after_quality_gate": funnel_row["quality_ok"],
        "after_repetition_gate": funnel_row["repetition_ok"],
        "decontaminated_dropped": n_contaminated,
        "paragraph_dedup": ({"paras_dropped": n_paras_dropped,
                             "docs_emptied": n_para_emptied}
                            if para_dedup else None),
        "exact_substr": ({"spans_removed": n_spans_rm,
                          "tokens_removed": n_span_toks_rm,
                          "docs_emptied": n_span_emptied}
                         if exact_substr else None),
        "written": n_written,
        "exact_and_neardup_dropped":
            funnel_row["repetition_ok"] - n_contaminated - n_written
            - n_para_emptied - n_span_emptied,
        "splits": split_counts,
        "params": {"min_chars": min_chars, "min_words": min_words,
                   "lang_keep": lang_keep,
                   "neardup_threshold": neardup_threshold,
                   "neardup_mode": neardup_mode,
                   "gopher_max": gopher_max,
                   "c4_badwords_n": (len(c4_badwords)
                                     if c4_badwords else 0),
                   "para_dedup": para_dedup,
                   "exact_substr": ({"min_tokens":
                                     exact_substr_min_tokens,
                                     "salt": exact_substr_salt}
                                    if exact_substr else None),
                   "decontam_n": decontam_n if decontam_eval is not None
                   else None,
                   "split_weights": list(split_weights)},
        "corpus_path": corpus_path,
    }
    fsutil.write_text(spark, os.path.join(out_dir, "manifest.json"),
                      json.dumps(manifest, indent=1))
    return manifest
