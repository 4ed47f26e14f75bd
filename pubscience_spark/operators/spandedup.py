"""Exact-substring duplicate-span removal (ExactSubstr, Lee et al.
2022 "Deduplicating Training Data Makes Language Models Better") — the
published-recipe curation component used by RefinedWeb alongside the
MinHash near-dup the reference specs (``/root/reference/README.md:89``;
the reference itself stops at document-level MinHash, so this operator
is beyond-ask).

Semantics (token level, deterministic):

- tokens are maximal runs of non-whitespace, whitespace being the
  EXPLICIT ASCII class ``[ \\t\\n\\r\\f\\x0B]`` — the same class on the
  Spark (Java regex), oracle (RE2) and rebuild (Python ``re``) sides,
  because the engines' ``\\s`` classes all disagree (round-5 notes);
- an *n-gram occurrence* ``(doc, pos)`` (``n = min_tokens``) is a
  DUPLICATE when the same token sequence occurs anywhere else in the
  corpus (another doc, or another position of the same doc) and this
  occurrence is not the global keeper — keeper = minimal ``(doc, pos)``;
- a document's *duplicate spans* are the merged runs of token
  positions covered by its duplicate n-gram occurrences ``[pos,
  pos+n)``; every such run is ≥ ``min_tokens`` long by construction,
  and a shared span of L ≥ n tokens is covered end-to-end because all
  of its length-n windows collide;
- removal drops each marked token together with its TRAILING
  whitespace run; the document's leading whitespace is always kept.
  Kept regions keep their original bytes (offset-safe reassembly) —
  output = prefix + concat(token_i + sep_i for unmarked i).

Keep-first means the first occurrence (by ``(doc, pos)``) of any
duplicated content survives verbatim — exactly the document-level
exact-dedup keep-first rule pushed down to spans.

Scale shape (mark generation is ALL native JVM, no Python):
tokens via ``regexp_extract_all`` → per-token ``xxhash64`` (once per
token, so gram hashing reads 8·n bytes of longs instead of re-reading
token bytes) → gram keys = PAIRED independent ``xxhash64`` over the
length-n hash slice (128-bit effective; a single 64-bit key has ~50%
birthday odds at ~5e9 distinct grams — the
``paragraph_dedup_incremental`` precedent) → posexplode to slim ``(k, k2, doc, pos)`` rows → per-key
``min(struct(doc, pos))`` + count agg (map-side combine, hot-key safe)
→ ``count > 1`` filter drops the unique-gram majority BEFORE the join
→ SALTED equi-join back (winner rows replicated ×salt, occurrences
pick a deterministic shard — a viral boilerplate span's occurrences
spread over ``salt`` partitions instead of one). Only documents that
actually carry marks take the Arrow-batched rebuild; untouched
documents bypass Python entirely.
"""

from __future__ import annotations

import re

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .dedup import _ensure_persisted

# the explicit ASCII whitespace class — identical semantics in Java
# regex (Spark), RE2 (DuckDB oracle) and Python re (rebuild UDF)
_WS_JAVA = " \\t\\n\\r\\f\\x0B"
TOKEN_RE_JAVA = f"[^{_WS_JAVA}]+"
_TOKEN_RE_PY = re.compile(r"[^ \t\n\r\f\x0b]+")

_SEED2 = 0x9E3779B9


def duplicate_span_marks(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", *,
                         min_tokens: int = 50,
                         salt: int = 8,
                         persist_grams: bool = True) -> DataFrame:
    """Token-start positions of duplicate n-gram occurrences: one row
    ``(id_col, pos)`` per non-keeper occurrence of a duplicated
    ``min_tokens``-gram. ``salt`` spreads viral grams across join
    partitions (1 disables).

    The gram frame feeds TWO differently-partitioned shuffles (the
    (k,k2) winner agg and the (k,k2,salt) probe join), so ReuseExchange
    cannot share them; ``persist_grams`` (default) disk-backs the slim
    exploded frame so the tokenize→hash→explode pipeline — the
    dominant native cost — runs once instead of twice (round-7
    review). The handle rides on the result for
    :func:`~.dedup.unpersist_input`; at extreme corpus scale where
    caching ~30 bytes/token costs more than the recompute, pass
    ``False``."""
    n = int(min_tokens)
    if n < 2:
        raise ValueError(f"min_tokens must be >= 2, got {min_tokens}")
    base = (df.select(F.col(id_col).alias("__doc"),
                      F.col(text_col).alias("__text"))
            .withColumn("__toks",
                        F.regexp_extract_all(
                            "__text", F.lit(TOKEN_RE_JAVA), 0))
            .where(F.size("__toks") >= n)
            # stage hash arrays through separate projections (the
            # round-2 CSE rule: one giant expression duplicates the
            # tokenizer into every consumer)
            .withColumn("__h", F.transform(
                "__toks", lambda t: F.xxhash64(t)))
            .withColumn("__h2", F.transform(
                "__toks", lambda t: F.xxhash64(F.lit(_SEED2), t)))
            .select("__doc", "__h", "__h2"))
    grams = (base.select(
        "__doc",
        F.posexplode(F.transform(
            F.sequence(F.lit(0), F.size("__h") - n),
            lambda s: F.struct(
                F.xxhash64(F.slice("__h", s + 1, n)).alias("k"),
                F.xxhash64(F.slice("__h2", s + 1, n)).alias("k2"))))
        .alias("__pos", "__g"))
        .select("__doc", "__pos",
                F.col("__g.k").alias("__k"),
                F.col("__g.k2").alias("__k2")))
    persisted_grams = None
    if persist_grams:
        from pyspark.storagelevel import StorageLevel
        grams = grams.persist(StorageLevel.MEMORY_AND_DISK)
        persisted_grams = grams
    winners = (grams.groupBy("__k", "__k2")
               .agg(F.min(F.struct(F.col("__doc").alias("d"),
                                   F.col("__pos").alias("i")))
                    .alias("__w"),
                    F.count(F.lit(1)).alias("__c"))
               .where(F.col("__c") > 1)
               .drop("__c"))
    n_salt = max(1, int(salt))
    grams = grams.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("__doc"), F.col("__pos")),
               F.lit(n_salt)).cast("int"))
    winners = winners.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    marks = (grams.join(winners, ["__k", "__k2", "__salt"])
             .where((F.col("__w.d") != F.col("__doc"))
                    | (F.col("__w.i") != F.col("__pos")))
             .select(F.col("__doc").alias(id_col),
                     F.col("__pos").alias("pos")))
    if persisted_grams is not None:
        # The handle must be the frame .persist() was called on — the
        # salted projection above is a different plan, and unpersisting
        # it would be a silent no-op that leaks the gram cache.
        marks._ps_persisted_input = persisted_grams  # noqa: SLF001
    return marks


def _merge_mask(starts: np.ndarray, n: int, T: int) -> np.ndarray:
    mask = np.zeros(T, dtype=bool)
    if starts.size:
        idx = (starts[:, None] + np.arange(n)).ravel()
        mask[idx[idx < T]] = True
    return mask


def _rebuild_one(text: str, starts, n: int) -> tuple[str, int, int]:
    toks = list(_TOKEN_RE_PY.finditer(text))
    T = len(toks)
    mask = _merge_mask(np.asarray(starts, dtype=np.int64), n, T)
    n_removed = int(mask.sum())
    if not n_removed:
        return text, 0, 0
    hit = np.flatnonzero(mask)
    n_spans = 1 + int(np.count_nonzero(np.diff(hit) > 1))
    parts = [text[:toks[0].start()]]          # leading ws always kept
    for i, m in enumerate(toks):
        if mask[i]:
            continue
        end = toks[i + 1].start() if i + 1 < T else len(text)
        parts.append(text[m.start():end])     # token + trailing sep
    return "".join(parts), n_spans, n_removed


def drop_duplicate_spans(df: DataFrame, id_col: str = "doc_id",
                         text_col: str = "text", *,
                         min_tokens: int = 50,
                         salt: int = 8,
                         out_col: str | None = None) -> DataFrame:
    """Remove every duplicate span (see module docstring) and return
    the input columns with ``out_col`` (default: ``text_col``
    replaced) plus ``n_spans_removed`` / ``n_tokens_removed`` counters.

    The input feeds both the mark generation and the rebuild join, so
    it is persisted here if the caller didn't (``_ensure_persisted``);
    release with :func:`~.dedup.unpersist_input` on the result.

    Round-8 rebuild: the reassembly is NATIVE Catalyst — the same
    token-list + separator-run formula the DuckDB oracle uses (tokens
    re-extracted, covered indices dropped, each kept token re-joined
    with its trailing whitespace run, leading whitespace preserved) —
    behind a CASE that short-circuits unmarked docs to their original
    text. The former shape (mapInPandas rebuild for marked docs UNION a
    passthrough branch) consumed the per-doc marks twice (the whole
    winner aggregation executed once per branch), shuffled the wide doc
    rows through two separate joins, and launched a Python worker stage;
    this shape is one left join + one projection, no Python, no union.
    The Python ``_rebuild_one`` stays as the reference implementation
    (equivalence is test-pinned against it)."""
    out_col = out_col or text_col
    n = int(min_tokens)
    # (round-8 note: persisting the input PRE-PARTITIONED on id_col was
    # tried to save the doc-side join exchange and reverted — under AQE
    # a cached plan's output partitioning is not trusted by
    # EnsureRequirements, so the exchange stayed AND the cache build
    # paid an extra shuffle.)
    df, handle = _ensure_persisted(df)
    marks = duplicate_span_marks(df, id_col, text_col,
                                 min_tokens=n, salt=salt)
    per_doc = (marks.groupBy(id_col)
               .agg(F.sort_array(F.collect_set("pos"))
                    .alias("__starts")))
    handles = [h for h in (handle,
                           getattr(marks, "_ps_persisted_input", None))
               if h is not None]
    # shuffle-hash: the wide doc rows must not be sort-merge sorted
    joined = df.join(per_doc.hint("shuffle_hash"), id_col, "left")

    text = F.col(text_col)
    ts = F.regexp_extract_all(text, F.lit(TOKEN_RE_JAVA), 0)
    ss = F.regexp_extract_all(text, F.lit(f"[{_WS_JAVA}]+"), 0)
    pre = F.when(text.rlike(f"^[{_WS_JAVA}]"), F.lit(1)) \
        .otherwise(F.lit(0))
    # covered token indices: every start expands to [s, s+n) (starts are
    # gram positions, so s + n - 1 < n_tokens by construction)
    cov = F.sort_array(F.array_distinct(F.flatten(F.transform(
        F.col("__starts"), lambda s: F.sequence(s, s + F.lit(n - 1))))))
    # kept token i carries its trailing separator run: 0-based, the run
    # after token i is ss[pre + i] (F.get is out-of-bounds-NULL, unlike
    # ANSI element_at)
    kept_idx = F.filter(
        F.sequence(F.lit(0), F.size(ts) - 1),
        lambda i: ~F.array_contains(F.col("__cov"), i))
    rebuilt_text = F.concat(
        F.when(pre == 1, F.get(ss, F.lit(0))).otherwise(F.lit("")),
        F.array_join(F.transform(
            kept_idx,
            lambda i: F.concat(F.get(ts, i),
                               F.coalesce(F.get(ss, pre + i),
                                          F.lit("")))), ""))
    # runs of covered positions = 1 + (# gaps > 1 between neighbors)
    diffs = F.zip_with(
        F.slice(F.col("__cov"), 2, F.size(F.col("__cov"))),
        F.slice(F.col("__cov"), 1,
                F.greatest(F.size(F.col("__cov")) - 1, F.lit(0))),
        lambda a, b: a - b)
    n_spans = (F.lit(1) + F.size(F.filter(diffs, lambda d: d > 1)))

    marked = F.col("__starts").isNotNull()
    in_names = [f.name for f in joined.schema.fields
                if f.name != "__starts"]
    out_names = list(in_names)
    if out_col not in out_names:
        out_names.append(out_col)
    result = (joined
              .withColumn("__cov", F.when(marked, cov))
              .withColumn(out_col,
                          F.when(marked, rebuilt_text).otherwise(text))
              .withColumn("n_spans_removed",
                          F.when(marked, n_spans)
                          .otherwise(F.lit(0)).cast("long"))
              .withColumn("n_tokens_removed",
                          F.when(marked, F.size(F.col("__cov")))
                          .otherwise(F.lit(0)).cast("long"))
              .select(*out_names, "n_spans_removed", "n_tokens_removed"))
    if handles:
        result._ps_persisted_input = \
            handles if len(handles) > 1 else handles[0]  # noqa: SLF001
    return result
