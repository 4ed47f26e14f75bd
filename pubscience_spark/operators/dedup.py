"""Deduplication operators (X1-X4 + the MinHash/SimHash near-dup tier).

Spark-first design notes:
- exact dedup uses the native ``sha2`` (JVM, codegen) — byte-equal to
  Python's sha256 on UTF-8 text, verified in tests; keep-first keeps
  the minimum of a total order (url / doc_id) per key, since the
  reference's "file order" is not reproducible
  (``deduplicate/deduplicater.py:47-60``, SURVEY.md §2.5);
- near-dup follows shingle → minhash → band → bucket self-join: the
  LSH bands turn an O(n²) similarity search into a shuffle on band keys;
  at 10^12 docs the band key space keeps bucket sizes bounded;
- each function returns a DataFrame and never collects.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, DoubleType, LongType, StringType

from ..kernels import hashing as H


def mark_duplicates(df: DataFrame, key_col: str,
                    order_col: str = "url") -> DataFrame:
    """Adds ``is_duplicate`` instead of dropping (README.md:139 semantics)."""
    w = Window.partitionBy(key_col).orderBy(order_col)
    return df.withColumn(
        "is_duplicate", F.row_number().over(w) > 1)


def _ensure_persisted(df: DataFrame) -> tuple[DataFrame, DataFrame | None]:
    """The slim/wide dual-use pattern feeds ``df`` into BOTH join sides; an
    unpersisted input re-executes its whole upstream (e.g. the mapInPandas
    extraction) once per consumer. Persist inside the operator so callers
    cannot hit double extraction; an already-persisted input is left
    untouched. Returns ``(df, handle)`` — ``handle`` is the DataFrame this
    call persisted (None if the input was already persisted); the operator
    tags it onto its output for :func:`unpersist_input`."""
    lvl = df.storageLevel
    if not (lvl.useMemory or lvl.useDisk):
        from pyspark.storagelevel import StorageLevel
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
        return df, df
    return df, None


def unpersist_input(marked: DataFrame) -> bool:
    """Release the cache an operator such as
    ``mark_duplicates_incremental`` created internally (no-op when the
    caller had persisted the input itself). Call AFTER the terminal action
    on the marked DataFrame — the cache is what keeps the upstream
    extraction from running once per join side. Returns True if a cache
    was released. Operators that persist more than one frame (e.g.
    ``drop_duplicate_spans``: input + grams) tag a LIST of handles."""
    handle = getattr(marked, "_ps_persisted_input", None)
    if handle is None:
        return False
    for h in (handle if isinstance(handle, list) else [handle]):
        h.unpersist()
    return True


def _is_orderable(dt) -> bool:
    """Mirror of Spark's ``RowOrdering.isOrderable``: maps (and types
    containing them) cannot feed ``min(struct(...))``."""
    from pyspark.sql import types as T
    if isinstance(dt, T.MapType):
        return False
    if isinstance(dt, T.ArrayType):
        return _is_orderable(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_is_orderable(f.dataType) for f in dt.fields)
    return True


def _collapse_tuple_copies(marked: DataFrame, tuple_cols: list[str],
                           flag_col: str) -> DataFrame:
    """Rows value-identical on ``tuple_cols`` (the flag join key) are
    indistinguishable to value-based marking — a keeper tuple carried
    by N physical rows would survive N times. Collapse each such group
    to ONE row, deterministically (min over a struct of the remaining
    columns — all column types must be orderable; a non-orderable
    column such as a map raises a NAMED error here at plan-build time
    instead of an opaque analysis failure deep in the aggregate —
    ADVICE r8). The ``__tuple_n``
    column (occurrence count, computed on the slim side) routes the
    overwhelmingly common unique tuples around the wide groupBy, so the
    collapse shuffles only the rare ambiguous rows."""
    clean = marked.where(F.col("__tuple_n") == 1).drop("__tuple_n")
    amb = marked.where(F.col("__tuple_n") > 1).drop("__tuple_n")
    rest = [c for c in clean.columns
            if c not in tuple_cols and c != flag_col]
    bad = [f.name for f in marked.schema.fields
           if f.name in rest and not _is_orderable(f.dataType)]
    if bad:
        raise ValueError(
            "mark_duplicates_incremental: non-key column(s) "
            f"{bad} are not orderable (map-typed), so value-identical "
            "(order_col, keys) tuples cannot be collapsed "
            "deterministically — drop or serialize (to_json) these "
            "columns before marking, or fold them into the key")
    if rest:
        amb = (amb.groupBy(*tuple_cols, flag_col)
               .agg(F.min(F.struct(*rest)).alias("__rest"))
               .select(*tuple_cols, flag_col,
                       *[F.col("__rest").getField(c).alias(c)
                         for c in rest]))
    else:
        amb = amb.distinct()
    return clean.unionByName(amb.select(*clean.columns))


def mark_duplicates_incremental(df: DataFrame, key_cols: list[str],
                                order_col: str = "url",
                                index_df: DataFrame | None = None,
                                flag_col: str = "is_duplicate"
                                ) -> tuple[DataFrame, DataFrame]:
    """OR-combined keep-first duplicate marking over several keys — the
    one exact-key marker, within a run and across runs.

    A row is a duplicate when, for any key, its ``order_col`` is not the
    key's keeper (the minimum ``order_col`` among rows sharing the key).

    Shuffle-lean: naive per-key windows shuffle the FULL rows once per
    key — at 100 TB that is two+ full-data shuffles of multi-KB text
    rows. Here the keepers come from a slim ``(order_col, keys)``
    projection (tens of bytes/row), and a single join on the distinct
    ``(order_col, keys)`` tuple carries the flag back, so the wide rows
    shuffle exactly once. ``order_col`` need not be unique (round-7
    review: the same url re-fetched with a changed body is two distinct
    tuples, each flagged independently); rows fully identical on
    ``(order_col, *key_cols)`` collapse to one deterministic survivor
    via :func:`_collapse_tuple_copies`.

    Across checkpoint-resume runs a reprocessed bucket only sees its own
    rows, so a duplicate whose keeper committed in another bucket would
    go unmarked. ``index_df`` is the persistent keeper index
    ``(key_name, key, keeper)``; committed keepers always win (they are
    already written as non-duplicates and cannot be retracted). With
    ``index_df=None`` every keeper is this run's own.

    Returns ``(marked_df, new_index_rows)`` — append ``new_index_rows`` to
    the index table after the data write commits. Appends may duplicate
    under crash-retry; ``load_keeper_index`` re-aggregates min() on read,
    which keeps the index idempotent. An unpersisted input is persisted
    internally (both join sides read it) — release it with
    :func:`unpersist_input` on ``marked_df`` after the terminal action.
    """
    spark = df.sparkSession
    df, persisted = _ensure_persisted(df)
    # distinct tuples + occurrence count: the flag joins back on the
    # FULL tuple, so a repeated order_col value (same url re-fetched
    # with a changed body in one delta) cannot multiply rows; fully
    # identical tuples collapse deterministically (round-7 review)
    slim = (df.select(order_col, *key_cols)
            .groupBy(order_col, *key_cols)
            .agg(F.count(F.lit(1)).alias("__tuple_n")))
    flag = F.lit(False)
    new_index = None
    for key in key_cols:
        # keeper-per-key via min() agg, NOT a row_number window: min() has
        # map-side partial aggregation, so a viral page duplicated millions
        # of times combines per-mapper instead of sorting one hot partition
        # (windows have no combiner — the 10^12-doc straggler). The join
        # back is slim-vs-tiny; AQE skew-join splits any hot probe key.
        # Keys must be non-null (extraction always emits sha256/dedup_key).
        run_keepers = slim.groupBy(key).agg(
            F.min(order_col).alias("__run_keep"))
        if index_df is not None:
            prior = (index_df.where(F.col("key_name") == key)
                     .select(F.col("key").alias(key),
                             F.col("keeper").alias("__prior_keep")))
            keepers = (run_keepers.join(prior, key, "left")
                       .select(key,
                               F.coalesce("__prior_keep", "__run_keep")
                               .alias(f"__keep_{key}"),
                               F.col("__prior_keep").isNull()
                               .alias("__is_new")))
        else:
            keepers = run_keepers.select(
                key, F.col("__run_keep").alias(f"__keep_{key}"),
                F.lit(True).alias("__is_new"))
        fresh = (keepers.where("__is_new")
                 .select(F.lit(key).alias("key_name"),
                         F.col(key).cast("string").alias("key"),
                         F.col(f"__keep_{key}").alias("keeper")))
        new_index = fresh if new_index is None else new_index.unionByName(fresh)
        slim = slim.join(keepers.drop("__is_new"), key)
        flag = flag | (F.col(order_col) != F.col(f"__keep_{key}"))
    flags = slim.select(order_col, *key_cols, "__tuple_n",
                        flag.alias(flag_col))
    # shuffle-hash join, building on the slim flags side: SMJ would SORT the
    # wide rows (as costly as the per-key shuffles this function removes)
    marked = df.join(flags.hint("shuffle_hash"),
                     [order_col, *key_cols])
    marked = _collapse_tuple_copies(marked, [order_col, *key_cols],
                                    flag_col)
    marked._ps_persisted_input = persisted
    if new_index is None:
        new_index = spark.createDataFrame(
            [], "key_name string, key string, keeper string")
    return marked, new_index


def _read_index_or_none(spark, path: str) -> DataFrame | None:
    """Shared loader guard: ONLY a missing path (or a directory with no
    parquet files yet — the crash-orphaned empty-dir state, surfaced as
    UNABLE_TO_INFER_SCHEMA) means "no index yet". A transient
    storage/permission failure or corrupted parquet used to be
    swallowed as 'no index', silently resetting the cross-run dedup
    guarantee (boilerplate committed by earlier runs re-kept) — genuine
    read failures must propagate (ADVICE r8)."""
    from pyspark.errors import AnalysisException
    try:
        return spark.read.parquet(path)
    except AnalysisException as e:
        cond = ""
        for attr in ("getCondition", "getErrorClass"):
            fn = getattr(e, attr, None)
            if fn is not None:
                try:
                    cond = fn() or ""
                    break
                except Exception:
                    pass
        blob = cond + " " + str(e)
        if "PATH_NOT_FOUND" in blob or "UNABLE_TO_INFER_SCHEMA" in blob:
            return None
        raise


def _check_index_params(index_df: DataFrame, who: str, expected: dict,
                        legacy_defaults: dict | None = None) -> None:
    """Refuse a cross-run index built at other parameters: its keys are
    incomparable with this run's, so the equi-join would silently stop
    matching and prior duplicates would pass unflagged (round-5 review).

    ``expected`` maps each parameter name to ``(source, value)``: the
    index column (name or Column expression) and this run's value. A
    missing column reads as its ``legacy_defaults`` entry, or is refused
    with a rebuild error when it has none. The probe reads DISTINCT
    tuples, not ``.first()``, so an index unioned from runs with mixed
    parameters fails too (ADVICE r6); ``limit(2)`` keeps it O(1)."""
    legacy_defaults = legacy_defaults or {}
    cols = set(index_df.columns)
    probe_cols = []
    for name, (src, _) in expected.items():
        if isinstance(src, str):
            if src in cols:
                src = F.col(src)
            elif name in legacy_defaults:
                src = F.lit(legacy_defaults[name])
            else:
                raise ValueError(
                    f"{who}: index has no {name!r} column — it was "
                    "written in an older format whose keys never match "
                    "this run's; rebuild the index")
        probe_cols.append(src.alias(name))
    probes = (index_df.select(*probe_cols)
              .distinct().limit(2).collect())
    if len(probes) > 1:
        raise ValueError(
            f"{who}: index holds rows built at MIXED parameters "
            f"({[tuple(p) for p in probes]} …) — it was likely assembled "
            "by unioning incompatible runs; rebuild it at one "
            f"({', '.join(expected)}) tuple")
    if probes and any(probes[0][n] != v
                      for n, (_, v) in expected.items()):
        built = ", ".join(f"{n}={probes[0][n]!r}" for n in expected)
        uses = ", ".join(f"{n}={v!r}" for n, (_, v) in expected.items())
        raise ValueError(
            f"{who}: index was built at {built} but this run uses "
            f"{uses} — keys are incomparable across parameter changes; "
            "rebuild the index")


def load_keeper_index(spark, path: str) -> DataFrame | None:
    """Read the keeper index, re-aggregated so duplicate appends (crash
    retries) collapse to one deterministic keeper per key."""
    raw = _read_index_or_none(spark, path)
    if raw is None:
        return None
    return raw.groupBy("key_name", "key").agg(F.min("keeper").alias("keeper"))


def minhash_index_udf(num_perm: int = 128, bands: int = 16, k: int = 3,
                      seed: int = 42):
    """Factory: text → struct(sig array<long>, bands array<string>) in
    one Arrow pass (the incremental near-dup index needs both)."""
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("sig", ArrayType(LongType())),
        StructField("bands", ArrayType(StringType())),
    ])

    @pandas_udf(schema)
    def _index(s: pd.Series) -> pd.DataFrame:
        sigs, bnds = [], []
        for t in s:
            sig = H.minhash_signature(t or "", num_perm=num_perm, k=k,
                                      seed=seed)
            sigs.append([int(v) for v in sig])
            bnds.append(H.minhash_bands(sig, bands=bands))
        return pd.DataFrame({"sig": sigs, "bands": bnds})

    return _index


def minhash_neardup_incremental(df: DataFrame, id_col: str,
                                text_col: str = "text", *,
                                threshold: float = 0.8,
                                num_perm: int = 128, bands: int = 16,
                                k: int = 3, seed: int = 42,
                                index_df: DataFrame | None = None,
                                flag_col: str = "is_neardup"
                                ) -> tuple[DataFrame, DataFrame]:
    """Near-dup marking that honors documents committed by EARLIER runs
    — the fuzzy analog of :func:`mark_duplicates_incremental`.

    ``index_df`` is the persistent signature index ``(doc_id string,
    sig array<long>, bands array<string>, k int, seed int, band_fmt
    string)`` holding every previously KEPT document (~1 KB/doc at
    num_perm=128 — signatures, never text; k/seed/band_fmt are
    build-parameter metadata for the mismatch fail-fast,
    :func:`_check_index_params`).
    A new document is flagged when it near-matches a prior document
    (LSH band collision → signature-agreement fraction ≥ ``threshold``,
    the datasketch criterion; prior text is gone so exact Jaccard is
    not available — signature agreement is an unbiased estimator of
    it) or a lower-id document of its own run (the exact-verified
    in-run path, :func:`minhash_neardup`).

    Returns ``(marked_df, new_index_rows)`` — append the new rows (the
    run's SURVIVORS only, so the index stays dup-free) after the data
    write commits. Scale shape: band-exploded equi-join against the
    index (slim ids + band strings), signatures joined in only for the
    candidate pairs."""
    if index_df is not None:
        # k and seed change the SIGNATURES without changing array sizes,
        # and band_fmt names the band key format — they ride the index as
        # metadata columns (ADVICE r5, r8). Indexes written before round
        # 6 lack k/seed and are read at the historical defaults k=3,
        # seed=42; one without band_fmt predates the uint64 band keys and
        # is refused
        _check_index_params(
            index_df, "minhash_neardup_incremental",
            {"num_perm": (F.size("sig"), num_perm),
             "bands": (F.size("bands"), bands),
             "k": ("k", k), "seed": ("seed", seed),
             "band_fmt": ("band_fmt", H.BAND_FMT)},
            legacy_defaults={"k": 3, "seed": 42})
    udf = minhash_index_udf(num_perm=num_perm, bands=bands, k=k,
                            seed=seed)
    from pyspark.storagelevel import StorageLevel

    from .util import spread
    withsig = (spread(df).withColumn("__mi", udf(F.col(text_col)))
               .withColumn("__sig", F.col("__mi.sig"))
               .withColumn("__bands", F.col("__mi.bands"))
               .drop("__mi")
               .persist(StorageLevel.MEMORY_AND_DISK))

    # in-run pairs (exact-verified, same semantics as minhash_neardup)
    # built from the ALREADY-computed bands — signatures are hashed
    # once per doc, not once per tier
    banded = withsig.select(F.col(id_col).alias("id"),
                            F.explode("__bands").alias("band"))
    cand_pairs = (banded.alias("x").join(banded.alias("y"), "band")
                  .where(F.col("x.id") < F.col("y.id"))
                  .select(F.col("x.id").alias("id_a"),
                          F.col("y.id").alias("id_b")).distinct())
    pairs = _verified_pairs(cand_pairs, withsig.select(
        F.col(id_col).alias("id"), F.col(text_col).alias("t")), threshold)
    run_dups = pairs.select(F.col("id_b").alias(id_col)).distinct()

    if index_df is not None:
        new_b = (withsig.select(F.col(id_col), F.col("__sig"),
                                F.explode("__bands").alias("__band")))
        prior_b = (index_df.select(
            F.col("doc_id").alias("__prior"),
            F.col("sig").alias("__psig"),
            F.explode("bands").alias("__band")))
        cand = (new_b.join(prior_b, "__band")
                .select(id_col, "__sig", "__prior", "__psig")
                .dropDuplicates([id_col, "__prior"]))
        agree = (F.size(F.filter(
            F.zip_with("__sig", "__psig", lambda a, b: a == b),
            lambda v: v)) / F.size("__sig"))
        prior_dups = (cand.where(agree >= F.lit(threshold))
                      .select(id_col).distinct())
        run_dups = run_dups.unionByName(prior_dups).distinct()

    flags = run_dups.withColumn(flag_col, F.lit(True))
    marked = (withsig.join(flags, id_col, "left")
              .withColumn(flag_col, F.coalesce(flag_col, F.lit(False))))
    # string ids, like the exact keeper index — a long cast would throw
    # (ANSI) or NULL out (legacy) on non-numeric doc ids, and the index
    # id is only an identity, never joined back numerically
    new_index = (marked.where(~F.col(flag_col))
                 .select(F.col(id_col).cast("string").alias("doc_id"),
                         F.col("__sig").alias("sig"),
                         F.col("__bands").alias("bands"),
                         F.lit(k).alias("k"),
                         F.lit(seed).alias("seed"),
                         F.lit(H.BAND_FMT).alias("band_fmt")))
    marked = marked.drop("__sig", "__bands")
    marked._ps_persisted_input = withsig
    return marked, new_index


def load_minhash_index(spark, path: str) -> DataFrame | None:
    """Read the near-dup signature index; duplicate appends (crash
    retries) collapse to one row per doc. Missing path → None; real
    read failures propagate (see :func:`_read_index_or_none`)."""
    raw = _read_index_or_none(spark, path)
    if raw is None:
        return None
    return raw.dropDuplicates(["doc_id"])


def minhash_bands_udf(num_perm: int = 128, bands: int = 16, k: int = 3,
                      seed: int = 42):
    """Factory: banding is tuned to the target threshold t ≈ (1/b)^(b/n)
    — more bands / fewer rows per band raises recall at low thresholds
    (candidates are exact-verified afterwards, so extra bands only cost
    candidate volume, never precision)."""
    @pandas_udf(ArrayType(StringType()))
    def _bands(s: pd.Series) -> pd.Series:
        return s.map(lambda t: H.minhash_bands(
            H.minhash_signature(t or "", num_perm=num_perm, k=k, seed=seed),
            bands=bands))
    return _bands


_minhash_bands_udf = minhash_bands_udf()


@pandas_udf(LongType())
def _simhash_udf(s: pd.Series) -> pd.Series:
    # store as signed 64-bit (two's complement view of the unsigned hash)
    def _h(t):
        v = H.simhash(t or "")
        return v - (1 << 64) if v >= (1 << 63) else v
    return s.map(_h)


def minhash_candidates(df: DataFrame, id_col: str,
                       text_col: str = "text",
                       bands: int = 16, num_perm: int = 128) -> DataFrame:
    """Candidate near-dup pairs (id_a < id_b) via MinHash LSH band buckets.

    Pure DataFrame plan: bands explode → self-join on band key → distinct
    pairs. The shuffle key is the band hash — uniformly distributed, so no
    salting needed here.

    **Candidate-volume math:** unlike fixed-width sign-LSH, the band key
    space here is the full hash range — for DISSIMILAR docs the collision
    probability per band is ``t^r`` at Jaccard t (r = num_perm/bands
    rows per band), so expected candidates ≈ ``C(n,2)·Σ_t P(t)·
    (1-(1-t^r)^bands)`` — driven by the corpus's similarity structure,
    not by a bucket-count cap. The failure mode is EXACT duplicates
    (identical signatures, all bands collide): m copies of one page
    produce m²/2 candidates per band. Run exact dedup (sha256) BEFORE
    near-dup — the curation plan does (plans/curation.py) — so viral
    duplicates never reach this join.
    """
    from .util import spread
    udf = (_minhash_bands_udf if (bands, num_perm) == (16, 128)
           else minhash_bands_udf(num_perm=num_perm, bands=bands))
    slim = spread(df.select(F.col(id_col).alias("id"),
                            F.col(text_col).alias("t")))
    banded = (slim.withColumn("band", F.explode(udf(F.col("t"))))
              .select("id", "band"))
    # banded feeds BOTH sides of the self-join; without a persist the
    # signature pUDF (128 perms per doc) runs twice (round-8 plan audit:
    # two ArrowEvalPython subtrees over the same scan). Slim (id, band)
    # rows only — bands × rows, tens of bytes each.
    from pyspark.storagelevel import StorageLevel
    banded = banded.persist(StorageLevel.MEMORY_AND_DISK)
    a = banded.alias("a")
    b = banded.alias("b")
    out = (a.join(b, (F.col("a.band") == F.col("b.band"))
                  & (F.col("a.id") < F.col("b.id")))
           .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
           .distinct())
    out._ps_persisted_input = banded  # noqa: SLF001
    return out


@pandas_udf(DoubleType())
def _jaccard_pair_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
    return pd.Series([H.jaccard(x or "", y or "") for x, y in zip(ta, tb)])


# filter-over-UDF-column plans evaluate a deterministic UDF TWICE (once
# under the pushed filter, once in the projection — optimization guide
# §4.4); the function is pure, the marker only blocks the optimizer from
# duplicating it
_jaccard_pair_udf_1pass = _jaccard_pair_udf.asNondeterministic()


def _verified_pairs(cands: DataFrame, texts: DataFrame,
                    threshold: float) -> DataFrame:
    """Exact Jaccard verification of candidate pairs ``(id_a, id_b)``
    against ``texts (id, t)``: texts are fetched via two joins so only
    candidate rows move; keeps pairs with ``jaccard >= threshold``."""
    return (cands
            .join(texts.withColumnRenamed("id", "id_a")
                  .withColumnRenamed("t", "t_a"), "id_a")
            .join(texts.withColumnRenamed("id", "id_b")
                  .withColumnRenamed("t", "t_b"), "id_b")
            .withColumn("jaccard", _jaccard_pair_udf_1pass(F.col("t_a"),
                                                           F.col("t_b")))
            .where(F.col("jaccard") >= threshold))


def minhash_neardup(df: DataFrame, id_col: str, text_col: str = "text",
                    threshold: float = 0.8, bands: int = 16,
                    num_perm: int = 128) -> DataFrame:
    """Near-dup pairs with exact Jaccard verification of LSH candidates.

    Returns (id_a, id_b, jaccard). The verify join broadcasts nothing —
    both sides repartition on id; texts are fetched via two joins so only
    candidate rows move. Pick ``bands`` for the threshold: recall at
    Jaccard=t is 1-(1-t^(num_perm/bands))^bands."""
    cands = minhash_candidates(df, id_col, text_col, bands=bands,
                               num_perm=num_perm)
    out = _verified_pairs(cands, df.select(F.col(id_col).alias("id"),
                                           F.col(text_col).alias("t")),
                          threshold).select("id_a", "id_b", "jaccard")
    handle = getattr(cands, "_ps_persisted_input", None)
    if handle is not None:
        out._ps_persisted_input = handle  # noqa: SLF001
    return out


def simhash_keys(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Adds a ``simhash`` column (64-bit signed)."""
    return df.withColumn("simhash", _simhash_udf(F.col(text_col)))


def simhash_neardup(df: DataFrame, id_col: str, text_col: str = "text",
                    max_hamming: int = 3, chunks: int = 4,
                    n_rows: int | None = None,
                    keys_df: DataFrame | None = None,
                    keep_keys: bool = False) -> DataFrame:
    """SimHash hamming-neighbor pairs: band the 64-bit key into ``chunks``
    equal bit-slices, self-join on (chunk index, slice value), verify
    ``bit_count(a XOR b) <= max_hamming`` on candidates.

    RECALL IS EXACT when ``max_hamming < chunks`` (pigeonhole: two keys
    within hamming r differ in at most r slices, so at least one of the
    ``chunks`` slices is equal) — unlike MinHash banding, this candidate
    step provably loses nothing. The shuffle key is a slice value:
    uniformly distributed for hash-like keys, so no salting needed.
    Everything after the pUDF signature is JVM codegen (shiftright/xor/
    bit_count) — no Python in the join or verify.

    **Candidate-volume math (round-2 footgun):** the join key is a
    COMBINATION of ``q = chunks - max_hamming`` slices (pigeonhole: a
    pair within hamming r differs in ≤ r slices, so some q-subset of
    slices agrees entirely), giving ``2^(q·64/chunks)`` buckets per
    combination at a ``C(chunks, q)``-fold explode of the slim keys.
    The default (``chunks = max_hamming + 1``) has q = 1 — the classic
    single-slice join, 2¹⁶ buckets, safe to n ≈ 6·10⁸ (10⁴-row
    buckets). Past that, RAISE ``chunks``: with q > 1 the composite
    keys widen — ``chunks=8, max_hamming=3`` → q=5, 56 combinations,
    2⁴⁰ buckets — recall still exactly 1. Expected candidates per
    combination ≈ ``n²/(2·2^(q·64/chunks))``; pass ``n_rows`` to get a
    capacity warning when the chosen shape degenerates.
    """
    from .util import warn_band_capacity
    if max_hamming >= chunks:
        raise ValueError("exact recall needs max_hamming < chunks")
    width = 64 // chunks
    q = chunks - max_hamming
    if q * width > 62:
        raise ValueError("composite key exceeds 62 bits — lower chunks")
    import itertools
    combos = list(itertools.combinations(range(chunks), q))
    warn_band_capacity(n_rows, 2 ** (q * width),
                       "simhash_neardup", "chunks")
    from .util import spread
    if keys_df is not None:
        # precomputed (id_col, simhash) keys — callers that already ran
        # simhash_keys skip a second pUDF pass over the corpus
        keyed = keys_df.select(F.col(id_col).alias("id"),
                               F.col("simhash").alias("sim"))
    else:
        keyed = (spread(df.select(F.col(id_col).alias("id"),
                                  F.col(text_col).alias("t")))
                 .withColumn("sim", _simhash_udf(F.col("t"))).drop("t"))

    def _slice(i: int) -> str:
        return f"(shiftright(sim, {i * width}) & {(1 << width) - 1}L)"

    combo_structs = ", ".join(
        "named_struct('ci', {j}, 'cv', cast({expr} as bigint))".format(
            j=j, expr=" + ".join(f"({_slice(i)} * {1 << (k * width)}L)"
                                 for k, i in enumerate(combo)))
        for j, combo in enumerate(combos))
    sliced = (keyed
              .withColumn("ck", F.explode(F.expr(f"array({combo_structs})")))
              .select("id", "sim", F.col("ck.ci").alias("chunk_idx"),
                      F.col("ck.cv").alias("chunk_val")))
    a, b = sliced.alias("a"), sliced.alias("b")
    cands = (a.join(b, (F.col("a.chunk_idx") == F.col("b.chunk_idx"))
                    & (F.col("a.chunk_val") == F.col("b.chunk_val"))
                    & (F.col("a.id") < F.col("b.id")))
             .select(F.col("a.id").alias("id_a"),
                     F.col("b.id").alias("id_b"),
                     F.col("a.sim").alias("sim_a"),
                     F.col("b.sim").alias("sim_b"))
             .distinct())
    ham = F.bit_count(F.col("sim_a").bitwiseXOR(F.col("sim_b")))
    out = (cands.withColumn("hamming", ham.cast("long"))
           .where(F.col("hamming") <= max_hamming))
    if keep_keys:
        # the candidate rows already carry both 64-bit keys — emitting
        # them here saves callers two joins back to the key frame
        # (round 8: q_simhash_neardup re-joined keys twice for values
        # the self-join had just compared)
        return out.select("id_a", "id_b", "hamming",
                          F.col("sim_a").alias("simhash_a"),
                          F.col("sim_b").alias("simhash_b"))
    return out.select("id_a", "id_b", "hamming")


def ngram_jaccard_pairs(df: DataFrame, id_col: str, text_col: str = "text",
                        k: int = 3) -> DataFrame:
    """Exact n-gram Jaccard for *adjacent-id* pairs — the linear-cost oracle
    shape (full pairwise is what MinHash LSH avoids at scale)."""
    a = df.select(F.col(id_col).alias("id_a"), F.col(text_col).alias("t_a"))
    b = df.select((F.col(id_col) - 1).alias("id_a"),
                  F.col(id_col).alias("id_b"), F.col(text_col).alias("t_b"))
    pairs = a.join(b, "id_a")
    return (pairs.withColumn("jaccard",
                             _jaccard_pair_udf(F.col("t_a"), F.col("t_b")))
            .select("id_a", "id_b", "jaccard"))


# --------------------------------------------------------------------------
# paragraph-level corpus dedup (C4 / RefinedWeb / Dolma recipe)
# --------------------------------------------------------------------------

def paragraph_dedup_incremental(df: DataFrame, id_col: str = "doc_id",
                                text_col: str = "text", *,
                                sep: str = "\n\n", min_chars: int = 30,
                                normalize: bool = True, salt: int = 8,
                                index_df: DataFrame | None = None,
                                out_col: str | None = None
                                ) -> tuple[DataFrame, DataFrame]:
    """Corpus-wide paragraph dedup: any paragraph whose (normalized)
    content already appeared earlier — in this run or in a run committed
    to ``index_df`` — keeps only its FIRST occurrence (ordered by
    ``(id_col, paragraph index)``); every document is then reassembled
    from its surviving paragraphs in original order. The
    C4/RefinedWeb/Dolma line-level recipe — it kills boilerplate that
    repeats across pages (cookie banners, nav footers, license blocks)
    which document-level dedup cannot see.

    Paragraphs shorter than ``min_chars`` are exempt (always kept):
    short connectives ("Introduction", "1.") legitimately repeat and
    deduping them mangles documents. ``normalize=True`` keys on the
    lowercased whitespace-collapsed form (C4 practice) while emitting
    the ORIGINAL paragraph text.

    Scale shape (all native, no Python): posexplode → paired
    independent xxhash64 keys (128-bit effective — a single 64-bit key
    has ~50% birthday-collision odds at ~5e9 distinct paragraphs, which
    would silently drop non-duplicates; round-4 review) → per-key
    ``min(struct(doc, idx))`` winner aggregation (map-side combine,
    hot-key safe — the viral-footer key collapses to one row per
    partition before the shuffle) → SALTED equi-join winners back on
    the hash pair: the winner side is one row per key, so it is
    replicated across ``salt`` shards while each paragraph occurrence
    picks a deterministic shard — a viral footer's occurrences spread
    over ``salt`` join partitions instead of one (skew-proof without
    relying on AQE skew-split) → groupBy doc +
    ``array_sort(collect_list)`` reassembly. Two shuffles of
    paragraph-sized rows total; the winner frame that joins against
    them is (hash pair, winner-struct) slim — ×``salt`` replication of
    slim rows is the price of the even spread. ``salt=1`` disables.

    Across runs (VERDICT r6 #6: without the index,
    ``run_incremental_curated``'s paragraph winners reset every run and
    a mirror paragraph arriving one run later is kept), ``index_df`` is
    the persistent winner index ``(key long, key2 long, d string, i int,
    min_chars int, normalize boolean, sep string)``: the 128-bit paired
    paragraph keys every previous run KEPT, plus the winner's identity —
    so a crash-retry that re-marks its own batch still keeps the SAME
    winner occurrence (prior wins by identity, not by dropping
    everything known) — plus the build parameters as metadata for the
    mismatch fail-fast (keys built at a different
    ``normalize``/``min_chars``/``sep`` are incomparable,
    :func:`_check_index_params`). ``index_df=None`` dedups within the
    run only.

    Returns ``(result_df, new_index_rows)``. ``result_df`` holds
    ``id_col`` plus the deduped text (``out_col``, default
    ``text_col``) and ``n_paras_kept`` / ``n_paras_dropped`` counters.
    Append the new index rows AFTER (or, for the crash-safe streaming
    order, BEFORE) the data write commits. Duplicate appends are
    harmless: rows are fully deterministic and
    :func:`load_paragraph_index` de-duplicates on read. Winner doc ids
    are stored as STRING (cross-run schema stability); prior-winner
    matching is by string equality, while within-run winner ORDERING
    stays on the native id type. An unpersisted input is persisted
    internally — release it with :func:`unpersist_input` on
    ``result_df`` after the terminal action.

    The identity match is how a crash-RETRY keeps its own winner — so
    ``id_col`` values must be unique PER INGESTION EVENT. If the same
    logical id can legitimately re-appear in a later run (a re-crawled
    url whose body changed), key on something ingestion-unique (e.g.
    ``url#batch_id``, as ``run_incremental_curated`` does) or the
    re-appearance is mistaken for a retry and keeps its boilerplate
    (round-7 review)."""
    out_col = out_col or text_col
    n_salt = max(1, int(salt))
    if index_df is not None:
        _check_index_params(
            index_df, "paragraph_dedup_incremental",
            {"min_chars": ("min_chars", min_chars),
             "normalize": ("normalize", normalize),
             "sep": ("sep", sep)})
    df, persisted = _ensure_persisted(df)
    paras = df.select(
        F.col(id_col).alias("__doc"),
        F.posexplode(F.split(F.col(text_col), F.lit(sep)))
        .alias("__idx", "__para"))
    norm = F.lower(F.regexp_replace(F.trim(F.col("__para")),
                                    r"\s+", " ")) if normalize \
        else F.col("__para")
    is_short = F.length(F.trim(F.col("__para"))) < min_chars
    paras = (paras
             .withColumn("__key", F.when(is_short, F.lit(None))
                         .otherwise(F.xxhash64(norm)))
             .withColumn("__key2", F.when(is_short, F.lit(None))
                         .otherwise(F.xxhash64(F.lit(0x9E3779B9), norm))))
    # exempt (short) paragraphs bypass the join entirely — joining them
    # with a NULL key would funnel every short paragraph in the corpus
    # into the single hash(NULL) partition (skew trap)
    keyed = paras.where(F.col("__key").isNotNull())
    exempt = paras.where(F.col("__key").isNull())
    run_winners = (keyed.groupBy("__key", "__key2")
                   .agg(F.min(F.struct(F.col("__doc").alias("d"),
                                       F.col("__idx").alias("i")))
                        .alias("__w")))
    if index_df is not None:
        prior = index_df.select(
            F.col("key").alias("__key"), F.col("key2").alias("__key2"),
            F.struct(F.col("d"), F.col("i")).alias("__pw"))
        run_winners = run_winners.join(prior, ["__key", "__key2"],
                                       "left")
    else:
        run_winners = run_winners.withColumn(
            "__pw", F.lit(None).cast("struct<d:string,i:int>"))
    new_index = (run_winners.where(F.col("__pw").isNull())
                 .select(F.col("__key").alias("key"),
                         F.col("__key2").alias("key2"),
                         F.col("__w.d").cast("string").alias("d"),
                         F.col("__w.i").cast("int").alias("i"),
                         F.lit(int(min_chars)).alias("min_chars"),
                         F.lit(bool(normalize)).alias("normalize"),
                         F.lit(sep).alias("sep")))
    keyed = keyed.withColumn(
        "__salt",
        F.pmod(F.xxhash64(F.col("__doc"), F.col("__idx")),
               F.lit(n_salt)).cast("int"))
    winners = run_winners.withColumn(
        "__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    is_winner = F.when(
        F.col("__pw").isNotNull(),
        (F.col("__doc").cast("string") == F.col("__pw.d"))
        & (F.col("__idx") == F.col("__pw.i"))).otherwise(
        (F.col("__w.d") == F.col("__doc"))
        & (F.col("__w.i") == F.col("__idx")))
    kept = (keyed.join(winners, ["__key", "__key2", "__salt"])
            .where(is_winner)
            .drop("__w", "__pw", "__salt")
            .unionByName(exempt))
    # order-restoring reassembly + counters
    packed = F.array_sort(F.collect_list(
        F.struct(F.col("__idx").alias("i"), F.col("__para").alias("p"))))
    result = (kept.groupBy(F.col("__doc").alias(id_col))
              .agg(F.array_join(F.transform(packed, lambda s: s["p"]),
                                sep).alias(out_col),
                   F.count(F.lit(1)).cast("long").alias("n_paras_kept"))
              .join(df.select(F.col(id_col),
                              F.size(F.split(F.col(text_col), F.lit(sep)))
                              .cast("long").alias("__n_in")),
                    id_col, "right")
              .withColumn("n_paras_kept",
                          F.coalesce("n_paras_kept", F.lit(0)))
              .withColumn("n_paras_dropped",
                          F.col("__n_in") - F.col("n_paras_kept"))
              .withColumn(out_col, F.coalesce(out_col, F.lit("")))
              .drop("__n_in"))
    result._ps_persisted_input = persisted  # noqa: SLF001
    return result, new_index


def load_paragraph_index(spark, path: str) -> DataFrame | None:
    """Read the paragraph winner index; duplicate crash-retry appends
    collapse via distinct() (rows are fully deterministic). Missing
    path → None; real read failures propagate (see
    :func:`_read_index_or_none`)."""
    raw = _read_index_or_none(spark, path)
    if raw is None:
        return None
    return raw.distinct()
