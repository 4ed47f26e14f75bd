"""Shared operator utilities."""

from __future__ import annotations

import warnings

from pyspark.sql import DataFrame


def spread(df: DataFrame, min_ratio: float = 0.5) -> DataFrame:
    """Ensure a UDF-heavy stage gets cluster-wide parallelism.

    Small inputs (a single parquet file under ``maxPartitionBytes``) arrive
    as ONE scan split, which would run every Arrow batch on one core —
    measured 10× battery slowdowns on the fixture tables. When the plan has
    fewer partitions than ``min_ratio × defaultParallelism``, round-robin
    repartition to the default parallelism; on production inputs (thousands
    of splits) this is a no-op, so no gratuitous shuffle at scale.

    The probe is the exact RDD partition count. A file-count shortcut
    (``inputFiles()``) was tried in round 3 and reverted as unsound:
    Spark bin-packs small files into scan splits, so many files does
    NOT imply many partitions, and an under-parallel UDF stage costs
    10× while the rdd probe costs only planning time on a slim
    projection. Only spread SLIM projections; the shuffle moves
    whatever columns the frame carries.

    The probe result is MEMOIZED per (application id, analyzed-plan
    semantic hash, input file list, target): ``df.rdd`` pays a full physical
    planning + RDD conversion round-trip (~40-800 ms of driver time,
    round-8 measurement) and repeated invocations of the same query
    re-probe an identical frame every time. Same logical plan over the
    same files in the same application splits identically, so the cached
    count is exact. (A file overwritten in-place with a different size
    mid-session would go stale — inputs here are immutable runs.)
    """
    sess = df.sparkSession
    target = sess.sparkContext.defaultParallelism
    thresh = max(1, int(target * min_ratio))
    key = None
    try:
        # the application id, not id(sess): a new session can reuse a
        # stopped one's address, but never its application id
        key = (sess.sparkContext.applicationId,
               df._jdf.queryExecution().analyzed().semanticHash(),
               tuple(df.inputFiles()), target)
    except Exception:
        pass
    n = _SPREAD_MEMO.get(key) if key is not None else None
    if n is None:
        n = df.rdd.getNumPartitions()
        if key is not None:
            if len(_SPREAD_MEMO) > 4096:
                _SPREAD_MEMO.clear()
            _SPREAD_MEMO[key] = n
    if n < thresh:
        return df.repartition(target)
    return df


_SPREAD_MEMO: dict = {}


# Expected rows per LSH band bucket above which the candidate self-join
# starts degenerating toward all-pairs (m rows in a bucket → ~m²/2 pairs).
BAND_BUCKET_WARN_ROWS = 10_000


def warn_band_capacity(n_rows: int | None, n_buckets: int, op: str,
                       knob: str) -> float | None:
    """Candidate-volume guard for banded self-joins.

    With ``n_rows`` hashed uniformly into ``n_buckets`` buckets per band,
    the expected bucket holds ``n/k`` rows and each band contributes
    ``≈ n²/(2k)`` candidate pairs. When the expected bucket size crosses
    :data:`BAND_BUCKET_WARN_ROWS`, the banding no longer bounds the join
    (the round-2 footgun: ``band_bits=4`` → 16 buckets at n ≫ 10⁶ is
    effectively all-pairs) — warn with the knob to raise. Returns the
    expected bucket size (None when ``n_rows`` is unknown)."""
    if n_rows is None:
        return None
    expected = n_rows / max(1, n_buckets)
    if expected > BAND_BUCKET_WARN_ROWS:
        warnings.warn(
            f"{op}: expected ~{expected:,.0f} rows per band bucket "
            f"(n={n_rows:,}, {n_buckets:,} buckets/band) — the candidate "
            f"self-join degenerates toward all-pairs "
            f"(~n²/2k ≈ {n_rows * n_rows / (2 * max(1, n_buckets)):.2g} "
            f"pairs per band). Raise {knob}.",
            RuntimeWarning, stacklevel=3)
    return expected
