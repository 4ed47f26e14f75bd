"""The end-to-end extraction pipeline (SURVEY.md §7.1 DAG).

    pages(url, warc_ts, html, text, lang)
      └─ resume gate: anti-join vs committed lineage buckets      [R1-R3]
      └─ salted size-balanced repartition over url-hash           [north rule]
      └─ mapInPandas extract (html | pubmed-xml | pdf routes)     [H*,B*,C*,P*]
      └─ language gate (input col ∥ seeded detector)              [F8]
      └─ dedup keys + keep-first duplicate marking                [X1,X2]
      └─ write extracted, partitioned by bucket(url)
      └─ lineage rows (bucket, row_count, checksum, wall_time)    [R4]

Commit protocol (Iceberg-analog on plain parquet): extracted data for a
bucket is visible only once its lineage row exists — lineage is written
last (write-at-end-marks-success, ``extractor/parse.py:75-79`` analog).
Resume anti-joins the lineage table, so re-running after a crash reprocesses
only uncommitted buckets; dynamic partition overwrite makes that idempotent.

Scale notes:
- the bucket id is ``pmod(xxhash64(url, SALT), n_buckets)`` and the
  extraction shuffle hashes ``xxhash64(url, SALT)`` itself — url hashing
  defeats domain skew (Zipf hosts), the salt constant decorrelates this
  shuffle from any earlier url-hash partitioning. Shuffling on the bucket
  id instead would hash the ids 0..n−1 a second time and collide them
  (16 buckets land on 10 partitions);
- ``n_buckets`` targets ~BYTES_PER_BUCKET of html per bucket, computed from
  a cheap (count, sum(length)) pre-agg — size-balanced partitions instead
  of file-boundary skew (the reference's per-file fan-out problem,
  BASELINE.md "parallelism model");
- AQE re-coalesces post-filter partitions at runtime.
"""

from __future__ import annotations

import math
import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup as dedup_ops
from ..operators.extract import extract_pages

SALT = 0x5CA1AB1E
BYTES_PER_BUCKET = 64 * 1024 * 1024  # ~64 MB of raw html per bucket


def url_hash():
    return F.xxhash64(F.col("url"), F.lit(SALT))


def bucket_col(n_buckets: int):
    return F.pmod(url_hash(), F.lit(n_buckets))


def extraction_input(pages: DataFrame, n_buckets: int) -> DataFrame:
    """The extraction UDF's input: one size-balanced shuffle into
    ``n_buckets`` partitions over the salted url hash. A bucket may span
    partitions; the dedup join reshuffles before the bucketed write."""
    return pages.repartition(n_buckets, url_hash())


def plan_buckets(pages: DataFrame, target_bytes: int = BYTES_PER_BUCKET,
                 min_buckets: int | None = None) -> int:
    """Size-balanced bucket count from a cheap pre-agg."""
    row = pages.select(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.length("html")).alias("b")).collect()[0]
    total = row["b"] or 0
    if min_buckets is None:
        min_buckets = pages.sparkSession.sparkContext.defaultParallelism
    return max(min_buckets, math.ceil(total / target_bytes))


def lineage_checksum():
    """Per-bucket content checksum: Σcrc32(url|sha256). Order-free, so the
    lineage writers and the audit (``tools/audit_lineage.py``) agree on
    any row order."""
    return F.sum(F.crc32(F.concat_ws("|", "url", "sha256")))


def lineage_rows(df: DataFrame) -> DataFrame:
    """One lineage row per bucket of an extracted frame, in the layout
    both batch and streaming (which adds ``batch_id``) write.
    ``dup_count`` is NULL when ``df`` has no ``is_duplicate`` flag."""
    if "is_duplicate" in df.columns:
        dups = F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0))
    else:
        dups = F.lit(None).cast("long")
    return (df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("row_count"),
        dups.alias("dup_count"),
        F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
        .alias("error_count"),
        lineage_checksum().alias("checksum"),
        F.sum("cpu_seconds").alias("wall_time_s"))
        .withColumn("input_split",
                    F.concat(F.lit("bucket="), F.col("bucket")))
        .withColumn("committed_at", F.current_timestamp()))


def committed_buckets(spark: SparkSession, lineage_path: str) -> DataFrame | None:
    """Buckets whose lineage row exists (= committed). Missing/empty
    lineage → None (nothing committed yet); a genuine read failure
    propagates — treating it as "nothing committed" would silently
    reprocess every bucket (idempotent but masks the failure; the
    ADVICE-r8 loader rule, applied consistently)."""
    raw = dedup_ops._read_index_or_none(spark, lineage_path)
    if raw is None:
        return None
    return raw.select("bucket").distinct()


def run_extraction(spark: SparkSession, pages: DataFrame, out_dir: str,
                   *, n_buckets: int | None = None, resume: bool = True,
                   lang_keep: str | None = None,
                   use_detector_gate: bool = False) -> dict:
    """Run the pipeline; returns run metrics. Idempotent under re-run.

    ``rows_written`` counts the rows this run committed (the sum of its new
    lineage rows), so a resume that finds every bucket committed reports 0.
    """
    extracted_path = os.path.join(out_dir, "extracted")
    lineage_path = os.path.join(out_dir, "lineage")

    if n_buckets is None:
        n_buckets = plan_buckets(pages)

    pages = pages.withColumn("bucket", bucket_col(n_buckets))

    skipped = 0
    committed = None
    if resume:
        committed = committed_buckets(spark, lineage_path)
        if committed is not None:
            n_committed = committed.count()
            if n_committed:
                # partition-level resume: committed bucket list is tiny →
                # broadcast left-anti join prunes whole buckets (R1/R2)
                pages = pages.join(F.broadcast(committed), "bucket",
                                   "left_anti")
                skipped = n_committed

    # salted size-balanced repartition over url-hash (north rule): one
    # shuffle into byte-targeted partitions
    extracted = extract_pages(extraction_input(pages, n_buckets)) \
        .withColumn("bucket", bucket_col(n_buckets))

    if lang_keep is not None:
        if use_detector_gate:
            # native Catalyst detector (kernel-equal, test-enforced) —
            # no Python workers in the gate
            from ..operators.clean import with_detected_lang
            extracted = (with_detected_lang(extracted, "extracted_text",
                                            "__det")
                         .where(F.col("__det") == F.lit(lang_keep))
                         .drop("__det"))
        else:
            extracted = extracted.where(F.col("language") == F.lit(lang_keep))

    # cross-run correctness: keepers committed by earlier runs win, so
    # a resumed bucket still marks duplicates of rows it cannot see.
    # Loaded before the persist below, so a failing load leaves nothing
    # cached in the caller's session
    index_path = os.path.join(out_dir, "dedup_index")
    prior_index = dedup_ops.load_keeper_index(spark, index_path) \
        if resume else None

    # X1/X2 duplicate marking (keep-first by url — deterministic total
    # order): windows over a slim (url, keys) projection + one
    # shuffle-hash join back — wide rows shuffle once; requires a
    # disk-backed persist because the extracted DF feeds both join sides
    # (otherwise the expensive mapInPandas extraction runs twice)
    from pyspark.storagelevel import StorageLevel
    cached = extracted.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        extracted, new_index = dedup_ops.mark_duplicates_incremental(
            cached, ["sha256", "dedup_key"], "url", prior_index)

        # run-report counters (A4/R4) ride the write pass via observe() —
        # zero extra jobs (scripts/clean.py:863-869 analog)
        from pyspark.sql import Observation
        obs = Observation("run_report")
        extracted = extracted.observe(
            obs,
            F.count(F.lit(1)).alias("rows"),
            F.sum(F.when(F.col("error").isNotNull(), 1).otherwise(0))
            .alias("errors"),
            F.sum(F.when(F.length("extracted_text") == 0, 1).otherwise(0))
            .alias("empty"),
            F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0))
            .alias("dups"))

        # write data first, lineage last (commit marker). Dynamic
        # partition overwrite keeps crashed half-written buckets
        # idempotent; it is set on the writer, never on the caller's
        # session.
        import time
        t0 = time.time()
        extracted.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("bucket").parquet(extracted_path)
        wall = time.time() - t0
        observed = dict(obs.get)
        new_index.write.mode("append").parquet(index_path)
    finally:
        cached.unpersist()

    # empty run (everything committed already, or empty input): dynamic
    # overwrite writes no files, so there may be nothing to read. Probe
    # through the Hadoop FS API so s3a://hdfs:// out_dirs work (round-2
    # review: os.walk silently returns nothing for non-local paths)
    from . import fsutil
    report = {"buckets": n_buckets, "buckets_skipped": skipped,
              "write_wall_s": wall, "observed": observed,
              "extracted_path": extracted_path, "lineage_path": lineage_path}
    if not fsutil.has_files(spark, extracted_path):
        return {"rows_written": 0, **report}

    # lineage from the *written* data: counts/checksum reflect committed rows;
    # only buckets processed this run get a lineage row (append-only log)
    written = spark.read.parquet(extracted_path)
    new_buckets = written
    if committed is not None and skipped:
        new_buckets = written.join(F.broadcast(committed), "bucket",
                                   "left_anti")
    # lineage is tiny (one row per bucket): cache it so the commit write and
    # the row-count report share one scan of the written table. Count
    # before the write: appending to lineage_path refreshes every cached
    # plan that reads it, so afterwards ``committed`` would hold this
    # run's buckets too and the anti-join would count none of them
    lineage = lineage_rows(new_buckets).cache()
    n_rows = lineage.agg(F.sum("row_count")).collect()[0][0] or 0
    lineage.write.mode("append").parquet(lineage_path)
    lineage.unpersist()
    return {"rows_written": n_rows, **report}
