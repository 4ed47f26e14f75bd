"""Table maintenance: small-file compaction.

The extraction write is partitioned by ``bucket`` but executes from
url-join-partitioned data, so every task sprays a file into several bucket
directories (measured ~5 files/bucket per run; appends and resumes add
more). At 10^12 docs that is millions of small files — scan planning and
shuffle-read costs degrade long before storage does. Compaction rewrites
each bucket from exactly one task (hash repartition on the bucket column),
yielding one file per bucket per pass — the plain-parquet analog of
Iceberg's ``rewrite_data_files``.

All metadata operations (probe/rename/delete/marker) go through the
Hadoop FileSystem API (``plans/fsutil``) so the swap works on
``s3a://``/``hdfs://`` tables, not only a driver-local directory. On S3A
``rename`` is copy+delete rather than atomic — the swap invariant ("a
complete table exists at every instant, either live or as
``._compact`` + marker") still holds, but the window widens; run
compaction when the table is quiescent either way.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

from . import fsutil


def compact_extracted(spark: SparkSession, extracted_path: str,
                      *, max_rows_per_file: int | None = None) -> dict:
    """Rewrite the bucket-partitioned extracted table with one writer task
    per bucket. Safe to re-run; lineage/dedup-index are untouched (row
    content is preserved byte-for-byte, only file layout changes)."""
    compact_tmp = extracted_path + "._compact"
    old_tmp = extracted_path + "._old"
    # crash recovery: a COMPLETE ._compact (our _COMPACTED marker, written
    # after the Spark job finishes — dynamic overwrite emits no _SUCCESS)
    # with no live table means a prior run died between the two swap
    # renames — finish its swap; any other leftover sibling is garbage
    if (not fsutil.is_dir(spark, extracted_path) and
            fsutil.exists(spark, compact_tmp + "/_COMPACTED")):
        if not fsutil.rename(spark, compact_tmp, extracted_path):
            raise IOError(f"compaction recovery rename failed: "
                          f"{compact_tmp} -> {extracted_path}")
    for leftover in (old_tmp, compact_tmp):
        fsutil.delete(spark, leftover)

    before = fsutil.count_files(spark, extracted_path)
    df = spark.read.parquet(extracted_path)
    n_buckets = df.select("bucket").distinct().count()
    writer = (df.repartition(n_buckets, "bucket")
              .write.mode("overwrite")
              .option("partitionOverwriteMode", "dynamic")
              .partitionBy("bucket"))
    if max_rows_per_file:
        writer = writer.option("maxRecordsPerFile", str(max_rows_per_file))
    writer.parquet(compact_tmp)
    fsutil.touch(spark, compact_tmp + "/_COMPACTED")
    # swap order is crash-safe: move the live table ASIDE first, promote
    # the compacted copy, delete the old copy last — at every instant a
    # complete table exists (either live or as ._compact + marker, which
    # the recovery above promotes). Readers planned against old file paths
    # during the swap window fail their scan and must re-plan — run
    # compaction when the table is quiescent.
    # Hadoop rename returns False instead of raising (and renaming INTO
    # an existing directory silently nests src under dst) — every swap
    # step must be checked or a failed swap reports success while the
    # compacted data is lost (round-3 review finding)
    if not fsutil.rename(spark, extracted_path, old_tmp):
        fsutil.delete(spark, compact_tmp)
        raise IOError(f"compaction swap aborted: could not move live "
                      f"table aside ({extracted_path} -> {old_tmp})")
    if not fsutil.rename(spark, compact_tmp, extracted_path):
        # roll the live table back before failing
        fsutil.rename(spark, old_tmp, extracted_path)
        raise IOError(f"compaction swap failed promoting {compact_tmp}; "
                      f"live table restored")
    fsutil.delete(spark, old_tmp)
    after = fsutil.count_files(spark, extracted_path)
    return {"files_before": before, "files_after": after,
            "buckets": n_buckets}
