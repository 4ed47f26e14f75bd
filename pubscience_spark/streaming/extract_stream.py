"""Structured Streaming surface.

The reference's "streaming" is generator-based incremental file reading
(``clean/cleaner.py:232-255``, ``identify/identify.py:258-306``) — batch
semantics with resumability, which the batch pipeline already covers
(SURVEY.md §1.4). This module adds the genuinely incremental path for
continuous WARC arrival:

- ``stream_extraction``: file-source stream over the pages directory →
  per-micro-batch extraction reusing the exact batch kernels, written via
  ``foreachBatch`` with the same lineage-last commit protocol. Checkpointed:
  a restart resumes from the last committed micro-batch (the streaming
  analog of the resume anti-join, R1-R3).
- ``windowed_event_counts``: watermarked event-time windowed aggregation
  (late-data-safe counters — the streaming analog of the run-report
  counters A4/R4).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, StringType, StructField,
                               StructType, TimestampType)

PAGES_SCHEMA = StructType([
    StructField("url", StringType(), False),
    StructField("warc_ts", TimestampType()),
    StructField("html", BinaryType()),
    StructField("text", StringType()),
    StructField("lang", StringType()),
])


def process_batch(batch_df: DataFrame, batch_id: int, extracted_path: str,
                  lineage_path: str, *, n_buckets: int = 32) -> None:
    """One micro-batch, idempotent under foreachBatch's at-least-once
    re-execution: both writes are DYNAMIC PARTITION OVERWRITES scoped by
    ``batch_id`` — a retry replaces exactly its own (batch_id, …)
    partitions, so data rows, lineage counts, and checksums are stable
    under re-execution (module-level so idempotence is testable without a
    streaming harness)."""
    from ..operators.extract import extract_pages
    from ..plans.pipeline import bucket_col, lineage_rows

    pages = (batch_df
             .withColumn("bucket", bucket_col(n_buckets))
             .repartition(n_buckets, "bucket"))
    extracted = extract_pages(pages.select("url", "html", "bucket")) \
        .withColumn("bucket", bucket_col(n_buckets)) \
        .withColumn("batch_id", F.lit(batch_id))
    extracted.persist()
    try:
        extracted.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("batch_id", "bucket").parquet(extracted_path)
        lineage = lineage_rows(extracted) \
            .withColumn("batch_id", F.lit(batch_id))
        lineage.write.mode("overwrite") \
            .option("partitionOverwriteMode", "dynamic") \
            .partitionBy("batch_id").parquet(lineage_path)
    finally:
        extracted.unpersist()


def stream_extraction(spark: SparkSession, input_dir: str, out_dir: str,
                      *, n_buckets: int = 32,
                      available_now: bool = True):
    """Incremental extraction over a growing pages directory.

    Each micro-batch runs the batch operators (salted bucket repartition →
    Arrow-batched extract → dedup *keys*; cross-batch dedup is a downstream
    batch concern) and appends to the bucket-partitioned extracted table +
    lineage log. Returns the started StreamingQuery.
    """
    extracted_path = os.path.join(out_dir, "extracted")
    lineage_path = os.path.join(out_dir, "lineage")
    checkpoint = os.path.join(out_dir, "_checkpoint")

    stream = (spark.readStream.schema(PAGES_SCHEMA)
              .option("maxFilesPerTrigger", 4)
              .parquet(input_dir))

    def _process(batch_df: DataFrame, batch_id: int) -> None:
        process_batch(batch_df, batch_id, extracted_path, lineage_path,
                      n_buckets=n_buckets)

    writer = (stream.writeStream
              .foreachBatch(_process)
              .option("checkpointLocation", checkpoint))
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def run_incremental(spark: SparkSession, input_dir: str, out_dir: str,
                    *, n_buckets: int = 32, timeout_s: int = 600) -> dict:
    """Catch-up-and-stop incremental extraction (``Trigger.AvailableNow``)
    — the Iceberg-incremental-read stand-in (SURVEY §1.4): each
    invocation processes exactly the files that arrived since the last
    committed micro-batch (checkpoint state), writes them through the
    same batch kernels + batch_id-scoped dynamic-overwrite lineage
    protocol, and returns batch-pipeline-shaped metrics. Re-running with
    no new input is a no-op (0 new batches, lineage unchanged).

    The streaming checkpoint is the resume protocol here — the file
    source's commit log plays the role of ``run_extraction``'s
    committed-bucket anti-join, at file granularity instead of bucket
    granularity."""
    import time as _time
    before = _lineage_batches(spark, os.path.join(out_dir, "lineage"))
    t0 = _time.perf_counter()
    q = stream_extraction(spark, input_dir, out_dir, n_buckets=n_buckets,
                          available_now=True)
    finished = q.awaitTermination(timeout_s)
    if not finished:
        # catch-up exceeded the timeout: stop the query (don't leak it)
        # and fail loudly — metrics read mid-commit would undercount
        q.stop()
        raise TimeoutError(
            f"run_incremental: catch-up exceeded {timeout_s}s; query "
            "stopped, lineage consistent at the last committed batch")
    wall = _time.perf_counter() - t0
    after = _lineage_batches(spark, os.path.join(out_dir, "lineage"))
    new_batches = {b: n for b, n in after.items() if b not in before}
    return {
        "rows_written": sum(new_batches.values()),
        "new_batches": sorted(new_batches),
        "total_rows": sum(after.values()),
        "wall_s": wall,
        "extracted_path": os.path.join(out_dir, "extracted"),
        "lineage_path": os.path.join(out_dir, "lineage"),
    }


def run_incremental_curated(spark: SparkSession, input_dir: str,
                            out_dir: str, *, n_buckets: int = 32,
                            timeout_s: int = 600,
                            key_cols: tuple = ("sha256", "dedup_key"),
                            para_dedup: bool = False,
                            para_min_chars: int = 30,
                            para_sep: str = "\n",
                            ) -> dict:
    """:func:`run_incremental` composed with CROSS-RUN dedup: a document
    arriving in today's delta that duplicates one committed by an
    earlier run is dropped, because keepers live in a persistent index
    (``out_dir/dedup_index``) that every invocation consults and
    appends to — the streaming analog of the batch pipeline's
    resume-safe slim-join dedup (``plans/pipeline.py``).

    Protocol per invocation: catch-up extraction (availableNow) →
    PENDING = committed lineage batches minus batches already present
    in ``out_dir/curated`` (NOT this invocation's lineage diff — the
    streaming checkpoint commits independently of the curation writes,
    so a crash between them would otherwise orphan the batch forever;
    round-5 review) → mark the pending rows against
    ``load_keeper_index`` → append the new keepers to the index FIRST,
    then the surviving rows to ``curated`` (dynamic overwrite scoped by
    batch_id). Crash between the two writes is safe in THIS order: the
    batch stays pending (absent from curated), and the retry's marking
    sees its own keepers as committed priors — priors win with the
    identical deterministic min-url value, so the retry produces the
    same curated rows and appends nothing new to the index. The index
    re-aggregates min() on read, so duplicate appends are harmless.
    No pending work → no-op with zeroed counters.

    ``para_dedup`` (opt-in) extends the cross-run guarantee to the
    PARAGRAPH level (VERDICT r6 #6): winners live in a second
    persistent index (``out_dir/para_index``), so a boilerplate
    paragraph first committed in run 1 is stripped from documents
    arriving in run 3 (:func:`operators.dedup
    .paragraph_dedup_incremental`). Same crash-safe write order —
    index append before the curated write; because the index stores
    the winner's IDENTITY, a crash-retry re-marks its own batch and
    keeps the same winner occurrence, reproducing identical curated
    rows. Documents emptied by paragraph removal are dropped."""
    from ..operators import dedup as dedup_ops

    res = run_incremental(spark, input_dir, out_dir,
                          n_buckets=n_buckets, timeout_s=timeout_s)
    curated_path = os.path.join(out_dir, "curated")
    index_path = os.path.join(out_dir, "dedup_index")
    committed = set(_lineage_batches(
        spark, os.path.join(out_dir, "lineage")))
    # only PATH_NOT_FOUND means "nothing curated yet": a transient read
    # failure swallowed here would re-curate every batch and mask the
    # corruption (the ADVICE-r8 index-loader rule, applied consistently)
    cur = dedup_ops._read_index_or_none(spark, curated_path)
    done = (set() if cur is None else
            {r["batch_id"]
             for r in cur.select("batch_id").distinct().collect()})
    pending = sorted(committed - done)
    res.update({"curated_path": curated_path, "index_path": index_path,
                "pending_batches": pending,
                "curated_rows": 0, "dups_dropped": 0})
    if not pending:
        return res
    delta = (spark.read.parquet(res["extracted_path"])
             .where(F.col("batch_id").isin(pending)))
    prior = dedup_ops.load_keeper_index(spark, index_path)
    marked, new_index = dedup_ops.mark_duplicates_incremental(
        delta, list(key_cols), "url", prior)
    curated = marked.where(~F.col("is_duplicate")).drop("is_duplicate")
    new_index.write.mode("append").parquet(index_path)
    pd_out = None
    n_paras_dropped, n_para_emptied = 0, 0
    if para_dedup:
        para_index_path = os.path.join(out_dir, "para_index")
        res["para_index_path"] = para_index_path
        prior_p = dedup_ops.load_paragraph_index(spark, para_index_path)
        # the index identity must be unique PER INGESTION EVENT, not
        # per url: a crash-retry re-processes the same (url, batch_id)
        # and must keep the same winner, but a later RE-CRAWL of the
        # same url (new batch, changed body passing doc-level dedup)
        # must have its boilerplate stripped — bare urls cannot tell
        # the two apart (round-7 review)
        # ... and the same url CAN appear twice in one batch with
        # different bodies (both passing content-keyed doc dedup), so
        # fold the doc-dedup key in too: within `curated` each key
        # tuple is unique (keep-first), and it is content-derived, so a
        # crash-retry reproduces the same id (round-7 review #2)
        keyed = curated.withColumn(
            "__pd_id", F.concat_ws(
                "#", "url", F.col("batch_id").cast("string"),
                F.xxhash64(*key_cols).cast("string")))
        # sep="\n": the extraction kernels join paragraph spans with a
        # single newline (kernels/html_extract), unlike raw documents
        pd_out, new_pidx = dedup_ops.paragraph_dedup_incremental(
            keyed.select("__pd_id", "extracted_text"), "__pd_id",
            "extracted_text", min_chars=para_min_chars, sep=para_sep,
            index_df=prior_p)
        pd_out = pd_out.persist()
        # index append FIRST (crash-safe: see docstring)
        new_pidx.write.mode("append").parquet(para_index_path)
        st = pd_out.agg(
            F.coalesce(F.sum("n_paras_dropped"), F.lit(0))
            .cast("long").alias("pd"),
            F.coalesce(F.sum(F.when(
                (F.col("n_paras_dropped") > 0)
                & (F.length(F.trim(F.col("extracted_text"))) == 0), 1)
                .otherwise(0)), F.lit(0))
            .cast("long").alias("emptied")).collect()[0]
        n_paras_dropped, n_para_emptied = st["pd"], st["emptied"]
        # drop only docs EMPTIED BY paragraph dedup; a doc that arrived
        # empty (n_paras_dropped == 0) is kept, matching the
        # para_dedup=False path and the emptied counter above
        curated = (keyed.drop("extracted_text")
                   .join(pd_out.select("__pd_id", "extracted_text",
                                       "n_paras_dropped"),
                         "__pd_id")
                   .where((F.length(F.trim(F.col("extracted_text")))
                           > 0)
                          | (F.col("n_paras_dropped") == 0))
                   .drop("__pd_id", "n_paras_dropped"))
    curated.write.mode("overwrite") \
        .option("partitionOverwriteMode", "dynamic") \
        .partitionBy("batch_id").parquet(curated_path)
    dedup_ops.unpersist_input(marked)
    if pd_out is not None:
        dedup_ops.unpersist_input(pd_out)
        pd_out.unpersist()
        res["para_paras_dropped"] = n_paras_dropped
        res["para_docs_emptied"] = n_para_emptied
    n_delta = delta.count()
    n_curated = (spark.read.parquet(curated_path)
                 .where(F.col("batch_id").isin(pending))
                 .count())
    # paragraph-emptied docs are NOT document-level duplicates — keep
    # the two counters apart (round-7 review)
    res.update({"curated_rows": n_curated,
                "dups_dropped": n_delta - n_curated - n_para_emptied})
    return res


def _lineage_batches(spark: SparkSession, lineage_path: str) -> dict:
    """{batch_id: row_count} from the lineage log ({} if none yet). A
    genuine read failure propagates: reading it as "nothing committed"
    would make ``run_incremental_curated`` silently curate nothing."""
    from ..operators import dedup as dedup_ops
    raw = dedup_ops._read_index_or_none(spark, lineage_path)
    if raw is None:
        return {}
    rows = (raw.groupBy("batch_id").agg(F.sum("row_count").alias("n"))
            .collect())
    return {r["batch_id"]: r["n"] for r in rows}


def windowed_event_counts(events: DataFrame, *, window: str = "10 minutes",
                          watermark: str = "30 minutes",
                          ts_col: str = "ts",
                          key_col: str = "event_type") -> DataFrame:
    """Watermarked tumbling-window counts over an event stream (works on
    both streaming and batch DataFrames — same plan, Catalyst decides)."""
    return (events
            .withWatermark(ts_col, watermark)
            .groupBy(F.window(F.col(ts_col), window).alias("w"),
                     F.col(key_col))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("window_start"),
                    F.col("w.end").alias("window_end"), key_col, "n"))
