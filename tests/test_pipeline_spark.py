"""Spark-level contract tests.

The core contract (BASELINE.json): byte-identical extracted text per url.
With no external fixture source available (reference deps absent from the
container), the golden fixture is the *sequential single-process run of the
same deterministic kernels* — the tests prove the distributed plan yields
exactly those bytes regardless of partitioning, ordering, or resume state.
"""

import os

import pytest
from pyspark.sql import functions as F

from pubscience_spark.datagen.pages import generate_pages
from pubscience_spark.operators.extract import extract_one, extract_pages
from pubscience_spark.plans.pipeline import run_extraction


@pytest.fixture(scope="module")
def golden(pages_path):
    """Sequential reference run: url → extracted record."""
    import pyarrow.parquet as pq
    table = pq.read_table(pages_path)
    out = {}
    for url, raw in zip(table["url"].to_pylist(), table["html"].to_pylist()):
        out[url] = extract_one(raw if raw is not None else b"")
    return out


def test_byte_identity_vs_sequential(spark, pages_path, golden):
    pages = spark.read.parquet(pages_path)
    got = {r["url"]: r for r in extract_pages(pages).collect()}
    assert set(got) == set(golden)
    for url, g in golden.items():
        row = got[url]
        assert row["extracted_text"] == g["extracted_text"], url
        assert row["sha256"] == g["sha256"], url
        assert row["title"] == g["title"], url
        assert (row["pages"] or []) == g["pages"], url


def test_byte_identity_vs_committed_fixture(spark, pages_path):
    """The static golden file is COMMITTED (generated once, seed 42) — any
    kernel semantic drift across rounds fails here even though the live
    golden fixture above would drift along with it."""
    import json
    fx_path = os.path.join(os.path.dirname(__file__),
                           "fixtures_extracted_seed42_n150.json")
    with open(fx_path) as fh:
        fixture = json.load(fh)
    pages = spark.read.parquet(pages_path)
    got = {r["url"]: r for r in extract_pages(pages).collect()}
    assert set(got) == set(fixture)
    for url, exp in fixture.items():
        row = got[url]
        assert row["sha256"] == exp["sha256"], url
        assert row["route"] == exp["route"], url
        assert row["n_chars"] == exp["n_chars"], url


def test_permutation_invariance(spark, pages_path, golden):
    """Output bytes independent of partitioning/order (SURVEY.md §3.1 —
    the property the reference lacks)."""
    pages = spark.read.parquet(pages_path)
    for df in (pages.repartition(7), pages.coalesce(1),
               pages.orderBy(F.desc("url"))):
        got = {r["url"]: r["extracted_text"]
               for r in extract_pages(df).collect()}
        assert got == {u: g["extracted_text"] for u, g in golden.items()}


def test_pipeline_end_to_end_and_resume(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    r1 = run_extraction(spark, pages, out, n_buckets=5)
    assert r1["rows_written"] == pages.count()
    ext = spark.read.parquet(r1["extracted_path"])
    assert ext.select("url").distinct().count() == r1["rows_written"]

    # idempotent resume: everything committed → nothing reprocessed
    r2 = run_extraction(spark, pages, out, n_buckets=5)
    assert r2["buckets_skipped"] == 5
    assert r2["rows_written"] == 0  # this run committed nothing
    lineage = spark.read.parquet(r1["lineage_path"])
    assert lineage.count() == 5  # no duplicate lineage rows
    assert lineage.groupBy("bucket").count().where("count > 1").count() == 0

    # lineage row_count sums to written rows; checksums are non-null
    total = lineage.agg(F.sum("row_count")).collect()[0][0]
    assert total == r1["rows_written"]
    assert lineage.where(F.col("checksum").isNull()).count() == 0


def test_partial_resume_reprocesses_only_missing(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    r1 = run_extraction(spark, pages, out, n_buckets=4)
    # drop one bucket's lineage row → that bucket must be reprocessed
    lineage_path = r1["lineage_path"]
    lin = spark.read.parquet(lineage_path).collect()
    keep = [r for r in lin if r["bucket"] != lin[0]["bucket"]]
    import shutil
    shutil.rmtree(lineage_path)
    if keep:
        spark.createDataFrame(keep).write.parquet(lineage_path)
    r2 = run_extraction(spark, pages, out, n_buckets=4)
    assert r2["buckets_skipped"] == 3
    # only the reprocessed bucket's rows count as written by this run
    assert r2["rows_written"] == lin[0]["row_count"]
    ext = spark.read.parquet(r1["extracted_path"])
    assert ext.count() == r1["rows_written"]
    assert ext.select("url").distinct().count() == r1["rows_written"]


def test_pipelines_leave_session_overwrite_mode_alone(spark, pages_path,
                                                     tmp_path):
    """The batch and streaming writers ask for dynamic partition overwrite
    on the writer itself: a caller's later static overwrite must still
    replace its whole table."""
    from pubscience_spark.streaming.extract_stream import process_batch
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "STATIC")
    try:
        pages = spark.read.parquet(pages_path)
        run_extraction(spark, pages, str(tmp_path / "batch"), n_buckets=4)
        assert spark.conf.get(key) == "STATIC"
        process_batch(pages, 0, str(tmp_path / "stream" / "extracted"),
                      str(tmp_path / "stream" / "lineage"), n_buckets=4)
        assert spark.conf.get(key) == "STATIC"
    finally:
        spark.conf.set(key, prev)


def test_partial_resume_preserves_global_dup_flags(spark, pages_path,
                                                   tmp_path):
    """A reprocessed bucket must mark duplicates whose keeper committed in
    ANOTHER bucket (keeper index consulted across runs)."""
    import shutil
    pages = spark.read.parquet(pages_path)
    ref = run_extraction(spark, pages, str(tmp_path / "full"), n_buckets=4)
    want = {r["url"]: r["is_duplicate"] for r in
            spark.read.parquet(ref["extracted_path"])
            .select("url", "is_duplicate").collect()}

    out = str(tmp_path / "crash")
    r1 = run_extraction(spark, pages, out, n_buckets=4)
    lin = spark.read.parquet(r1["lineage_path"]).collect()
    keep = [r for r in lin if r["bucket"] != lin[0]["bucket"]]
    shutil.rmtree(r1["lineage_path"])
    spark.createDataFrame(keep).write.parquet(r1["lineage_path"])
    r2 = run_extraction(spark, pages, out, n_buckets=4)
    assert r2["buckets_skipped"] == 3
    got = {r["url"]: r["is_duplicate"] for r in
           spark.read.parquet(r1["extracted_path"])
           .select("url", "is_duplicate").collect()}
    assert got == want


def test_duplicate_marking(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    r = run_extraction(spark, pages, out, n_buckets=3)
    ext = spark.read.parquet(r["extracted_path"])
    # datagen plants exact duplicates under /dup/ urls — the dup group's
    # keep-first survivor is the smallest url, the rest are marked
    groups = (ext.groupBy("sha256")
              .agg(F.count(F.lit(1)).alias("n"),
                   F.sum(F.when(F.col("is_duplicate"), 1).otherwise(0))
                   .alias("n_marked"),
                   F.min(F.struct("url", "is_duplicate")).alias("first"))
              .where(F.col("n") > 1).collect())
    assert groups, "datagen should plant duplicate groups"
    for g in groups:
        assert g["n_marked"] == g["n"] - 1
        assert g["first"]["is_duplicate"] is False


def test_empty_input_is_a_noop(spark, tmp_path):
    empty = spark.createDataFrame(
        [], "url string, warc_ts timestamp, html binary, text string, "
            "lang string")
    r = run_extraction(spark, empty, str(tmp_path / "out"), n_buckets=3)
    assert r["rows_written"] == 0
    # same report keys as a run that wrote rows
    assert set(r) == {"rows_written", "buckets", "buckets_skipped",
                      "write_wall_s", "observed", "extracted_path",
                      "lineage_path"}
    assert r["observed"]["rows"] == 0


def test_failed_run_leaves_nothing_cached(spark, pages_path, tmp_path):
    """A run that raises must not leave its persisted extracted frame in
    the caller's session: here the prior dedup index is corrupt, so the
    resume's index load fails."""
    index_dir = tmp_path / "out" / "dedup_index"
    index_dir.mkdir(parents=True)
    (index_dir / "part-00000.parquet").write_bytes(b"not a parquet file")
    cache = spark._jsparkSession.sharedState().cacheManager()
    spark.catalog.clearCache()
    assert cache.isEmpty()
    with pytest.raises(Exception, match="not a Parquet file"):
        run_extraction(spark, spark.read.parquet(pages_path),
                       str(tmp_path / "out"), n_buckets=3, resume=True)
    assert cache.isEmpty()


def test_error_rows_never_fail_tasks(spark):
    rows = [("u1", None), ("u2", b"\x00\xffgarbage"),
            ("u3", b"%PDF-1.4 broken"), ("u4", b"<?xml version=\"1.0\"?><bad")]
    df = spark.createDataFrame(rows, "url string, html binary")
    got = extract_pages(df).collect()
    assert len(got) == 4  # nothing threw


def test_lineage_audit_clean_and_detects_tamper(spark, pages_path, tmp_path):
    import sys
    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..", "tools"))
    import audit_lineage
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    r = run_extraction(spark, pages, out, n_buckets=3)
    assert audit_lineage.audit(spark, out) == []
    # tamper: drop one data file → audit must flag the bucket
    ext = r["extracted_path"]
    victim = next(os.path.join(root, f)
                  for root, _d, files in os.walk(ext)
                  for f in files if f.endswith(".parquet"))
    os.remove(victim)
    assert audit_lineage.audit(spark, out) != []


def test_compaction_preserves_rows(spark, pages_path, tmp_path):
    from pubscience_spark.plans.maintenance import compact_extracted
    pages = spark.read.parquet(pages_path)
    r = run_extraction(spark, pages, str(tmp_path / "out"), n_buckets=4)
    before = spark.read.parquet(r["extracted_path"]) \
        .select("url", "sha256", "is_duplicate").collect()
    stats = compact_extracted(spark, r["extracted_path"])
    assert stats["files_after"] <= stats["files_before"]
    assert stats["files_after"] == stats["buckets"]
    after = spark.read.parquet(r["extracted_path"]) \
        .select("url", "sha256", "is_duplicate").collect()
    assert sorted(map(tuple, before)) == sorted(map(tuple, after))


def test_datagen_deterministic(pages_path):
    rows_a = generate_pages(50)
    rows_b = generate_pages(50)
    assert [r["url"] for r in rows_a] == [r["url"] for r in rows_b]
    assert [r["html"] for r in rows_a] == [r["html"] for r in rows_b]


def test_lang_gate_detector(spark, pages_path, tmp_path):
    pages = spark.read.parquet(pages_path)
    out = str(tmp_path / "out")
    r = run_extraction(spark, pages, out, n_buckets=3,
                       lang_keep="en", use_detector_gate=True)
    ext = spark.read.parquet(r["extracted_path"])
    assert 0 < ext.count() < pages.count()


def test_curate_corpus_funnel(spark, tmp_path):
    """End-to-end curation plan: gates → exact dedup → near-dup drop →
    split → manifest; deterministic across re-runs."""
    import json
    import os
    from pubscience_spark.plans.curation import curate_corpus
    base = ("the quick brown fox jumps over the lazy dog and this is a "
            "perfectly reasonable document with common stopwords in it "
            "that keeps going for a while to pass the length gates ")
    rows = []
    for i in range(40):
        tail = " ".join(f"tok{i}w{j} filler{(i * 7 + j) % 97}"
                        for j in range(12))
        rows.append((i, "en", base + tail))
    rows.append((100, "en", rows[0][2]))          # exact dup of doc 0
    rows.append((101, "en", rows[1][2] + "tiny")) # near dup of doc 1
    rows.append((102, "en", "short"))             # length-gated
    rows.append((103, "nl", base + "x " * 5))     # lang-gated
    rows.append((104, "en", "zzz " * 60))         # quality-gated (no stop)
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = os.path.join(str(tmp_path), "cur")
    m = curate_corpus(spark, df, out, min_chars=100, min_words=20,
                      lang_keep="en", neardup_threshold=0.8,
                      neardup_bands=64)
    assert m["input"] == 45
    assert m["after_length_gate"] == 44          # 102 dropped
    assert m["after_lang_gate"] == 43            # 103 dropped
    assert m["after_quality_gate"] == 42         # 104 dropped
    assert m["written"] == 40                    # 100 exact + 101 near dup
    assert m["exact_and_neardup_dropped"] == 2
    got = spark.read.parquet(m["corpus_path"])
    ids = {r["doc_id"] for r in got.select("doc_id").collect()}
    assert ids == set(range(40))                 # keep-first (lower ids)
    assert set(m["splits"]) <= {"train", "val", "test"}
    assert json.load(open(os.path.join(out, "manifest.json"))) == m
    # deterministic overwrite
    m2 = curate_corpus(spark, df, out, min_chars=100, min_words=20,
                       lang_keep="en", neardup_threshold=0.8,
                       neardup_bands=64)
    assert m2 == m


def test_extraction_input_spreads_every_partition(spark):
    """The extraction shuffle hashes the salted url hash itself: every one
    of the n_buckets partitions gets rows, and none gets a multiple of the
    mean (shuffling on the bucket id re-hashes 0..n−1 and collides them:
    16 buckets land on 10 partitions)."""
    from pubscience_spark.plans.pipeline import bucket_col, extraction_input
    urls = [(r["url"],) for r in generate_pages(2000, seed=7)]
    assert len(urls) >= 2000
    pages = spark.createDataFrame(urls, "url string") \
        .withColumn("bucket", bucket_col(16))
    sizes = [r["n"] for r in extraction_input(pages, 16)
             .groupBy(F.spark_partition_id().alias("p"))
             .agg(F.count(F.lit(1)).alias("n")).collect()]
    assert len(sizes) == 16
    assert max(sizes) <= 1.5 * len(urls) / 16, sorted(sizes)
