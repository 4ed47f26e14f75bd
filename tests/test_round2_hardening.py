"""Round-2 hardening: operator-internal persist (no double extraction),
deterministic reservoir sampling, X6 id minting, idempotent streaming
micro-batches, crash-safe compaction swap, RTF tail recovery."""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import functions as F

from pubscience_spark.kernels.rtf import rtf_to_text
from pubscience_spark.operators import dedup, sampling, set_ops


def test_mark_duplicates_multi_persists_internally(spark):
    df = spark.range(100).select(
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        (F.col("id") % 7).cast("string").alias("sha256"),
        (F.col("id") % 13).cast("string").alias("dedup_key"))
    assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)
    marked, _ = dedup.mark_duplicates_incremental(
        df, ["sha256", "dedup_key"], "url")
    plan = marked._jdf.queryExecution().executedPlan().toString()
    # both consumers (slim keys side and wide join side) must read the
    # cache — a missing InMemoryTableScan means upstream re-executes per
    # consumer (double extraction in the pipeline)
    assert plan.count("InMemoryTableScan") >= 2
    assert marked.count() == 100
    # ADVICE round 2: the operator-internal persist must be releasable by
    # callers that never persisted anything themselves
    assert dedup.unpersist_input(marked) is True
    # an already-persisted input is NOT owned by the operator: no handle,
    # and the caller's own cache survives
    df2 = df.persist()
    df2.count()
    marked2, _ = dedup.mark_duplicates_incremental(df2, ["sha256"], "url")
    assert dedup.unpersist_input(marked2) is False
    assert df2.storageLevel.useMemory or df2.storageLevel.useDisk
    df2.unpersist()


def test_reservoir_sample_partition_invariant(spark):
    df = spark.range(500).select(F.col("id"),
                                 F.concat(F.lit("k"), F.col("id"))
                                 .alias("key"))
    a = sorted(r["id"] for r in
               sampling.reservoir_sample(df, 20, "key").collect())
    b = sorted(r["id"] for r in
               sampling.reservoir_sample(df.repartition(13), 20, "key")
               .collect())
    c = sorted(r["id"] for r in
               sampling.reservoir_sample(df.coalesce(1), 20, "key").collect())
    assert a == b == c and len(a) == 20
    d = sorted(r["id"] for r in
               sampling.reservoir_sample(df, 20, "key", seed=7).collect())
    assert d != a  # seed changes the draw


def test_mint_ids_matches_reference_sha1(spark):
    rows = [("src_a", "u1"), ("src_a", "u3"), ("src_a", "u2"),
            ("src_b", "u9")]
    df = spark.createDataFrame(rows, ["source", "url"])
    got = {r["url"]: r["id"]
           for r in set_ops.mint_ids(df, "source", "url").collect()}
    # i follows the url total order within each source
    assert got["u1"] == hashlib.sha1(b"src_a0").hexdigest()
    assert got["u2"] == hashlib.sha1(b"src_a1").hexdigest()
    assert got["u3"] == hashlib.sha1(b"src_a2").hexdigest()
    assert got["u9"] == hashlib.sha1(b"src_b0").hexdigest()


def test_streaming_batch_retry_is_idempotent(spark, tmp_path):
    from pubscience_spark.datagen.pages import write_pages_parquet
    from pubscience_spark.streaming.extract_stream import process_batch
    pp = os.path.join(str(tmp_path), "pages.parquet")
    write_pages_parquet(pp, 60)
    batch = spark.read.parquet(pp)
    ext = os.path.join(str(tmp_path), "extracted")
    lin = os.path.join(str(tmp_path), "lineage")
    process_batch(batch, 0, ext, lin, n_buckets=4)
    rows1 = spark.read.parquet(ext).count()
    sums1 = spark.read.parquet(lin).agg(
        F.sum("row_count"), F.sum("checksum")).collect()[0]
    # at-least-once retry of the SAME batch id: no double-append
    process_batch(batch, 0, ext, lin, n_buckets=4)
    rows2 = spark.read.parquet(ext).count()
    sums2 = spark.read.parquet(lin).agg(
        F.sum("row_count"), F.sum("checksum")).collect()[0]
    assert (rows1, list(sums1)) == (rows2, list(sums2))
    # a NEW batch id appends
    process_batch(batch.limit(10), 1, ext, lin, n_buckets=4)
    assert spark.read.parquet(ext).count() == rows1 + 10


def test_compaction_swap_crash_recovery(spark, tmp_path):
    from pubscience_spark.plans.maintenance import compact_extracted
    path = os.path.join(str(tmp_path), "extracted")
    df = spark.range(50).select(
        (F.col("id") % 4).alias("bucket"), F.col("id"),
        F.concat(F.lit("u"), F.col("id")).alias("url"),
        F.sha2(F.col("id").cast("string"), 256).alias("sha256"))
    df.repartition(8).write.partitionBy("bucket").parquet(path)
    res = compact_extracted(spark, path)
    assert res["files_after"] <= res["files_before"]
    assert spark.read.parquet(path).count() == 50
    # simulate a crash between the two swap renames: live table gone,
    # complete ._compact present → next run must recover, not die
    os.rename(path, path + "._compact")
    res2 = compact_extracted(spark, path)
    assert spark.read.parquet(path).count() == 50
    assert not os.path.isdir(path + "._compact")
    assert not os.path.isdir(path + "._old")


def test_rtf_truncated_tail_recovered():
    # missing final brace: trailing text must not be dropped
    assert rtf_to_text(r"{\rtf1 body text") == "body text"
    assert rtf_to_text(r"{\rtf1 good}") == "good"


def test_detect_lang_expr_matches_kernel(spark):
    from pubscience_spark.kernels.langid import detect_lang
    from pubscience_spark.operators.clean import with_detected_lang
    texts = [
        "the quick brown fox is one of the many animals that can be seen",
        "de snelle bruine vos is een van de dieren die je hier kunt zien",
        "der schnelle braune Fuchs ist eines der Tiere die man sehen kann",
        "zzz qqq xxx", "", "   ", "1234 5678", "a b c d e",
        "the de der and en und of van von is is ist",  # mixed → ambiguous
        # round 7: the seven added CC languages through the same
        # native-vs-kernel lockstep check
        "el paciente fue tratado en el hospital y los resultados",
        "le patient a été traité et les résultats de l'étude",
        "il paziente è stato trattato e i risultati dello studio",
        "o paciente foi tratado no hospital e os resultados do estudo",
        "Пациент лечился в больнице и результаты исследования были",
        "患者は病院で治療を受けました。これは重要なことです。",
        "病人在医院接受了治疗，这是一个重要的问题。",
    ]
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .select("text").limit(50)
    texts += [r["text"] for r in docs.collect()]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               ["i", "text"])
    got = {r["i"]: r["d"] for r in
           with_detected_lang(df, "text", "d").select("i", "d").collect()}
    for i, t in enumerate(texts):
        assert got[i] == detect_lang(t), (i, t[:40], got[i], detect_lang(t))


def test_detect_lang_expr_escapes_sql_literals(spark, monkeypatch):
    """A profile entry holding ``'`` or ``\\`` is escaped into the SQL
    literals (it used to raise ValueError) and still scores like the
    kernel."""
    from pubscience_spark.kernels import langid
    from pubscience_spark.kernels.langid import detect_lang
    from pubscience_spark.operators.clean import with_detected_lang
    stop, grams = langid._PROFILES["fr"]
    monkeypatch.setitem(langid._PROFILES, "fr", (
        stop | {"l'étude", "aujourd'hui", "a\\b"}, grams + ("d'", "\\n")))
    texts = ["le patient a été traité et les résultats de l'étude",
             "the quick brown fox is one of the many animals",
             "aujourd'hui c'est le jour de la semaine",
             "back\\slash a\\b \\n d'x", ""]
    df = spark.createDataFrame(list(enumerate(texts)), ["i", "text"])
    got = {r["i"]: r["d"] for r in
           with_detected_lang(df, "text", "d").select("i", "d").collect()}
    assert got == {i: detect_lang(t) for i, t in enumerate(texts)}
    assert got[0] == "fr" and got[1] == "en"


def test_rows_only_queries_golden_counts(spark):
    """Golden aggregate counts for the rows-only (non-SQL) battery tier at
    sf0.001 — catches silent semantic drift where the driver's rows-only
    check would not (VERDICT r1 item 7)."""
    from pubscience_spark.queries import QUERIES
    sf = "/root/testdata/sf0.001"
    s = QUERIES["segment_stats"](spark, sf).agg(
        F.count("*"), F.sum("n_sentences"), F.sum("n_chunks")).collect()[0]
    assert list(s) == [500, 500, 705]
    # battery stays at the driver harness's 50-entry cap, clean_sentences
    # inside it (VERDICT r2: entry 51 silently fell out of the report)
    assert len(QUERIES) == 50
    assert list(QUERIES).index("clean_sentences") < 50
    c = QUERIES["clean_sentences"](spark, sf).agg(
        F.count("*"), F.sum("n_sentences"), F.sum("n_chars")).collect()[0]
    assert list(c) == [1000, 1000, 8902]
    b = QUERIES["boilerplate_strip"](spark, sf).agg(
        F.count("*"), F.sum("clean_len"),
        F.sum(F.col("kept").cast("long"))).collect()[0]
    assert list(b) == [500, 146550, 475]


def test_round2_operators_on_degenerate_inputs(spark, tmp_path):
    """Empty / zero-row inputs must degrade, not throw."""
    from pubscience_spark.operators.joins import salted_join
    from pubscience_spark.operators.util import spread
    from pubscience_spark.plans.curation import curate_corpus

    # spread on an empty frame
    empty = spark.createDataFrame([], "doc_id long, lang string, text string")
    assert spread(empty).count() == 0

    # salted join with an empty hot-key list (nothing hot → salt 0 both)
    big = spark.createDataFrame([("k", 1)], ["k", "v"])
    small = spark.createDataFrame([("k", 2)], ["k", "s"])
    assert salted_join(big, small, "k", salt_keys=[]).count() == 1

    # curation over zero input rows: empty manifest, no crash
    import os
    m = curate_corpus(spark, empty, os.path.join(str(tmp_path), "c0"))
    assert m["input"] == 0 and m["written"] == 0 and m["splits"] == {}


def test_spread_memo_not_read_across_applications(monkeypatch):
    """``spread``'s partition-count memo is keyed on the application id:
    a session that takes over a stopped session's Python object (and so
    its ``id()``) must probe again, not read the stopped one's count."""
    from types import SimpleNamespace

    from pubscience_spark.operators import util

    probes = []

    class _Frame:
        def __init__(self, sess, n_parts):
            self.sparkSession = sess
            self._n = n_parts
            plan = SimpleNamespace(semanticHash=lambda: 7)
            qe = SimpleNamespace(analyzed=lambda: plan)
            self._jdf = SimpleNamespace(queryExecution=lambda: qe)

        def inputFiles(self):
            return ["/data/part-0.parquet"]

        @property
        def rdd(self):
            probes.append(self._n)
            return SimpleNamespace(getNumPartitions=lambda: self._n)

        def repartition(self, n):
            return ("repartitioned", n)

    monkeypatch.setattr(util, "_SPREAD_MEMO", {})
    sess = SimpleNamespace(sparkContext=SimpleNamespace(
        applicationId="local-1", defaultParallelism=8))
    old = _Frame(sess, 1)
    assert util.spread(old) == ("repartitioned", 8)
    assert util.spread(old) == ("repartitioned", 8) and probes == [1]
    # the application stops; a new one comes up in the same object
    sess.sparkContext.applicationId = "local-2"
    new = _Frame(sess, 8)
    assert util.spread(new) is new
    assert probes == [1, 8]


def test_fsutil_hadoop_fs_roundtrip(spark, tmp_path):
    """Round-3: commit/manifest/compaction metadata ops go through the
    Hadoop FileSystem API — scheme-qualified (file://) URIs must work,
    proving the protocol no longer assumes a driver-local filesystem."""
    from pubscience_spark.plans import fsutil

    base = f"file://{tmp_path}"
    assert fsutil.exists(spark, base)
    assert not fsutil.exists(spark, base + "/nope")
    fsutil.write_text(spark, base + "/m.json", '{"k": 1}')
    assert fsutil.read_text(spark, base + "/m.json") == '{"k": 1}'
    fsutil.touch(spark, base + "/d/_MARKER")
    assert fsutil.exists(spark, base + "/d/_MARKER")
    assert fsutil.is_dir(spark, base + "/d")
    # parquet probe
    spark.range(5).write.parquet(base + "/t")
    assert fsutil.has_files(spark, base + "/t")
    assert fsutil.count_files(spark, base + "/t") >= 1
    assert not fsutil.has_files(spark, base + "/d")
    # rename + recursive delete
    assert fsutil.rename(spark, base + "/t", base + "/t2")
    assert fsutil.has_files(spark, base + "/t2")
    assert fsutil.delete(spark, base + "/t2")
    assert not fsutil.exists(spark, base + "/t2")
    assert fsutil.delete(spark, base + "/t2") is False


def test_mark_duplicates_repeated_order_col(spark):
    """Round-7 review: order_col (url) need not be unique. (a) the same
    url with DIFFERENT content is two tuples, each kept, never
    multiplied by the flag join-back; (b) rows fully identical on
    (url, keys) collapse to ONE deterministic survivor; (c) the same
    content under different urls still keeps only min(url)."""
    rows = [("u1", "A", "kA", 10), ("u1", "B", "kB", 20),  # (a)
            ("u2", "C", "kC", 30), ("u2", "C", "kC", 40),  # (b)
            ("u3", "D", "kD", 50), ("u4", "D", "kD", 60)]  # (c)
    df = spark.createDataFrame(
        rows, "url string, sha256 string, dedup_key string, extra int")
    marked, idx = dedup.mark_duplicates_incremental(
        df, ["sha256", "dedup_key"], "url")
    got = {(r["url"], r["sha256"]): (r["is_duplicate"], r["extra"])
           for r in marked.collect()}
    assert marked.count() == 5                     # (b) collapsed
    assert got[("u1", "A")][0] is False
    assert got[("u1", "B")][0] is False
    assert got[("u2", "C")] == (False, 30)         # deterministic min
    assert got[("u3", "D")][0] is False
    assert got[("u4", "D")][0] is True
    # the index holds one keeper per distinct key value
    assert (idx.where("key_name = 'sha256'").count()
            == df.select("sha256").distinct().count())
    dedup.unpersist_input(marked)
