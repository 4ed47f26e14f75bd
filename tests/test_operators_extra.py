"""Tests for boilerplate dispatch (B2), set ops (§2.7/X4/G4), embedder."""

from pyspark.sql import functions as F

from pubscience_spark.operators import set_ops
from pubscience_spark.operators.boilerplate import (DEFAULT_RULESETS,
                                                    process_source,
                                                    strip_boilerplate)
from pubscience_spark.operators.embed import embed_documents, embed_text

DOC = """# Title
intro line one
Last updated 2024
body paragraph with words
References
1. something"""


def test_process_source_ruleset_semantics():
    out, kept = process_source(DOC, "guideline")
    assert kept
    assert "Last updated" not in out
    assert "something" not in out          # stopper cut the references
    assert "body paragraph" in out
    # unknown source falls back to default rules
    assert process_source(DOC, "nosuch") == process_source(DOC, "default")


def test_strip_boilerplate_dispatches_per_row(spark):
    df = spark.createDataFrame(
        [(DOC, "guideline"), (DOC, "wiki")], ["text", "source"])
    rows = {r["source"]: r["clean_text"]
            for r in strip_boilerplate(df).collect()}
    assert rows["guideline"] == process_source(DOC, "guideline")[0]
    assert rows["wiki"] == process_source(DOC, "wiki")[0]


def test_combine_and_overwrite_source(spark):
    base = spark.createDataFrame(
        [("a", 1, "old a1"), ("a", 2, "old a2"), ("b", 3, "old b")],
        ["source", "id", "text"])
    new = spark.createDataFrame([("a", 9, "new a")],
                                ["source", "id", "text"])
    out = set_ops.overwrite_source(base, new).collect()
    by_source = {}
    for r in out:
        by_source.setdefault(r["source"], []).append(r["text"])
    assert by_source["a"] == ["new a"]
    assert by_source["b"] == ["old b"]
    both = set_ops.combine_shards(base, new)
    assert both.count() == 4


def test_dedup_by_name_keep_longest(spark):
    df = spark.createDataFrame([
        ("Aortic stenosis overview", "long overview text here"),
        ("Aortic stenosis treatment", "sub article"),
        ("Aortic stenosis treatment", "sub article but much longer text"),
        ("Mitral valve repair", "independent article"),
    ], ["name", "text"])
    out = set_ops.dedup_by_name_keep_longest(df, "name")
    rows = {r["name"]: r["text"] for r in out.collect()}
    # same-name merged keeping longest; sub-article of an overview dropped
    assert "Aortic stenosis treatment" not in rows
    assert rows["Aortic stenosis overview"] == "long overview text here"
    assert rows["Mitral valve repair"] == "independent article"


def test_split_docs_regex(spark):
    df = spark.createDataFrame(
        [("u1", "part one\n===\npart two\n===\n"), ("u2", "only one")],
        ["url", "text"])
    out = set_ops.split_docs_regex(df, r"\n===\n")
    got = sorted((r["url"], r["part_no"], r["part"].strip())
                 for r in out.collect())
    assert got == [("u1", 0, "part one"), ("u1", 1, "part two"),
                   ("u2", 0, "only one")]


def test_embedder_deterministic_and_normalized(spark):
    import math
    v1 = embed_text("cardiac study results", 64)
    v2 = embed_text("cardiac study results", 64)
    assert v1 == v2 and len(v1) == 64
    assert abs(math.sqrt(sum(x * x for x in v1)) - 1.0) < 1e-5

    df = spark.createDataFrame([(1, "cardiac study results"),
                                (2, "totally different words")],
                               ["doc_id", "text"])
    rows = {r["id"]: r["embedding"] for r in embed_documents(df).collect()}
    assert [round(x, 5) for x in rows["1"]] == [round(x, 5) for x in v1]

    # embeddings feed the similarity ops unchanged
    from pubscience_spark.operators.similarity import cosine_topk
    emb = embed_documents(df).withColumn("vec_id", F.col("id").cast("long"))
    res = cosine_topk(emb, emb.where(F.col("vec_id") == 1), k=1)
    assert res.collect()[0]["neighbor_id"] == 2


def test_ivf_topk_recall_vs_bruteforce(spark):
    """IVF ANN plumbing: probing more lists raises recall; full probe
    equals brute force."""
    from pubscience_spark.operators.similarity import cosine_topk, ivf_topk
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    queries = emb.where(F.col("vec_id") < 5)
    exact = {(r["query_id"], r["neighbor_id"])
             for r in cosine_topk(emb, queries, k=3).collect()}
    full = {(r["query_id"], r["neighbor_id"])
            for r in ivf_topk(emb, queries, n_lists=8, n_probe=8, k=3)
            .collect()}
    assert full == exact                       # probe-all == brute force
    partial = {(r["query_id"], r["neighbor_id"])
               for r in ivf_topk(emb, queries, n_lists=8, n_probe=2, k=3)
               .collect()}
    assert 0 < len(partial & exact) <= len(exact)


def test_salted_join_equals_plain_join(spark):
    from pubscience_spark.operators.joins import salted_count, salted_join
    big = spark.range(2000).select(
        F.when(F.col("id") < 1500, "hot").otherwise(
            F.concat(F.lit("k"), (F.col("id") % 50))).alias("k"),
        F.col("id").alias("v"))
    small = spark.createDataFrame(
        [("hot", 1), ("k1", 2), ("k2", 3), ("nomatch", 9)], ["k", "s"])
    plain = set((r["k"], r["v"], r["s"]) for r in
                big.join(small, "k").collect())
    salted = set((r["k"], r["v"], r["s"]) for r in
                 salted_join(big, small, "k", n_salt=8,
                             salt_keys=["hot"]).collect())
    assert salted == plain and len(plain) > 1500
    # full-salt mode (no hot list) is also equivalent
    salted_all = set((r["k"], r["v"], r["s"]) for r in
                     salted_join(big, small, "k", n_salt=4).collect())
    assert salted_all == plain
    # left join keeps unmatched big rows exactly once
    left_plain = big.join(small, "k", "left").count()
    left_salted = salted_join(big, small, "k", n_salt=8, how="left",
                              salt_keys=["hot"]).count()
    assert left_salted == left_plain
    # salted two-phase count == plain count
    pc = {r["k"]: r["n"] for r in
          big.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()}
    sc = {r["k"]: r["n"] for r in salted_count(big, "k", 8).collect()}
    assert sc == pc


def test_salted_join_rejects_right_joins(spark):
    from pubscience_spark.operators.joins import salted_join
    big = spark.createDataFrame([("k", 1)], ["k", "v"])
    small = spark.createDataFrame([("k", 2)], ["k", "s"])
    import pytest as _pt
    with _pt.raises(ValueError):
        salted_join(big, small, "k", how="right")
    with _pt.raises(ValueError):        # ADVICE round 2: cross + keys = inner
        salted_join(big, small, "k", how="cross")


def test_salted_join_spreads_identical_duplicate_rows(spark):
    """ADVICE round 2: byte-identical duplicate rows of a hot key (the
    viral-duplicate shape) must land in MULTIPLE salt buckets when they
    span input partitions — a row-content-only hash collapses them all
    into one bucket, leaving the skew unsplit."""
    from pyspark.sql import functions as F2

    # 4000 byte-identical rows spread over 16 input partitions
    big = (spark.range(4000).repartition(16)
           .select(F2.lit("hot").alias("k"), F2.lit("same-text").alias("v")))
    salted = big.withColumn(
        "__salt",
        F2.pmod(F2.xxhash64(F2.col("k"), F2.col("v"),
                            F2.spark_partition_id()), F2.lit(16)))
    n_buckets = salted.select("__salt").distinct().count()
    assert n_buckets > 4  # spread across many buckets, not one


# ------------------------------ paragraph-level dedup (C4 recipe, r4) ----

def _para_dedup_brute(docs, sep="\n\n", min_chars=30, normalize=True):
    """Reference implementation: first occurrence across (doc_id, idx)."""
    seen = set()
    out = {}
    for doc_id in sorted(docs):
        paras = docs[doc_id].split(sep)
        kept = []
        for p in paras:
            if len(p.strip()) < min_chars:
                kept.append(p)
                continue
            key = " ".join(p.strip().lower().split()) if normalize else p
            if key in seen:
                continue
            seen.add(key)
            kept.append(p)
        out[doc_id] = sep.join(kept)
    return out


def test_paragraph_dedup_equals_bruteforce(spark):
    from pubscience_spark.operators.dedup import (
        paragraph_dedup_incremental, unpersist_input)
    footer = "This website uses cookies to improve your experience."
    docs = {
        1: "A unique opening paragraph with enough length here.\n\n"
           + footer + "\n\nShort.\n\nAnother distinct body paragraph "
                      "with plenty of characters.",
        2: footer + "\n\nShort.\n\nA second document's own long "
                    "paragraph that is not repeated.",
        3: "THIS WEBSITE USES COOKIES   to improve your experience.\n\n"
           "Final doc text, long enough to be a dedup key candidate.",
    }
    df = spark.createDataFrame(list(docs.items()), "doc_id long, text string")
    out, _ = paragraph_dedup_incremental(df, min_chars=30)
    got = {r["doc_id"]: r["text"] for r in out.collect()}
    unpersist_input(out)
    assert got == _para_dedup_brute(docs)
    # the normalized footer variant in doc 3 was dropped too
    assert "COOKIES" not in got[3]
    # short paragraphs survive in every doc
    assert got[1].count("Short.") == 1 and "Short." in got[2]


def test_paragraph_dedup_viral_key_salted(spark):
    """A footer repeated across half the corpus (the skew case the
    salted winner join exists for): results equal brute force at the
    default salt and at salt=1, and the salted plan replicates the
    winner side across shards (explode of the salt sequence)."""
    from pubscience_spark.operators.dedup import (
        paragraph_dedup_incremental, unpersist_input)
    footer = ("This exact viral cookie banner appears on half of all "
              "pages in the corpus, verbatim.")
    docs = {}
    for i in range(1, 41):
        body = (f"Document {i} body paragraph with its own distinct "
                f"wording and sufficient length to key on.")
        docs[i] = (body + "\n\n" + footer) if i % 2 else body
    df = spark.createDataFrame(list(docs.items()),
                               "doc_id long, text string")
    want = _para_dedup_brute(docs)
    for s in (8, 1):
        out, _ = paragraph_dedup_incremental(df, min_chars=30, salt=s)
        got = {r["doc_id"]: r["text"] for r in out.collect()}
        unpersist_input(out)
        assert got == want, f"salt={s}"
    out, _ = paragraph_dedup_incremental(df, salt=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    unpersist_input(out)
    assert "explode" in plan.lower()            # winner-side replication


def test_paragraph_dedup_counters_and_empty_doc(spark):
    from pubscience_spark.operators.dedup import (
        paragraph_dedup_incremental, unpersist_input)
    long_p = "Repeated paragraph long enough to key on, clearly."
    df = spark.createDataFrame(
        [(1, long_p), (2, long_p), (3, long_p + "\n\n" + long_p)],
        "doc_id long, text string")
    result, _ = paragraph_dedup_incremental(df)
    out = {r["doc_id"]: r for r in result.collect()}
    assert out[1]["text"] == long_p
    assert out[1]["n_paras_kept"] == 1 and out[1]["n_paras_dropped"] == 0
    # docs 2 and 3 lose everything -> empty text, counters add up
    assert out[2]["text"] == "" and out[2]["n_paras_dropped"] == 1
    assert out[3]["text"] == "" and out[3]["n_paras_dropped"] == 2
    n = result.count()
    unpersist_input(result)
    assert n == 3                               # every doc row survives


def test_paragraph_dedup_plan_is_native(spark):
    """No Python stages: explode/hash/agg/join/reassemble are all JVM."""
    from pubscience_spark.operators.dedup import (
        paragraph_dedup_incremental, unpersist_input)
    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    out, _ = paragraph_dedup_incremental(df)
    plan = out._jdf.queryExecution().executedPlan().toString()
    unpersist_input(out)
    assert "ArrowEvalPython" not in plan and "MapInPandas" not in plan
    assert "BatchEvalPython" not in plan


def test_paragraph_dedup_incremental_cross_run(spark, tmp_path):
    """VERDICT r6 #6: paragraph winners persist across runs — a mirror
    paragraph arriving one run later drops although unique within its
    own run; a crash-retry against the run's own index keeps the SAME
    winner occurrence; parameter mismatches fail fast."""
    import os

    import pytest

    from pubscience_spark.operators.dedup import (
        load_paragraph_index, paragraph_dedup_incremental, unpersist_input)

    footer = "This website uses cookies to improve your experience."
    docs1 = {1: "A unique opening paragraph with enough length here.\n\n"
                + footer,
             2: footer + "\n\nSecond document's own long paragraph "
                         "that is not repeated anywhere else."}
    run1 = spark.createDataFrame(list(docs1.items()),
                                 "doc_id long, text string")
    # no index: within-run dedup, equal to the brute-force oracle
    out1, idx1 = paragraph_dedup_incremental(run1, min_chars=30)
    got1 = {r["doc_id"]: r["text"] for r in out1.collect()}
    assert got1 == _para_dedup_brute(docs1)
    assert footer in got1[1] and footer not in got1[2]
    ipath = os.path.join(str(tmp_path), "para_index")
    idx1.write.mode("append").parquet(ipath)
    unpersist_input(out1)

    # run 2: the footer is UNIQUE within this run but known to the
    # index — it must still drop (the reset bug this operator fixes)
    run2 = spark.createDataFrame(
        [(3, footer + "\n\nA third document arriving one run later "
                      "with its own long body paragraph.")],
        "doc_id long, text string")
    loaded = load_paragraph_index(spark, ipath)
    out2, idx2 = paragraph_dedup_incremental(run2, min_chars=30,
                                             index_df=loaded)
    got2 = {r["doc_id"]: r["text"] for r in out2.collect()}
    assert footer not in got2[3] and "third document" in got2[3]
    # only run-2's own new paragraph enters the index
    assert idx2.count() == 1
    idx2.write.mode("append").parquet(ipath)
    unpersist_input(out2)

    # crash-retry: run 1 re-marked AFTER its index committed must keep
    # the SAME winner occurrence (identity match), i.e. reproduce got1
    loaded = load_paragraph_index(spark, ipath)
    out1b, idx1b = paragraph_dedup_incremental(run1, min_chars=30,
                                               index_df=loaded)
    assert {r["doc_id"]: r["text"] for r in out1b.collect()} == got1
    assert idx1b.count() == 0                  # nothing new on retry
    unpersist_input(out1b)
    # duplicate appends collapse on read
    idx1.write.mode("append").parquet(ipath)
    n_now = load_paragraph_index(spark, ipath).count()
    assert n_now == 4                          # 3 from run1 + 1 from run2

    # parameter mismatch fails fast; MIXED index fails fast
    with pytest.raises(ValueError, match="min_chars=30"):
        paragraph_dedup_incremental(run2, min_chars=20, index_df=loaded)
    _, idx_mix = paragraph_dedup_incremental(run2, min_chars=20)
    mixed = loaded.unionByName(idx_mix)
    with pytest.raises(ValueError, match="MIXED"):
        paragraph_dedup_incremental(run2, min_chars=30, index_df=mixed)
