"""Product-quantization ANN (IVF-PQ's compression half).

At 10^12 documents the float vectors themselves are the bottleneck
(64-dim float32 × 10^12 = 256 TB — they cannot live in executor memory
or shuffle cheaply). Product quantization stores each vector as ``m``
byte codes (64× smaller at m=8) and scores queries against codes via
per-query lookup tables (asymmetric distance computation, ADC) — the
standard faiss IVF-PQ recipe re-expressed in Spark operators:

- :func:`train_pq` — codebooks from a DETERMINISTIC md5-ordered sample
  (faiss practice: train on ~10-100k vectors, not the corpus), numpy
  Lloyd per subspace driver-side. Driver state: m × 256 × dsub floats.
- :func:`encode_pq` — corpus → ``(id, codes: binary[m])``; vectorized
  numpy argmin per subspace in an Arrow batch, no shuffle.
- :func:`pq_topk` — ADC top-k: queries broadcast into a mapInPandas
  pass that emits only each batch's local top-k per query (slim rows),
  then one global window finishes the ranking — candidates, not
  vectors, cross the shuffle.

Vectors are unit-normalized before encoding and querying, so the ADC
inner product approximates cosine (the repo's similarity metric);
precision is approximate by construction — the exactness knob is m.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (BinaryType, DoubleType, IntegerType,
                               LongType, StructField, StructType)


class PQCodebook:
    __slots__ = ("m", "dsub", "centroids")

    def __init__(self, centroids: np.ndarray):
        # centroids: (m, 256, dsub) float32
        self.centroids = centroids
        self.m = centroids.shape[0]
        self.dsub = centroids.shape[2]


def _unit_rows(x: np.ndarray) -> np.ndarray:
    n = np.linalg.norm(x, axis=1, keepdims=True)
    return x / np.maximum(n, 1e-12)


def _adc_tables(qx: np.ndarray, cents: np.ndarray) -> np.ndarray:
    """Per-query ADC lookup tables ``tables[q, j, code]`` computed with
    ROW-COUNT-INDEPENDENT per-row batched matmuls. BLAS gemm rounding
    depends on the matrix shape, so building the same query's table
    inside a 5-row vs a 3-row ``qx`` matmul can differ in the last
    float32 ulp — enough to flip ``round(score, 6)`` on a boundary
    value, so a query's result would depend on which other queries
    share its call. One ``(m,1,dsub)x(m,dsub,256)`` batched matmul per
    query keeps its tables bitwise-identical in any query set."""
    m, n_codes, dsub = cents.shape
    ct = np.ascontiguousarray(cents.transpose(0, 2, 1))  # (m, dsub, 256)
    out = np.empty((len(qx), m, n_codes), dtype=np.float32)
    for i in range(len(qx)):
        out[i] = np.matmul(qx[i].reshape(m, 1, dsub), ct)[:, 0, :]
    return out


def _rows_dot(qx: np.ndarray, mat_t: np.ndarray) -> np.ndarray:
    """``qx @ mat_t`` one gemv row at a time — same row-count-rounding
    independence rationale as :func:`_adc_tables`."""
    out = np.empty((len(qx), mat_t.shape[1]), dtype=np.float32)
    for i in range(len(qx)):
        out[i] = qx[i] @ mat_t
    return out


def _check_dim(x: np.ndarray, codebook: "PQCodebook", who: str) -> None:
    want = codebook.m * codebook.dsub
    if x.shape[1] != want:
        raise ValueError(
            f"{who}: vector dim {x.shape[1]} does not match codebook "
            f"m*dsub = {codebook.m}*{codebook.dsub} = {want}")


def _local_topk_keep(qi: np.ndarray, scores: np.ndarray,
                     kk: int, ids: np.ndarray) -> np.ndarray:
    """Indices of each query's top-``kk`` rows within one batch of
    (query, score) candidate rows — vectorized lexsort, no Python loop.
    Queries with fewer than kk rows keep them all. Ties break on
    ascending ``ids``, matching the global window's
    (score desc, neighbor_id asc) order exactly — otherwise equal-score
    candidates (identical PQ codes are common on near-dup corpora)
    would survive the prune batch-order-dependently."""
    order = np.lexsort((ids, -scores, qi))
    qs = qi[order]
    starts = np.r_[0, np.flatnonzero(qs[1:] != qs[:-1]) + 1]
    sizes = np.diff(np.r_[starts, len(qs)])
    rank = np.arange(len(qs)) - np.repeat(starts, sizes)
    return order[rank < kk]


def _kmeans_np(x: np.ndarray, k: int, n_iter: int) -> np.ndarray:
    """Deterministic Lloyd: init = evenly spaced rows of the (already
    deterministically ordered) training sample."""
    idx = np.linspace(0, len(x) - 1, num=min(k, len(x)), dtype=np.int64)
    cents = x[idx].astype(np.float32).copy()
    if len(cents) < k:                            # tiny sample: pad
        cents = np.vstack([cents,
                           np.zeros((k - len(cents), x.shape[1]),
                                    dtype=np.float32)])
    for _ in range(n_iter):
        # (n,k) squared distances via ||x||² - 2x·c + ||c||²
        d = (-2.0 * x @ cents.T
             + (cents * cents).sum(axis=1)[None, :])
        assign = d.argmin(axis=1)
        # vectorized per-cluster means (round 8): the 256-cluster
        # boolean-mask loop was ~0.27 s of pure driver time per
        # train_pq call (k·n_iter·m masked means); one float64
        # scatter-add + bincount is ~10 ms. float64 accumulation is at
        # least as precise as the float32 pairwise means it replaces —
        # determinism (the only pinned property) is unchanged.
        sums = np.zeros((k, x.shape[1]), dtype=np.float64)
        np.add.at(sums, assign, x.astype(np.float64))
        counts = np.bincount(assign, minlength=k)
        nz = counts > 0
        cents[nz] = (sums[nz] / counts[nz, None]).astype(np.float32)
    return cents


def train_pq(corpus: DataFrame, dim: int, m: int = 8,
             n_train: int = 20_000, n_iter: int = 10,
             id_col: str = "vec_id",
             vec_col: str = "embedding") -> PQCodebook:
    """Train m per-subspace 256-centroid codebooks on an md5-ordered
    sample (deterministic under any partitioning)."""
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    rows = (corpus
            .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(n_train)
            .select(F.col(vec_col).cast("array<float>").alias("v"))
            .collect())
    if not rows:
        raise ValueError("train_pq: empty training corpus")
    x = _unit_rows(np.array([r["v"] for r in rows], dtype=np.float32))
    dsub = dim // m
    cents = np.stack([
        _kmeans_np(x[:, j * dsub:(j + 1) * dsub], 256, n_iter)
        for j in range(m)])
    return PQCodebook(cents)


_CODES_SCHEMA = StructType([StructField("id", LongType()),
                            StructField("codes", BinaryType())])


def encode_pq(corpus: DataFrame, codebook: PQCodebook,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """(id, codes binary[m]) — each byte is the vector's nearest
    sub-centroid in that subspace (on the unit-normalized vector)."""
    cents = codebook.centroids
    m, dsub = codebook.m, codebook.dsub

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_norms = [(cents[j] * cents[j]).sum(axis=1) for j in range(m)]
        for b in it:
            x = _unit_rows(np.stack(
                b["v"].map(lambda v: np.asarray(v, dtype=np.float32))))
            _check_dim(x, codebook, "encode_pq")
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j in range(m):
                sub = x[:, j * dsub:(j + 1) * dsub]
                d = -2.0 * sub @ cents[j].T + c_norms[j][None, :]
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"id": b["id"].astype("int64"),
                                "codes": [c.tobytes() for c in codes]})

    slim = corpus.select(F.col(id_col).cast("long").alias("id"),
                         F.col(vec_col).alias("v"))
    return slim.mapInPandas(_batches, schema=_CODES_SCHEMA)


_TOPK_SCHEMA = StructType([
    StructField("query_id", LongType()),
    StructField("neighbor_id", LongType()),
    StructField("score", DoubleType()),
])


def _empty_topk(spark) -> DataFrame:
    return spark.createDataFrame(
        [], "query_id long, neighbor_id long, score double, rank int")


def _score_chunk(b_ids: np.ndarray, tables: np.ndarray,
                 codes: np.ndarray, ids: np.ndarray,
                 k: int, m: int) -> pd.DataFrame:
    """ADC-score the query set against one Arrow batch of codes and
    keep each query's batch-local top-(k+1) — see _adc_candidates for
    why k+1 and why ties break on ascending id.

    Prune shape (round-6, replacing a per-query Python lexsort loop):
    one ``argpartition`` along axis 1 finds each row's kk-th score, a
    ``>= threshold`` mask collects the top-kk PLUS any boundary ties,
    and one flattened :func:`_local_topk_keep` lexsort over only those
    candidate rows applies the exact (score desc, id asc) tie-break —
    O(nq·n + C log C) for C ≈ nq·kk candidates instead of
    O(nq · n log n)."""
    # scores[q, n] = Σ_j tables[q, j, codes[n, j]] — accumulated one
    # subspace at a time: the one-shot fancy gather materializes an
    # (nq, n, m) intermediate (~327 MB at 1024×10k×8) and ran 14×
    # slower; sequential j-order accumulation is bitwise-identical to
    # numpy's sum over axis for m ≤ 128 (pairwise-sum block size)
    scores = np.zeros((len(b_ids), len(ids)), dtype=np.float32)
    for j in range(m):
        scores += tables[:, j, codes[:, j]]
    nq, n = scores.shape
    kk = min(k + 1, n)
    if kk < n:
        part = np.argpartition(scores, n - kk, axis=1)[:, n - kk:]
        thresh = scores[np.arange(nq)[:, None], part].min(axis=1)
        cand = scores >= thresh[:, None]      # top-kk + boundary ties
    else:
        cand = np.ones_like(scores, dtype=bool)
    qi_c, col_c = np.nonzero(cand)
    keep = _local_topk_keep(qi_c, scores[qi_c, col_c], kk, ids[col_c])
    sel_q, sel_c = qi_c[keep], col_c[keep]
    return pd.DataFrame({"query_id": b_ids[sel_q].astype("int64"),
                         "neighbor_id": ids[sel_c].astype("int64"),
                         "score": scores[sel_q, sel_c]
                         .astype(np.float64)})


def _adc_candidates(codes_df: DataFrame, q_ids: np.ndarray,
                    qx: np.ndarray, codebook: PQCodebook,
                    k: int) -> DataFrame:
    """Batch-local ADC top-(k+1) candidates for one (bounded) query set.

    The (nq, m, 256) lookup tables ship via a Spark broadcast variable
    (torrent-distributed once per executor) rather than task-closure
    pickling, so large query batches don't bloat every task."""
    _check_dim(qx, codebook, "pq_topk")
    m = codebook.m
    # tables[q, j, code] = dot(query_sub_j, centroid_j_code)
    tables = _adc_tables(qx, codebook.centroids)  # (nq, m, 256)
    bc = codes_df.sparkSession.sparkContext.broadcast((q_ids, tables))

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        b_ids, b_tables = bc.value
        for b in it:
            codes = np.stack(
                b["codes"].map(lambda c: np.frombuffer(c, dtype=np.uint8)))
            ids = b["id"].to_numpy()
            # k+1: the query's own vector may sit in this batch and is
            # filtered AFTER pruning — k alone would waste a slot on it
            # and lose the true k-th neighbor (round-3 review). Ties
            # break on ascending id like the global window, so the
            # prune is batch-order independent (round-4 review).
            yield _score_chunk(b_ids, b_tables, codes, ids, k, m)

    return codes_df.mapInPandas(_batches, schema=_TOPK_SCHEMA) \
        .where(F.col("query_id") != F.col("neighbor_id"))


def _rank_topk(cands: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc())
    return (cands.withColumn("rank", F.row_number().over(w))
            .where(F.col("rank") <= k)
            .select("query_id", "neighbor_id",
                    F.round("score", 6).alias("score"), "rank"))


def pq_topk(codes_df: DataFrame, queries: DataFrame,
            codebook: PQCodebook, k: int = 10,
            id_col: str = "vec_id",
            vec_col: str = "embedding") -> DataFrame:
    """ADC top-k: per-query lookup tables (m × 256 inner products) score
    whole Arrow batches of codes with one fancy-index + sum; each batch
    emits only its local top-k per query, the global window finishes.
    Scores approximate cosine (unit-normalized both sides)."""
    q_rows = queries.select(F.col(id_col).cast("long").alias("qid"),
                            F.col(vec_col).alias("qv")).collect()
    if not q_rows:                       # empty query set → empty result
        return _empty_topk(codes_df.sparkSession)
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    qx = _unit_rows(np.array([r["qv"] for r in q_rows], dtype=np.float32))
    return _rank_topk(_adc_candidates(codes_df, q_ids, qx, codebook, k), k)


def _train_pq_residual(corpus: DataFrame, cmat: np.ndarray, m: int,
                       n_train: int, n_iter: int, id_col: str,
                       vec_col: str) -> PQCodebook:
    """Codebooks over residuals (v − coarse centroid) — residuals have
    far smaller variance than raw vectors, so the same m bytes carry
    more precision (the faiss IVF-PQ default)."""
    rows = (corpus
            .orderBy(F.md5(F.col(id_col).cast("string")), id_col)
            .limit(n_train)
            .select(F.col(vec_col).cast("array<float>").alias("v"))
            .collect())
    if not rows:
        raise ValueError("train_pq_residual: empty training corpus")
    x = _unit_rows(np.array([r["v"] for r in rows], dtype=np.float32))
    assign = (x @ cmat.T).argmax(axis=1)
    resid = x - cmat[assign]
    dim = x.shape[1]
    dsub = dim // m
    cents = np.stack([
        _kmeans_np(resid[:, j * dsub:(j + 1) * dsub], 256, n_iter)
        for j in range(m)])
    return PQCodebook(cents)


_CODES_LIST_SCHEMA = StructType([StructField("id", LongType()),
                                 StructField("list_id", IntegerType()),
                                 StructField("codes", BinaryType())])


def _encode_residual(corpus: DataFrame, codebook: PQCodebook,
                     cmat: np.ndarray, id_col: str,
                     vec_col: str) -> DataFrame:
    """(id, list_id, codes): list assignment + residual PQ codes in ONE
    Arrow pass (no second corpus scan, no id join)."""
    cb = codebook.centroids
    m, dsub = codebook.m, codebook.dsub

    def _batches(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        c_norms = [(cb[j] * cb[j]).sum(axis=1) for j in range(m)]
        for b in it:
            x = _unit_rows(np.stack(
                b["v"].map(lambda v: np.asarray(v, dtype=np.float32))))
            assign = (x @ cmat.T).argmax(axis=1)
            resid = x - cmat[assign]
            codes = np.empty((len(x), m), dtype=np.uint8)
            for j in range(m):
                sub = resid[:, j * dsub:(j + 1) * dsub]
                d = -2.0 * sub @ cb[j].T + c_norms[j][None, :]
                codes[:, j] = d.argmin(axis=1)
            yield pd.DataFrame({"id": b["id"].astype("int64"),
                                "list_id": assign.astype("int32"),
                                "codes": [c.tobytes() for c in codes]})

    slim = corpus.select(F.col(id_col).cast("long").alias("id"),
                         F.col(vec_col).alias("v"))
    return slim.mapInPandas(_batches, schema=_CODES_LIST_SCHEMA)


def ivfpq_topk(corpus: DataFrame, queries: DataFrame,
               codebook: PQCodebook | None = None, *, k: int = 10,
               n_lists: int = 16, n_probe: int = 4,
               m: int = 8, residual: bool = False,
               n_train: int = 20_000, pq_iter: int = 10,
               kmeans_iter: int = 5,
               centroids: "str | list[list[float]]" = "kmeans",
               id_col: str = "vec_id",
               vec_col: str = "embedding") -> DataFrame:
    """Full IVF-PQ: coarse inverted lists prune the corpus (each query
    scores only its ``n_probe`` nearest lists — the faiss recipe), then
    PQ-ADC ranks the survivors.

    ``residual=True`` (the faiss default recipe) quantizes
    ``v − coarse_centroid`` instead of raw vectors — on CLUSTERED
    corpora the coarse centroid absorbs most of the magnitude, so the
    same m bytes approximate better (on near-uniform synthetic vectors
    raw encoding can edge it out — measured in the tests; pick per
    corpus). The score
    decomposes linearly: ``q·v ≈ q·c_list + Σ_j Qtable[j, code_j]``
    with the Qtables built against the residual codebooks and the
    ``q·c_list`` term added per candidate from a tiny (nq × n_lists)
    matrix. Residual mode trains its codebook internally (it must match
    these centroids); pass a pre-trained ``codebook`` only with
    ``residual=False``.

    Plan shape: one Arrow pass over the corpus yields slim
    ``(id, list_id, m-byte codes)`` rows; query-side probes are a tiny
    broadcast (query_id, list_id) frame; the equi-join moves only
    ``n_probe/n_lists`` of the code rows per query; scoring is a
    vectorized table lookup; vectors never cross a shuffle. Approximate
    on BOTH axes (coarse recall via n_probe, fine precision via m)."""
    # ``centroids`` mirrors ivf_topk: "kmeans" (default, the recall-tuned
    # coarse quantizer), "first" (first n_lists vectors by id — zero
    # training jobs; at n_probe == n_lists every list is probed, so ADC
    # scores and therefore results are IDENTICAL under any centroid
    # choice, test-pinned), or a precomputed list.
    if centroids == "kmeans":
        from .similarity import kmeans_centroids
        cents = kmeans_centroids(corpus, n_lists, n_iter=kmeans_iter,
                                 id_col=id_col, vec_col=vec_col)
    elif centroids == "first":
        cents = [r["v"] for r in
                 corpus.orderBy(id_col).limit(n_lists)
                 .select(F.col(vec_col).cast("array<double>").alias("v"))
                 .collect()]
    else:
        cents = centroids
    cmat = _unit_rows(np.array(cents, dtype=np.float32))
    if residual:
        if codebook is not None:
            raise ValueError("residual=True trains its own codebook "
                             "(it must match these coarse centroids)")
        codebook = _train_pq_residual(corpus, cmat, m, n_train, pq_iter,
                                      id_col, vec_col)
        coded = _encode_residual(corpus, codebook, cmat, id_col, vec_col)
    else:
        if codebook is None:
            dim = len(corpus.select(vec_col).first()[0])
            codebook = train_pq(corpus, dim=dim, m=m, n_train=n_train,
                                n_iter=pq_iter, id_col=id_col,
                                vec_col=vec_col)
        # literal-expression assignment embeds n_lists×dim constants in
        # the plan — fine for tens of lists, codegen-hostile for the
        # thousands a 10^12-doc IVF wants; switch to the broadcast-join
        # assigner there (same tie-break, equivalence-tested)
        coded = encode_pq(corpus, codebook, id_col, vec_col)
        slim_corpus = corpus.select(F.col(id_col), F.col(vec_col))
        if n_lists > 64:
            from .similarity import ivf_assign_join
            assigned = ivf_assign_join(slim_corpus, cents, vec_col, id_col)
        else:
            from .similarity import ivf_assign
            assigned = ivf_assign(slim_corpus, cents, vec_col)
        lists = assigned.select(F.col(id_col).cast("long").alias("id"),
                                "list_id")
        coded = coded.join(lists, "id")

    q_rows = queries.select(F.col(id_col).cast("long").alias("qid"),
                            F.col(vec_col).alias("qv")).collect()
    if not q_rows:
        return _empty_topk(corpus.sparkSession)
    qx = _unit_rows(np.array([r["qv"] for r in q_rows], dtype=np.float32))
    _check_dim(qx, codebook, "ivfpq_topk")
    qdotc = _rows_dot(qx, cmat.T)                 # (nq, n_lists)
    probe_rows = []
    for r, row in zip(q_rows, qdotc):
        for li in np.argsort(-row)[:n_probe]:
            probe_rows.append((int(r["qid"]), int(li)))
    spark = corpus.sparkSession
    probes = F.broadcast(spark.createDataFrame(
        probe_rows, "query_id long, list_id int"))
    cands = coded.join(probes, "list_id")          # the IVF prune

    mm, dsub = codebook.m, codebook.dsub
    q_ids = np.array([r["qid"] for r in q_rows], dtype=np.int64)
    tables = _adc_tables(qx, codebook.centroids)
    qpos = {int(q): i for i, q in enumerate(q_ids)}
    use_resid = residual

    def _batches(it: "Iterator[pd.DataFrame]") -> "Iterator[pd.DataFrame]":
        for b in it:
            codes = np.stack(
                b["codes"].map(lambda c: np.frombuffer(c, dtype=np.uint8)))
            qi = b["query_id"].map(qpos).to_numpy()
            # sequential j-order accumulation, bitwise-identical to
            # _score_chunk's loop (numpy's sum(axis=1) is pairwise with
            # 8 accumulators at m=8 — a last-ulp float32 divergence that
            # flips round(score, 6) on boundary values)
            per_row = np.zeros(len(qi), dtype=np.float32)
            for j in range(mm):
                per_row += tables[qi, j, codes[:, j]]
            if use_resid:                          # + q·c_list term
                per_row = per_row + qdotc[qi, b["list_id"].to_numpy()]
            # batch-local top-(k+1) per query (same prune as pq_topk) so
            # ~k rows per (query, batch) reach the global window instead
            # of every probed code row — at n_probe/n_lists × 10^12 rows
            # that window shuffle is otherwise the bottleneck
            q_np = b["query_id"].to_numpy()
            n_np = b["id"].to_numpy()
            keep = _local_topk_keep(qi, per_row, k + 1, n_np)
            yield pd.DataFrame(
                {"query_id": q_np[keep].astype("int64"),
                 "neighbor_id": n_np[keep].astype("int64"),
                 "score": per_row[keep].astype(np.float64)})

    scored = cands.mapInPandas(_batches, schema=_TOPK_SCHEMA) \
        .where(F.col("query_id") != F.col("neighbor_id"))
    return _rank_topk(scored, k)
