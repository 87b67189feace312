"""Similarity operators, part 8 (round 9): OPTIMIZED product
quantization — OPQ, the non-parametric rotation of Ge et al.,
"Optimized Product Quantization for Approximate Nearest Neighbor
Search" (CVPR 2013, public). Plain PQ quantizes the raw coordinate
split into M subspaces; OPQ learns an orthonormal rotation R so the
rotated data's subspaces carry balanced variance and lower
quantization error — the standard upgrade to the similarity6 PQ
index at zero extra index bytes (R is d×d driver state, applied
during encode/query, never stored per vector).

Training alternates two exactly-solvable subproblems (Ge §4,
non-parametric OPQ):
  1. fix R: one Lloyd step of the M per-subspace codebooks on the
     rotated corpus X·R (the similarity6 partials pass, reused);
  2. fix codebooks: the orthonormal R minimizing ||X·R − Y||² (Y =
     the quantized reconstruction) is the orthogonal Procrustes
     solution R = U·Vᵀ from the SVD of XᵀY — XᵀY is a bounded d×d
     sufficient statistic, accumulated distributedly and
     SVD-decomposed on the driver (64×64, microseconds).
Each subproblem monotonically lowers the SAME objective, so starting
from the plain-PQ solution (R = I, similarity6 codebooks) the OPQ
objective can only improve on PQ's — `q_opq_mse_gain` surfaces that
as a query and pytest pins it.

Scale shape: every pass is a full corpus scan with bounded driver
state (M×K×D codebook + d×d rotation + d×d scatter partials) —
identical cost class to similarity6's Lloyd loop; at 100 TB the
rotation rides with the codebook as frozen query-time state.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.operators.similarity import QUERY_VEC_ID, TOP_K, _query_vec
from timestream_travel_spark.operators.similarity6 import (
    PQ_D,
    PQ_K,
    PQ_M,
    PQ_SHORTLIST,
    _codes_for,
    _embedding_matrix,
    _l2sq_lit,
    _np_books,
    pq_codebooks,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

OPQ_ITERS = 4  # (codebook step, Procrustes step) alternations
DIM = PQ_M * PQ_D


def _book_partials(corpus: DataFrame, R, b):
    """One Lloyd assignment+sum pass over the ROTATED corpus: bounded
    (m, code, n, Σ rotated-subvector) partials, driver-merged in
    deterministically sorted order (the similarity6 discipline — a
    Spark-side float SUM would merge in task order)."""
    import numpy as np

    Rl = R.tolist()

    def partials(batches):
        import pyarrow as pa

        Rn = np.asarray(Rl, dtype=np.float64)
        for batch in batches:
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            xr = x @ Rn
            codes = _codes_for(xr, b)
            ms, ks, ns, sums = [], [], [], []
            xs = xr.reshape(-1, PQ_M, PQ_D)
            for m in range(PQ_M):
                for k in np.unique(codes[:, m]):
                    sel = xs[codes[:, m] == k, m, :]
                    ms.append(m)
                    ks.append(int(k))
                    ns.append(sel.shape[0])
                    sums.append(sel.sum(axis=0).tolist())
            yield pa.record_batch(
                {
                    "m": pa.array(ms, pa.int32()),
                    "k": pa.array(ks, pa.int32()),
                    "n": pa.array(ns, pa.int64()),
                    "s": pa.array(sums, pa.list_(pa.float64())),
                }
            )

    return corpus.mapInArrow(partials, "m int, k int, n bigint, s array<double>").collect()


def _scatter_xty(corpus: DataFrame, R, b):
    """Σ xᵢ·yᵢᵀ over the corpus, where yᵢ is the codebook
    reconstruction of the rotated xᵢ — the d×d Procrustes sufficient
    statistic, one flattened array per batch, deterministically
    sorted before the driver fold."""
    import numpy as np

    Rl = R.tolist()

    def partials(batches):
        import pyarrow as pa

        Rn = np.asarray(Rl, dtype=np.float64)
        for batch in batches:
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            xr = x @ Rn
            codes = _codes_for(xr, b)
            y = b[np.arange(PQ_M)[None, :], codes].reshape(-1, DIM)  # recon
            s = x.T @ y  # (d, d)
            yield pa.record_batch(
                {
                    "n": pa.array([x.shape[0]], pa.int64()),
                    "s": pa.array([s.reshape(-1).tolist()], pa.list_(pa.float64())),
                }
            )

    rows = corpus.mapInArrow(partials, "n bigint, s array<double>").collect()
    S = np.zeros((DIM, DIM), dtype=np.float64)
    for r in sorted(rows, key=lambda r: (r["n"], tuple(r["s"][:8]))):
        S += np.asarray(r["s"], dtype=np.float64).reshape(DIM, DIM)
    return S


def train_opq_on(corpus: DataFrame, init_books):
    """Non-parametric OPQ alternation over ANY corpus DataFrame with
    one `embedding array<double>` column (already query-filtered):
    seeds from (R = I, init_books) so the shared objective starts at
    the plain-PQ solution and can only improve. Returns (R row-major
    lists, rotated-space books). similarity9 reuses this on the
    IVFADC residual corpus."""
    import numpy as np

    books = [list(map(list, bk)) for bk in init_books]
    R = np.eye(DIM, dtype=np.float64)
    corpus = corpus.persist()
    for _ in range(OPQ_ITERS):
        b = _np_books(books)
        # Procrustes step: R = U·Vᵀ of the current scatter
        S = _scatter_xty(corpus, R, b)
        U, _, Vt = np.linalg.svd(S)
        R = U @ Vt
        # codebook step on the newly rotated corpus
        rows = _book_partials(corpus, R, b)
        acc: dict[tuple[int, int], tuple[int, list[float]]] = {}
        for r in sorted(rows, key=lambda r: (r["m"], r["k"], r["n"], tuple(r["s"]))):
            key = (r["m"], r["k"])
            n0, s0 = acc.get(key, (0, [0.0] * PQ_D))
            acc[key] = (n0 + r["n"], [a + x for a, x in zip(s0, r["s"])])
        books = [
            [
                [x / acc[(m, k)][0] for x in acc[(m, k)][1]]
                if (m, k) in acc
                else books[m][k]
                for k in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
    corpus.unpersist()
    return R.tolist(), books


@session_cached
def train_opq(spark: SparkSession, sf_dir: str):
    """(R, books): the learned rotation (d×d, row-major lists) and
    the rotated-space codebooks. Seeds from the plain-PQ solution
    (R = I, similarity6 codebooks) so the OPQ objective starts AT
    the PQ objective and each alternation can only lower it."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    corpus = emb.filter(F.col("vec_id") != QUERY_VEC_ID).select(v.alias("embedding"))
    return train_opq_on(corpus, pq_codebooks(spark, sf_dir))


def quantization_mse(spark: SparkSession, sf_dir: str, R, books) -> float:
    """Corpus mean squared quantization error ‖x·R − recon‖² under a
    (rotation, codebook) pair — the OPQ training objective. R = I
    scores plain PQ. One bounded-partial scan; deterministic fold."""
    emb = load_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    corpus = emb.filter(F.col("vec_id") != QUERY_VEC_ID).select(v.alias("embedding"))
    return quantization_mse_on(corpus, R, books)


def quantization_mse_on(corpus: DataFrame, R, books) -> float:
    """quantization_mse over ANY single-`embedding`-column corpus
    DataFrame (the similarity9 residual-space entry point)."""
    import numpy as np

    b = _np_books(books)
    Rl = [list(map(float, row)) for row in R]

    def partials(batches):
        import pyarrow as pa

        Rn = np.asarray(Rl, dtype=np.float64)
        for batch in batches:
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            xr = x @ Rn
            codes = _codes_for(xr, b)
            y = b[np.arange(PQ_M)[None, :], codes].reshape(-1, DIM)
            err = float(((xr - y) ** 2).sum())
            yield pa.record_batch(
                {"n": pa.array([x.shape[0]], pa.int64()),
                 "e": pa.array([err], pa.float64())}
            )

    rows = corpus.mapInArrow(partials, "n bigint, e double").collect()
    n = sum(r["n"] for r in rows)
    e = sum(r["e"] for r in sorted(rows, key=lambda r: (r["n"], r["e"])))
    return e / n if n else 0.0


@query("q_opq_ann_topk")
def q_opq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} ANN via OPQ (rotation + product quantization) with
    asymmetric distance and exact re-rank: rotate query and corpus by
    the learned orthonormal R, score rotated codes against the
    rotated query's M×K ADC table, shortlist {PQ_SHORTLIST}, re-rank
    with EXACT L2 on the raw embeddings (rotation preserves L2, so
    the exact re-rank needs no rotation). Same output contract as
    q_pq_ann_topk — directly comparable. Rows-only oracle (learned
    rotation + codebooks); pytest pins the MSE gain vs plain PQ,
    R's orthonormality, and recall vs the exact top-k."""
    import numpy as np

    R, books = train_opq(spark, sf_dir)
    Rn = np.asarray(R, dtype=np.float64)
    b = _np_books(books)
    qvec = _query_vec(spark, sf_dir)
    q = (np.asarray(qvec, dtype=np.float64) @ Rn).reshape(PQ_M, 1, PQ_D)
    table = ((q - b) ** 2).sum(axis=-1)  # (M, K) ADC in rotated space
    Rl = Rn.tolist()

    def score(batches):
        import pyarrow as pa

        Rm = np.asarray(Rl, dtype=np.float64)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            codes = _codes_for(x @ Rm, b)
            adc = table[np.arange(PQ_M)[None, :], codes].sum(axis=1)
            yield pa.record_batch(
                {"vec_id": pa.array(ids, pa.int64()), "adc": pa.array(adc)}
            )

    emb = load_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    shortlist = (
        emb.filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", v.alias("embedding"))
        .mapInArrow(score, "vec_id bigint, adc double")
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    exact = _l2sq_lit(v, qvec)
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(exact, 6).alias("l2sq"))
        .orderBy(F.asc("l2sq"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@query("q_opq_mse_gain")
def q_opq_mse_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The index-quality audit for the rotation: corpus quantization
    MSE under plain PQ (R = I, similarity6 codebooks) vs OPQ
    (learned R + rotated codebooks) and the relative gain. OPQ seeds
    from the PQ solution and each alternation lowers the shared
    objective, so gain_pct ≥ 0 by construction — pytest asserts it.
    One row. Rows-only (learned state); bounded driver math."""
    import numpy as np

    pq_books = pq_codebooks(spark, sf_dir)
    R, opq_books = train_opq(spark, sf_dir)
    eye = np.eye(DIM).tolist()
    pq_mse = quantization_mse(spark, sf_dir, eye, pq_books)
    opq_mse = quantization_mse(spark, sf_dir, R, opq_books)
    gain = (pq_mse - opq_mse) / pq_mse * 100.0 if pq_mse else 0.0
    return spark.createDataFrame(
        [(round(pq_mse, 6), round(opq_mse, 6), round(gain, 3))],
        "pq_mse double, opq_mse double, gain_pct double",
    )
