"""Similarity operators, part 6 (round-5 wave 7): product
quantization ANN (Jégou et al., TPAMI'11, public).

PQ is the third memory-bounded ANN path beside int8 affine codes
(q_ann_quantized_topk) and IVF cells (q_ann_ivf_*): split the
embedding into M subvectors, learn a K-centroid codebook per
subspace, store each vector as M small codes, and score queries
against an M×K asymmetric-distance lookup table (ADC) — at 100 TB
the index is M bytes/vector instead of 4·dim, and scoring is M
table lookups instead of a dim-length dot product.

Physical design note (measured at sf0.1, 50k vectors): the
per-subspace argmin is dense linear algebra, and the two idiomatic
relational forms both lose badly — an inlined M×K literal
expression tree compiled a pathological codegen unit (30 s), and a
broadcast join + groupBy-argmin shuffled the 6.4M (subvector ×
centroid) pairs (13 s). The Arrow-vectorized numpy form (the
q_embedding_pca_top1 precedent) does the same math batch-at-a-time
in ~2 s: one mapInArrow pass per Lloyd iteration emitting bounded
(m, code, count, Σsv) partials, and one scoring pass emitting
(vec_id, adc).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.operators.similarity import QUERY_VEC_ID, TOP_K, _query_vec
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import bounded_df, load_table, session_cached

PQ_M = 8  # subspaces
PQ_D = 8  # dims per subspace (M * D = 64 = embedding dim)
PQ_K = 16  # centroids per subspace (1-byte codes with headroom)
PQ_ITERS = 3
PQ_SHORTLIST = 64  # ADC candidates kept for the exact re-rank


def _np_books(books: list[list[list[float]]]):
    import numpy as np

    return np.asarray(books, dtype=np.float64)  # (M, K, D)


def _embedding_matrix(batch):
    """Zero-copy-ish (n, M*D) float64 matrix from an Arrow list
    column — flatten the ListArray values buffer instead of
    to_pylist (the list path materialized 3.2M Python floats per
    pass and dominated the runtime)."""
    import numpy as np

    col = batch.column("embedding")
    vals = col.flatten().to_numpy(zero_copy_only=False)
    return np.asarray(vals, dtype=np.float64).reshape(-1, PQ_M * PQ_D)


def _codes_for(x, b):
    """(n, M) int codes: per-subspace nearest centroid via the
    ||x||² − 2x·c + ||c||² expansion (einsum — no (n,M,K,D)
    broadcast temp). np.argmin takes the FIRST minimum →
    deterministic tie-break toward the lower code."""
    import numpy as np

    xs = x.reshape(-1, PQ_M, PQ_D)  # (n, M, D)
    xc = np.einsum("nmd,mkd->nmk", xs, b)  # (n, M, K)
    x2 = (xs**2).sum(axis=-1)[:, :, None]  # (n, M, 1)
    c2 = (b**2).sum(axis=-1)[None, :, :]  # (1, M, K)
    return np.argmin(x2 - 2.0 * xc + c2, axis=-1)  # (n, M)


def train_pq_codebooks(emb: DataFrame) -> list[list[list[float]]]:
    """Lloyd's k-means per subspace, all M subspaces updated in ONE
    Arrow pass per iteration: each partition batch emits bounded
    (m, code, n, Σsubvector) partials and the DRIVER merges them in
    a deterministically sorted order (a Spark-side F.sum over the
    float64 partials would merge in task-completion order — the
    order-dependent double-SUM hazard registry.py bans), then
    rebuilds the M×K×D codebook (8×16×8 doubles). The query vector
    (vec_id {QUERY_VEC_ID}) is EXCLUDED — the query must not bias
    its own index. Init: subvectors of the first PQ_K corpus vectors
    by vec_id (deterministic). Only codebook-sized state ever
    reaches the driver — the shape that holds at 100 TB
    (ITERS × one scan)."""
    import numpy as np

    corpus = emb.filter(F.col("vec_id") != QUERY_VEC_ID)
    v = to_double_array(F.col("embedding"))
    init_rows = corpus.orderBy("vec_id").limit(PQ_K).select(v.alias("e")).collect()
    if len(init_rows) < PQ_K:
        raise ValueError(
            f"PQ needs >= {PQ_K} corpus vectors to seed codebooks, got {len(init_rows)}"
        )
    books = [
        [list(r["e"])[m * PQ_D : (m + 1) * PQ_D] for r in init_rows]
        for m in range(PQ_M)
    ]
    for _ in range(PQ_ITERS):
        b = _np_books(books)

        def partials(batches):
            import pyarrow as pa

            for batch in batches:
                x = _embedding_matrix(batch)
                if x.size == 0:
                    continue
                codes = _codes_for(x, b)  # (n, M)
                ms, ks, ns, sums = [], [], [], []
                xs = x.reshape(-1, PQ_M, PQ_D)
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

        rows = (
            corpus.select(v.alias("embedding"))
            .mapInArrow(partials, "m int, k int, n bigint, s array<double>")
            .collect()
        )
        # deterministic merge: sort the bounded partial list by value,
        # then left-fold — identical result whatever the task order
        acc: dict[tuple[int, int], tuple[int, list[float]]] = {}
        for r in sorted(rows, key=lambda r: (r["m"], r["k"], r["n"], tuple(r["s"]))):
            key = (r["m"], r["k"])
            n0, s0 = acc.get(key, (0, [0.0] * PQ_D))
            acc[key] = (n0 + r["n"], [a + x for a, x in zip(s0, r["s"])])
        # empty cells keep their previous centroid
        books = [
            [
                [x / acc[(m, k)][0] for x in acc[(m, k)][1]]
                if (m, k) in acc
                else books[m][k]
                for k in range(PQ_K)
            ]
            for m in range(PQ_M)
        ]
    return books


# training is several Spark jobs, and registry builders must stay
# cheap to construct (the registry contract tests build EVERY query);
# the learned codebook is a pure function of the embeddings fixture
@session_cached
def pq_codebooks(spark: SparkSession, sf_dir: str) -> list[list[list[float]]]:
    """The PQ codebooks trained on the embeddings fixture."""
    return train_pq_codebooks(load_table(spark, sf_dir, "embeddings"))


def _l2sq_lit(a: Column, b: list[float]) -> Column:
    lit = F.array(*[F.lit(float(x)) for x in b])
    return F.aggregate(
        F.zip_with(a, lit, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def encode_pq_codes(emb: DataFrame, books: list[list[list[float]]]) -> DataFrame:
    """(vec_id, codes array<int>) — the PERSISTENT PQ index payload:
    one Arrow-vectorized pass, {PQ_M} small ints per vector."""
    b = _np_books(books)

    def enc(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            codes = _codes_for(x, b)
            yield pa.record_batch(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "codes": pa.array(codes.tolist(), pa.list_(pa.int32())),
                }
            )

    v = to_double_array(F.col("embedding"))
    return emb.select("vec_id", v.alias("embedding")).mapInArrow(
        enc, "vec_id bigint, codes array<int>"
    )


def build_pq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the PQ index: the (vec_id, codes) table plus the
    frozen codebook, both parquet. Every subsequent ANN query (and
    the streaming maintenance job) reuses the frozen codebook and
    the stored codes instead of retraining/re-encoding — the same
    build-once/read-many contract as build_minhash_index, at
    {PQ_M} ints/vector instead of raw floats."""
    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(spark, sf_dir)
    encode_pq_codes(emb, books).write.mode("overwrite").parquet(f"{path}/codes")
    rows = [
        (m, k, [float(x) for x in books[m][k]])
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    # bounded_df: Arrow path — the default converter costs ~5 s on
    # this array-columned table (see tables.bounded_df)
    bounded_df(spark, rows, "m int, k int, cent array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def pq_topk_from_index(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Top-{TOP_K} from a pre-built PQ index: load the frozen
    codebook (bounded — M×K rows to the driver), build the query's
    ADC table, score the STORED codes with an in-row M-lookup sum
    (the expensive encode never re-runs), shortlist, exact re-rank.
    The bench reports the build-vs-query split."""
    import numpy as np

    cb = spark.read.parquet(f"{path}/codebook").collect()
    books = [[None] * PQ_K for _ in range(PQ_M)]
    for r in cb:
        books[r["m"]][r["k"]] = list(r["cent"])
    qvec = _query_vec(spark, sf_dir)
    b = _np_books(books)
    q = np.asarray(qvec, dtype=np.float64).reshape(PQ_M, 1, PQ_D)
    table = ((q - b) ** 2).sum(axis=-1)  # (M, K)
    table_lit = F.array(
        *[F.array(*[F.lit(float(x)) for x in row]) for row in table.tolist()]
    )
    adc_terms = [
        F.element_at(
            F.element_at(table_lit, m + 1), F.element_at("codes", m + 1) + 1
        )
        for m in range(PQ_M)
    ]
    adc = adc_terms[0]
    for t in adc_terms[1:]:
        adc = adc + t
    shortlist = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", adc.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    exact = _l2sq_lit(v, qvec)
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(exact, 6).alias("l2sq"))
        .orderBy(F.asc("l2sq"), F.asc("vec_id"))
        .limit(TOP_K)
    )


@query("q_pq_ann_topk")
def q_pq_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} ANN via product quantization with asymmetric
    distance and exact re-rank (ADC-R): encode the corpus as
    M={PQ_M} codes, score every vector as Σ_m table[m][code_m]
    against the query's M×K distance table (bounded — a query
    parameter), keep the {PQ_SHORTLIST}-candidate shortlist, then
    re-rank the shortlist with EXACT L2 on the raw embeddings.
    Ascending exact distance, vec_id tie-break. Rows-only oracle
    (depends on learned codebooks); pytest pins recall against the
    exact L2 top-k.

    Scale shape: training and scoring are full scans with bounded
    driver state; encode+ADC runs as ONE Arrow-vectorized pass
    emitting (vec_id, adc) — no join, no shuffle before the
    shortlist TakeOrdered (see module docstring for the measured
    alternatives) — and only the bounded shortlist touches raw
    floats again (broadcast join back to the embedding table). At
    100 TB the encoded (vec_id, codes) table is the persistent
    index: {PQ_M} bytes/vector vs 256 bytes of floats, with
    shortlist size as the recall/IO knob."""
    import numpy as np

    emb = load_table(spark, sf_dir, "embeddings")
    books = pq_codebooks(spark, sf_dir)
    qvec = _query_vec(spark, sf_dir)
    b = _np_books(books)
    q = np.asarray(qvec, dtype=np.float64).reshape(PQ_M, 1, PQ_D)
    table = ((q - b) ** 2).sum(axis=-1)  # (M, K) ADC lookup

    def score(batches):
        import pyarrow as pa

        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            codes = _codes_for(x, b)  # (n, M)
            adc = table[np.arange(PQ_M)[None, :], codes].sum(axis=1)
            yield pa.record_batch(
                {"vec_id": pa.array(ids, pa.int64()), "adc": pa.array(adc)}
            )

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
