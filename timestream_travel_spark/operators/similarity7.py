"""Similarity operators, part 7 (round-8 wave): IVF-PQ composite ANN
— the production IVFADC layout of Jégou et al., TPAMI'11 §IV: a
coarse quantizer routes each vector to a cell, product quantization
encodes the RESIDUAL (x − centroid) rather than x itself, and a
query scores only the codes of its nprobe nearest cells with a
per-cell asymmetric-distance table built from the query's residual.
Residual encoding is why IVFADC beats plain PQ at equal code budget:
residuals concentrate near 0, so the same K codebook centroids cover
them with less quantization error.

Composition: the coarse quantizer is similarity2's deterministic
label-centroid stand-in (same plumbing as a trained k-means); the
subspace machinery (codebook Lloyd loop, Arrow-vectorized encode,
ADC lookup, shortlist + exact re-rank) is similarity6's, retrained
here on residuals.

Reference parity: none (cmd/backup.go) — north-star similarity
capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.operators.similarity import QUERY_VEC_ID, TOP_K, _query_vec
from timestream_travel_spark.operators.similarity2 import label_centroids
from timestream_travel_spark.operators.similarity6 import (
    PQ_K,
    PQ_M,
    PQ_SHORTLIST,
    _codes_for,
    _embedding_matrix,
    _l2sq_lit,
    _np_books,
    train_pq_codebooks,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import bounded_df, load_table, session_cached

IVFPQ_NPROBE = 3


def _cents_matrix(cents):
    import numpy as np

    return np.asarray([c for _, c in cents], dtype=np.float64)  # (k, dim)


def _assign_cells(x, C):
    """(n,) cell indices: argmin squared L2 over the coarse centroids
    via the ||x||² − 2x·C + ||C||² expansion; np.argmin takes the
    FIRST minimum → deterministic tie-break toward the lower index."""
    import numpy as np

    xc = x @ C.T  # (n, k)
    c2 = (C**2).sum(axis=1)[None, :]
    return np.argmin(c2 - 2.0 * xc, axis=1)  # ||x||² constant per row


def _residuals_df(emb: DataFrame, C) -> DataFrame:
    """(vec_id, cell, embedding=residual) in one Arrow pass."""
    Cl = C.tolist()

    def res(batches):
        import numpy as np
        import pyarrow as pa

        Cn = np.asarray(Cl, dtype=np.float64)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            cells = _assign_cells(x, Cn)
            r = x - Cn[cells]
            yield pa.record_batch(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "cell": pa.array(cells.astype("int32"), pa.int32()),
                    "embedding": pa.array(r.tolist(), pa.list_(pa.float64())),
                }
            )

    v = to_double_array(F.col("embedding"))
    return emb.select("vec_id", v.alias("embedding")).mapInArrow(
        res, "vec_id bigint, cell int, embedding array<double>"
    )


@session_cached
def _ivfpq_state(spark: SparkSession, sf_dir: str):
    """(cents, books): the coarse centroid list (label order) and the
    residual PQ codebooks — bounded driver state, trained once."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = sorted(label_centroids(emb), key=lambda lc: lc[0])
    C = _cents_matrix(cents)
    resid = _residuals_df(emb, C)
    books = train_pq_codebooks(resid)
    return cents, books


@query("q_ivfpq_topk")
def q_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} ANN via IVF-PQ (IVFADC): route every vector to its
    nearest coarse centroid, PQ-encode the residual, and score only
    the {IVFPQ_NPROBE} cells nearest the query — each probed cell
    gets its OWN ADC table built from the query's residual against
    that cell's centroid — then exact-L2 re-rank the
    {PQ_SHORTLIST}-candidate shortlist on raw embeddings. Ascending
    exact distance, vec_id tie-break (the q_pq_ann_topk output
    contract, so the two PQ paths are directly comparable).
    Rows-only oracle (learned codebooks); pytest pins recall vs the
    exact L2 top-k and vs plain PQ at equal code budget.

    Scale shape: ONE Arrow-vectorized pass assigns cells, computes
    residuals, encodes codes, and emits (vec_id, adc) for probed-cell
    rows only — no join, no shuffle before the shortlist
    TakeOrderedAndProject; the bounded shortlist broadcasts back for
    the exact re-rank. At 100 TB the (cell, codes) table is the
    persistent index partitioned BY CELL, so a query scans nprobe/k
    of the index — the IVF pruning plain PQ lacks — while keeping
    {PQ_M} bytes/vector."""
    import numpy as np

    cents, books = _ivfpq_state(spark, sf_dir)
    C = _cents_matrix(cents)
    b = _np_books(books)
    qvec = np.asarray(_query_vec(spark, sf_dir), dtype=np.float64)
    d2 = ((C - qvec[None, :]) ** 2).sum(axis=1)
    probed = np.argsort(d2, kind="stable")[:IVFPQ_NPROBE]  # cell indices
    # per-probed-cell ADC tables from the query's residual
    tables = {}
    for c in probed.tolist():
        qr = (qvec - C[c]).reshape(PQ_M, 1, -1)
        tables[c] = ((qr - b) ** 2).sum(axis=-1)  # (M, K)

    Cl = C.tolist()
    tbl = {c: t.tolist() for c, t in tables.items()}

    def score(batches):
        import pyarrow as pa

        Cn = np.asarray(Cl, dtype=np.float64)
        tn = {c: np.asarray(t) for c, t in tbl.items()}
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            cells = _assign_cells(x, Cn)
            keep = np.isin(cells, list(tn))
            if not keep.any():
                continue
            ids, x, cells = ids[keep], x[keep], cells[keep]
            codes = _codes_for(x - Cn[cells], b)  # (n, M) residual codes
            adc = np.empty(len(ids), dtype=np.float64)
            for c in tn:
                m = cells == c
                if m.any():
                    adc[m] = tn[c][np.arange(PQ_M)[None, :], codes[m]].sum(axis=1)
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
    exact = _l2sq_lit(v, [float(x) for x in qvec.tolist()])
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(exact, 6).alias("l2sq"))
        .orderBy(F.asc("l2sq"), F.asc("vec_id"))
        .limit(TOP_K)
    )


def encode_ivfpq_codes(emb: DataFrame, cents, books) -> DataFrame:
    """(vec_id, cell, codes array<int>) — the persistent IVFADC index
    payload: ONE Arrow-vectorized pass assigns each vector to its
    coarse cell, forms the residual, and PQ-encodes it against the
    frozen codebooks. {PQ_M} small ints + a cell id per vector."""
    Cl = _cents_matrix(cents).tolist()

    def enc(batches):
        import numpy as np
        import pyarrow as pa

        Cn = np.asarray(Cl, dtype=np.float64)
        bn = _np_books(books)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            cells = _assign_cells(x, Cn)
            codes = _codes_for(x - Cn[cells], bn)
            yield pa.record_batch(
                {
                    "vec_id": pa.array(ids, pa.int64()),
                    "cell": pa.array(cells.astype("int32"), pa.int32()),
                    "codes": pa.array(codes.tolist(), pa.list_(pa.int32())),
                }
            )

    v = to_double_array(F.col("embedding"))
    return emb.select("vec_id", v.alias("embedding")).mapInArrow(
        enc, "vec_id bigint, cell int, codes array<int>"
    )


def build_ivfpq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the IVFADC index: the (vec_id, cell, codes) table
    PARTITIONED BY cell, plus the frozen coarse centroids and residual
    codebooks, all parquet. Build-once/read-many, the same contract as
    build_pq_index — and because codes are laid out by cell, a query
    scans only its nprobe cell directories (partition pruning), which
    is the access pattern that makes IVF the scale path at 100 TB."""
    cents, books = _ivfpq_state(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    encode_ivfpq_codes(emb, cents, books).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    # coarse centroids in row order (= cell index) — k bounded rows.
    # bounded_df: the default local->DataFrame converter costs ~5 s
    # per array-columned table; the Arrow path is ~0.25 s
    bounded_df(
        spark,
        [(i, [float(x) for x in c]) for i, (_lbl, c) in enumerate(cents)],
        "cell int, cent array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/coarse")
    rows = [
        (m, k, [float(x) for x in books[m][k]])
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    bounded_df(spark, rows, "m int, k int, cent array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def ivfpq_topk_from_index(spark: SparkSession, sf_dir: str, path: str) -> DataFrame:
    """Top-{TOP_K} from a pre-built IVFADC index: load the frozen
    coarse centroids + codebook (bounded driver state), pick the
    query's {IVFPQ_NPROBE} nearest cells, scan ONLY those cell
    partitions of the codes table (PartitionFilters prune the rest),
    score stored codes with the per-cell ADC table dispatched by a
    bounded CASE over the probed cells, shortlist, exact re-rank.
    Identical output contract to q_ivfpq_topk — the roundtrip pytest
    asserts exact row equality (both sides sum the M ADC terms
    left-to-right, so the doubles match bit-for-bit)."""
    import numpy as np

    coarse = sorted(
        spark.read.parquet(f"{path}/coarse").collect(), key=lambda r: r["cell"]
    )
    C = np.asarray([list(r["cent"]) for r in coarse], dtype=np.float64)
    cb = spark.read.parquet(f"{path}/codebook").collect()
    books = [[None] * PQ_K for _ in range(PQ_M)]
    for r in cb:
        books[r["m"]][r["k"]] = list(r["cent"])
    b = _np_books(books)
    qvec = np.asarray(_query_vec(spark, sf_dir), dtype=np.float64)
    d2 = ((C - qvec[None, :]) ** 2).sum(axis=1)
    probed = [int(c) for c in np.argsort(d2, kind="stable")[:IVFPQ_NPROBE]]

    adc = None
    for c in probed:
        qr = (qvec - C[c]).reshape(PQ_M, 1, -1)
        t = ((qr - b) ** 2).sum(axis=-1)  # (M, K) — bounded literal
        t_lit = F.array(
            *[F.array(*[F.lit(float(x)) for x in row]) for row in t.tolist()]
        )
        terms = [
            F.element_at(
                F.element_at(t_lit, m + 1), F.element_at("codes", m + 1) + 1
            )
            for m in range(PQ_M)
        ]
        s = terms[0]
        for x in terms[1:]:
            s = s + x
        adc = F.when(F.col("cell") == c, s) if adc is None else adc.when(
            F.col("cell") == c, s
        )

    shortlist = (
        spark.read.parquet(f"{path}/codes")
        .filter(F.col("cell").isin(probed))
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("vec_id", adc.alias("adc"))
        .orderBy(F.asc("adc"), F.asc("vec_id"))
        .limit(PQ_SHORTLIST)
        .select("vec_id")
    )
    emb = load_table(spark, sf_dir, "embeddings")
    v = to_double_array(F.col("embedding"))
    exact = _l2sq_lit(v, [float(x) for x in qvec.tolist()])
    return (
        emb.join(F.broadcast(shortlist), "vec_id")
        .select("vec_id", F.round(exact, 6).alias("l2sq"))
        .orderBy(F.asc("l2sq"), F.asc("vec_id"))
        .limit(TOP_K)
    )
