"""Similarity operators, part 9 (round-10 STAGED): the OPQ-rotated
IVFADC composite — Ge et al.'s CVPR'13 rotation applied where
production systems apply it (FAISS's `OPQ..,IVF..,PQ..` factory
string): to the RESIDUAL space of the coarse quantizer. The coarse
assignment stays in the raw space (rotation preserves L2, so cell
geometry is unchanged); the residuals are rotated by a learned
orthonormal R before PQ encoding, which balances per-subspace
residual variance and lowers ADC distortion at identical index bytes
({PQ_M} codes + a cell id per vector).

Training reuses similarity8's alternation verbatim on the residual
corpus (`train_opq_on`), seeded from similarity7's residual
codebooks — so the residual-space objective starts AT plain IVFADC's
and can only improve; `q_opq_ivfpq_mse_gain` surfaces the gain and
pytest pins it nonnegative.

Scale shape: identical to q_ivfpq_topk — one Arrow pass assigns
cells, rotates residuals, encodes, and emits (vec_id, adc) for
probed cells only; bounded shortlist TakeOrdered; exact re-rank on
raw embeddings (rotation-free — L2 is rotation-invariant).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.operators.similarity import QUERY_VEC_ID, TOP_K, _query_vec
from timestream_travel_spark.operators.similarity6 import (
    PQ_M,
    PQ_SHORTLIST,
    _codes_for,
    _embedding_matrix,
    _l2sq_lit,
    _np_books,
)
from timestream_travel_spark.operators.similarity7 import (
    IVFPQ_NPROBE,
    _assign_cells,
    _cents_matrix,
    _ivfpq_state,
    _residuals_df,
)
from timestream_travel_spark.operators.similarity8 import (
    quantization_mse_on,
    train_opq_on,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached


@session_cached
def _opq_ivfpq_state(spark: SparkSession, sf_dir: str):
    """(cents, R, books): coarse centroids, the learned rotation and
    the rotated-residual codebooks."""
    cents, pq_books = _ivfpq_state(spark, sf_dir)
    C = _cents_matrix(cents)
    emb = load_table(spark, sf_dir, "embeddings")
    resid = (
        _residuals_df(emb, C)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("embedding")
    )
    R, books = train_opq_on(resid, pq_books)
    return cents, R, books


@query("q_opq_ivfpq_topk")
def q_opq_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_K} ANN via OPQ-rotated IVFADC: coarse cell in raw
    space, residual rotated by the learned R, PQ-encoded against the
    rotated-residual codebooks; the query's per-probed-cell ADC
    tables use its rotated residuals; shortlist then exact-L2 re-rank
    on raw embeddings. Same output contract as q_ivfpq_topk /
    q_pq_ann_topk — the three PQ paths compare directly at equal code
    budget. Rows-only (learned rotation/codebooks); pytest pins
    recall and the residual-space MSE gain."""
    import numpy as np

    cents, R, books = _opq_ivfpq_state(spark, sf_dir)
    C = _cents_matrix(cents)
    Rn = np.asarray(R, dtype=np.float64)
    b = _np_books(books)
    qvec = np.asarray(_query_vec(spark, sf_dir), dtype=np.float64)
    d2 = ((C - qvec[None, :]) ** 2).sum(axis=1)
    probed = np.argsort(d2, kind="stable")[:IVFPQ_NPROBE]
    tables = {}
    for c in probed.tolist():
        qr = ((qvec - C[c]) @ Rn).reshape(PQ_M, 1, -1)
        tables[c] = ((qr - b) ** 2).sum(axis=-1)
    Cl, Rl = C.tolist(), Rn.tolist()
    tbl = {c: t.tolist() for c, t in tables.items()}

    def score(batches):
        import pyarrow as pa

        Cn = np.asarray(Cl, dtype=np.float64)
        Rm = np.asarray(Rl, dtype=np.float64)
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
            codes = _codes_for((x - Cn[cells]) @ Rm, b)
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


@query("q_opq_ivfpq_mse_gain")
def q_opq_ivfpq_mse_gain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Residual-space quantization-MSE audit for the rotated
    composite: the IVFADC residual corpus scored under (I, plain
    residual books) vs (R, rotated books). The rotation trains from
    the plain solution on the SAME objective, so gain_pct ≥ 0 by
    construction — pytest pins it. One row; rows-only (learned
    state)."""
    import numpy as np

    cents, R, opq_books = _opq_ivfpq_state(spark, sf_dir)
    _, pq_books = _ivfpq_state(spark, sf_dir)
    C = _cents_matrix(cents)
    emb = load_table(spark, sf_dir, "embeddings")
    resid = (
        _residuals_df(emb, C)
        .filter(F.col("vec_id") != QUERY_VEC_ID)
        .select("embedding")
        .persist()
    )
    dim = C.shape[1]
    pq_mse = quantization_mse_on(resid, np.eye(dim).tolist(), pq_books)
    opq_mse = quantization_mse_on(resid, R, opq_books)
    resid.unpersist()
    gain = (pq_mse - opq_mse) / pq_mse * 100.0 if pq_mse else 0.0
    return spark.createDataFrame(
        [(round(pq_mse, 6), round(opq_mse, 6), round(gain, 3))],
        "ivfpq_mse double, opq_ivfpq_mse double, gain_pct double",
    )


def encode_opq_ivfpq_codes(emb: DataFrame, cents, R, books) -> DataFrame:
    """(vec_id, cell, codes array<int>) for the ROTATED composite:
    one Arrow pass assigns the coarse cell in raw space (rotation
    preserves L2, so cell geometry is unchanged), rotates the
    residual by R, and PQ-encodes against the rotated-residual
    codebooks — encode_ivfpq_codes (similarity7) with the rotation
    spliced between residual and code."""
    import numpy as np

    Cl = _cents_matrix(cents).tolist()
    Rl = np.asarray(R, dtype=np.float64).tolist()

    def enc(batches):
        import pyarrow as pa

        Cn = np.asarray(Cl, dtype=np.float64)
        Rm = np.asarray(Rl, dtype=np.float64)
        bn = _np_books(books)
        for batch in batches:
            ids = batch.column("vec_id").to_numpy()
            x = _embedding_matrix(batch)
            if x.size == 0:
                continue
            cells = _assign_cells(x, Cn)
            codes = _codes_for((x - Cn[cells]) @ Rm, bn)
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


def build_opq_ivfpq_index(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Materialize the OPQ-IVFADC index: rotated-residual codes
    PARTITIONED BY cell, plus the frozen coarse centroids, the
    learned rotation R, and the rotated-residual codebooks — the
    build_ivfpq_index contract (similarity7) with one more bounded
    table (R is d×d ≤ 64×64). Build-once/read-many; queries prune to
    their nprobe cell directories."""
    from timestream_travel_spark.operators.similarity6 import PQ_K
    from timestream_travel_spark.tables import bounded_df

    cents, R, books = _opq_ivfpq_state(spark, sf_dir)
    emb = load_table(spark, sf_dir, "embeddings")
    encode_opq_ivfpq_codes(emb, cents, R, books).write.partitionBy("cell").mode(
        "overwrite"
    ).parquet(f"{path}/codes")
    bounded_df(
        spark,
        [(i, [float(x) for x in c]) for i, (_lbl, c) in enumerate(cents)],
        "cell int, cent array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/coarse")
    bounded_df(
        spark,
        [(i, [float(x) for x in row]) for i, row in enumerate(R)],
        "i int, r array<double>",
    ).coalesce(1).write.mode("overwrite").parquet(f"{path}/rotation")
    rows = [
        (m, k, [float(x) for x in books[m][k]])
        for m in range(PQ_M)
        for k in range(PQ_K)
    ]
    bounded_df(spark, rows, "m int, k int, cent array<double>").coalesce(
        1
    ).write.mode("overwrite").parquet(f"{path}/codebook")


def opq_ivfpq_topk_from_index(
    spark: SparkSession, sf_dir: str, path: str
) -> DataFrame:
    """Top-{TOP_K} from a pre-built OPQ-IVFADC index: load the frozen
    coarse centroids, rotation and codebook (bounded driver state),
    probe the query's {IVFPQ_NPROBE} nearest cells, scan ONLY those
    cell partitions (PartitionFilters prune the rest), score stored
    codes with per-cell ADC tables built from the ROTATED query
    residuals, shortlist, exact-L2 re-rank on raw embeddings.
    Identical output contract to q_opq_ivfpq_topk — the roundtrip
    pytest asserts exact row equality (both sides sum the M ADC
    terms left-to-right)."""
    import numpy as np

    from timestream_travel_spark.operators.similarity6 import PQ_K

    coarse = sorted(
        spark.read.parquet(f"{path}/coarse").collect(), key=lambda r: r["cell"]
    )
    C = np.asarray([list(r["cent"]) for r in coarse], dtype=np.float64)
    rot = sorted(
        spark.read.parquet(f"{path}/rotation").collect(), key=lambda r: r["i"]
    )
    Rn = np.asarray([list(r["r"]) for r in rot], dtype=np.float64)
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
        qr = ((qvec - C[c]) @ Rn).reshape(PQ_M, 1, -1)
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
