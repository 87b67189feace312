"""Cluster-quality audit over the embedding corpus' label cells —
Davies–Bouldin (IEEE TPAMI'79) and a Dunn-family index (Dunn 1974;
centroid-scatter generalization per Bezdek & Pal, IEEE TSMC'98).
The cells are the same label clusters the IVF coarse quantizer uses
(similarity2.label_centroids), so these ARE the quality audit for
the IVF index's cell layout: a high DB ratio / low Dunn flags cells
whose members sit closer to a neighboring centroid than their own —
the geometry under which nprobe must grow to hold recall.

Reference parity: none (cmd/backup.go has no vector surface) —
north-star embedding-analytics capability.

Exactness design (the registry's double-sum discipline): every
corpus-sized sum accumulates in DECIMAL (order-independent) —
elements quantize at scale 9 (|x| < ~5 for the N(0,1)-ish fixture →
value·10⁹ ≪ 2^53), squares at scale 12. The bounded per-(label,pos)
sufficient statistics then bridge to double (VARCHAR bridge on the
DuckDB side, ops.dsum_sql rationale) and all remaining float work is
per-output-row flat expressions plus per-dim DECIMAL-quantized terms
(scatter: scale 8 on S²-terms ≤ ~6e6; separation: scale 12 on
squared mean gaps ≤ ~1e2) — inside the 2^53 cross-engine agreement
bound with digits to spare at every tested SF.

Scale shape: ONE corpus-scale posexplode + (label, pos) reduce
(map-side combined, k×dim rows out regardless of corpus size);
everything after — scatter, the k(k−1)/2 centroid-separation matrix,
the DB max and Dunn min/max — runs on that bounded table. No
all-pairs over members, no driver collect.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached, spread

# shared CTE block: per-(label, pos) DECIMAL sufficient statistics,
# per-label scatter, and the centroid-separation matrix
_CQ_CTES = """
WITH x AS (
  SELECT label,
         CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
         CAST(unnest(embedding) AS DOUBLE) AS v
  FROM embeddings
), per AS (
  SELECT label, pos,
         SUM(CAST(v AS DECIMAL(14,9))) AS s,
         SUM(CAST(v * v AS DECIMAL(20,12))) AS q2,
         CAST(COUNT(*) AS BIGINT) AS n
  FROM x GROUP BY label, pos
), lab AS (
  SELECT label, MAX(n) AS n,
         CAST(CAST(SUM(q2) AS VARCHAR) AS DOUBLE) AS qt,
         CAST(CAST(SUM(CAST(
               CAST(CAST(s AS VARCHAR) AS DOUBLE)
               * CAST(CAST(s AS VARCHAR) AS DOUBLE)
             AS DECIMAL(24,8))) AS VARCHAR) AS DOUBLE) AS ss
  FROM per GROUP BY label
), sc AS (
  SELECT label, n,
         sqrt(greatest(qt / n - ss / (CAST(n AS DOUBLE) * n), 0.0)) AS s_i
  FROM lab
), dmat AS (
  SELECT a.label AS la, b.label AS lb,
         sqrt(CAST(CAST(SUM(CAST(
               (CAST(CAST(a.s AS VARCHAR) AS DOUBLE) / a.n
                - CAST(CAST(b.s AS VARCHAR) AS DOUBLE) / b.n)
               * (CAST(CAST(a.s AS VARCHAR) AS DOUBLE) / a.n
                  - CAST(CAST(b.s AS VARCHAR) AS DOUBLE) / b.n)
             AS DECIMAL(26,12))) AS VARCHAR) AS DOUBLE)) AS d
  FROM per a JOIN per b ON a.pos = b.pos AND a.label < b.label
  GROUP BY a.label, b.label
)"""


# r15: the (label, pos, s, q2, n) per-dimension sufficient-statistic
# table is the shared prefix of q_davies_bouldin AND q_dunn_index,
# and within each query it feeds THREE plan branches (the scatter
# reduce and both sides of the separation self-join) — the corpus
# posexplode ran 3× per query, 6× across the pair. Bounded
# (|labels|×dims rows) and exact DECIMAL, so persisting cannot change
# a value.
@session_cached
def _per_dim_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = load_table(spark, sf_dir, "embeddings")
    # spread before the explode (size-gated; see silhouette)
    x = spread(e).select(
        "label",
        F.posexplode(to_double_array(F.col("embedding"))).alias("pos0", "v"),
    ).select("label", (F.col("pos0") + 1).cast("int").alias("pos"), "v")
    df = (
        x.groupBy("label", "pos")
        .agg(
            F.sum(F.col("v").cast("decimal(14,9)")).alias("s"),
            F.sum((F.col("v") * F.col("v")).cast("decimal(20,12)")).alias("q2"),
            F.count("*").alias("n"),
        )
        .persist()
    )
    df.count()  # materialize once, eagerly
    return df


def _cluster_stats(spark: SparkSession, sf_dir: str):
    """(sc, dmat): per-label (label, n, s_i) scatter table and the
    upper-triangle centroid-separation matrix (la < lb, d) — the
    bounded sufficient statistics both queries derive from."""
    per = _per_dim_stats(spark, sf_dir)
    sd = F.col("s").cast("double")
    lab = per.groupBy("label").agg(
        F.max("n").alias("n"),
        F.sum("q2").cast("double").alias("qt"),
        F.sum((sd * sd).cast("decimal(24,8)")).cast("double").alias("ss"),
    )
    s_i = F.sqrt(
        F.greatest(
            F.col("qt") / F.col("n")
            - F.col("ss") / (F.col("n").cast("double") * F.col("n")),
            F.lit(0.0),
        )
    )
    sc = lab.select("label", "n", s_i.alias("s_i"))
    a = per.select(
        F.col("label").alias("la"), "pos", sd.alias("sa"), F.col("n").alias("na")
    )
    b = per.select(
        F.col("label").alias("lb"),
        F.col("pos").alias("posb"),
        sd.alias("sb"),
        F.col("n").alias("nb"),
    )
    gap = F.col("sa") / F.col("na") - F.col("sb") / F.col("nb")
    dmat = (
        a.join(b, (F.col("pos") == F.col("posb")) & (F.col("la") < F.col("lb")))
        .groupBy("la", "lb")
        .agg(
            F.sqrt(F.sum((gap * gap).cast("decimal(26,12)")).cast("double")).alias(
                "d"
            )
        )
    )
    return sc, dmat


@query(
    "q_davies_bouldin",
    oracle=f"""{_CQ_CTES},
    sym AS (
      SELECT la AS i, lb AS j, d FROM dmat
      UNION ALL
      SELECT lb, la, d FROM dmat
    )
    SELECT i.label, i.n AS n_members, round(i.s_i, 6) AS scatter,
           round(MAX((i.s_i + j.s_i) / y.d), 6) AS db_ratio
    FROM sc i JOIN sym y ON y.i = i.label JOIN sc j ON j.label = y.j
    GROUP BY i.label, i.n, i.s_i
    ORDER BY i.label
    """,
)
def q_davies_bouldin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-cell Davies–Bouldin audit of the label/IVF cells:
    scatter s_i = sqrt(mean ||x − μ_i||²) (the q=2 form of the DB
    paper's dispersion, computed via the Σ||x||²/n − ||μ||² identity
    — no second data pass), and the DB ratio max_{{j≠i}}
    (s_i + s_j)/||μ_i − μ_j|| — the worst overlap against any other
    cell. A ratio ≥ ~1 marks cells blurrier than their separation,
    exactly where IVF nprobe=1 recall collapses. The overall DB
    index is the mean of db_ratio (k bounded rows — driver-side if
    wanted); rows are emitted per cell because that is the
    actionable output."""
    sc, dmat = _cluster_stats(spark, sf_dir)
    sym = dmat.select(
        F.col("la").alias("i"), F.col("lb").alias("j"), "d"
    ).unionByName(dmat.select(F.col("lb").alias("i"), F.col("la").alias("j"), "d"))
    i = sc.select(F.col("label"), F.col("n"), F.col("s_i"))
    j = sc.select(F.col("label").alias("jl"), F.col("s_i").alias("s_j"))
    return (
        i.join(sym, sym.i == i.label)
        .join(j, F.col("j") == F.col("jl"))
        .groupBy("label", "n", "s_i")
        .agg(
            F.round(F.max((F.col("s_i") + F.col("s_j")) / F.col("d")), 6).alias(
                "db_ratio"
            )
        )
        .select(
            "label",
            F.col("n").alias("n_members"),
            F.round("s_i", 6).alias("scatter"),
            "db_ratio",
        )
        .orderBy("label")
    )


@query(
    "q_dunn_index",
    oracle=f"""{_CQ_CTES}
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM sc) AS k,
           round((SELECT MIN(d) FROM dmat), 6) AS min_sep,
           round((SELECT MAX(2 * s_i) FROM sc), 6) AS max_diam,
           round((SELECT MIN(d) FROM dmat)
                 / (SELECT MAX(2 * s_i) FROM sc), 6) AS dunn
    """,
)
def q_dunn_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized Dunn index of the label/IVF cells (Bezdek & Pal's
    centroid-based Δ: cluster diameter ≈ 2·scatter, separation =
    centroid distance — the variant that needs no all-pairs member
    scan, so it holds at corpus scale): min inter-centroid distance
    over max cell diameter. Higher is better-separated; compare
    round-over-round as the cell layout evolves."""
    sc, dmat = _cluster_stats(spark, sf_dir)
    agg_sc = sc.agg(
        F.count("*").alias("k"), F.max(2 * F.col("s_i")).alias("max_diam")
    )
    agg_d = dmat.agg(F.min("d").alias("min_sep"))
    return (
        agg_sc.crossJoin(agg_d)
        .select(
            "k",
            F.round("min_sep", 6).alias("min_sep"),
            F.round("max_diam", 6).alias("max_diam"),
            F.round(F.col("min_sep") / F.col("max_diam"), 6).alias("dunn"),
        )
    )


@query(
    "q_silhouette_centroid",
    oracle="""
    WITH x AS (
      SELECT vec_id, label,
             CAST(generate_subscripts(embedding, 1) AS INT) AS pos,
             CAST(unnest(embedding) AS DOUBLE) AS v
      FROM embeddings
    ), per AS (
      -- mirrors _CQ_CTES' per-(label, pos) DECIMAL stats (restated
      -- because silhouette also needs vec_id in the x CTE)
      SELECT label AS c, pos,
             SUM(CAST(v AS DECIMAL(14,9))) AS s,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM x GROUP BY label, pos
    ), cent AS (
      SELECT c, pos,
             CAST(CAST(s AS VARCHAR) AS DOUBLE) / n AS mu
      FROM per
    ), dj AS (
      SELECT x.vec_id, x.label, cent.c,
             SUM(CAST((x.v - cent.mu) * (x.v - cent.mu)
                      AS DECIMAL(26,12))) AS d2
      FROM x JOIN cent ON cent.pos = x.pos
      GROUP BY x.vec_id, x.label, cent.c
    ), ab AS (
      SELECT vec_id, label,
             MAX(CASE WHEN c = label THEN d2 END) AS a2,
             MIN(CASE WHEN c <> label THEN d2 END) AS b2
      FROM dj GROUP BY vec_id, label
    ), sil AS (
      SELECT label,
             CAST(CASE WHEN greatest(
                    sqrt(CAST(CAST(a2 AS VARCHAR) AS DOUBLE)),
                    sqrt(CAST(CAST(b2 AS VARCHAR) AS DOUBLE))) = 0.0
               THEN 0.0
               ELSE (sqrt(CAST(CAST(b2 AS VARCHAR) AS DOUBLE))
                     - sqrt(CAST(CAST(a2 AS VARCHAR) AS DOUBLE)))
                    / greatest(
                        sqrt(CAST(CAST(a2 AS VARCHAR) AS DOUBLE)),
                        sqrt(CAST(CAST(b2 AS VARCHAR) AS DOUBLE)))
               END AS DECIMAL(16,9)) AS s
      FROM ab
    )
    SELECT label, CAST(COUNT(*) AS BIGINT) AS n_members,
           round(CAST(CAST(SUM(s) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS mean_silhouette
    FROM sil GROUP BY label ORDER BY label
    """,
)
def q_silhouette_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simplified (centroid-based) silhouette per label cell
    (Rousseeuw 1987 silhouette; the centroid approximation of
    Hruschka et al. 2004 that replaces all-pairs member distances
    with point-to-centroid distances — the form that scales): for
    each point, a = distance to its own cell centroid, b = the
    nearest OTHER centroid's distance, s = (b − a)/max(a, b); emit
    the per-cell mean. Negative means flag points parked nearer a
    neighboring centroid — the same geometry q_davies_bouldin scores
    at cell granularity, here attributed point-by-point.

    Exactness: centroids bridge DECIMAL→double per the _CQ_CTES
    pattern; per-(point, centroid) squared distances quantize each
    squared gap to DECIMAL(26,12) and exact-sum over the 64
    dimensions, so the nearest-other argmin compares exact decimals;
    the flat per-point float expression (two sqrts, one division)
    then quantizes to DECIMAL(16,9) before the per-cell exact mean.

    Scale: ONE corpus-sized posexplode joined to the BROADCAST
    k×dim centroid table — k·dim rows per point, reduced map-side to
    k distances per point; no all-pairs stage anywhere."""
    e = load_table(spark, sf_dir, "embeddings")
    # r15: the fixture parquet is one row group, so the explode +
    # decimal reduce ran on one core; spread is size-gated (no-op at
    # scale) and the decimal/count aggregates are order-independent
    x = spread(e).select(
        "vec_id",
        "label",
        F.posexplode(to_double_array(F.col("embedding"))).alias("pos0", "v"),
    ).select("vec_id", "label", (F.col("pos0") + 1).cast("int").alias("pos"), "v")
    per = x.groupBy(F.col("label").alias("c"), "pos").agg(
        F.sum(F.col("v").cast("decimal(14,9)")).alias("s"),
        F.count("*").alias("n"),
    )
    cent = per.select(
        "c", "pos", (F.col("s").cast("double") / F.col("n")).alias("mu")
    )
    gap = F.col("v") - F.col("mu")
    dj = (
        x.join(F.broadcast(cent), "pos")
        .groupBy("vec_id", "label", "c")
        .agg(F.sum((gap * gap).cast("decimal(26,12)")).alias("d2"))
    )
    ab = dj.groupBy("vec_id", "label").agg(
        F.max(F.when(F.col("c") == F.col("label"), F.col("d2"))).alias("a2"),
        F.min(F.when(F.col("c") != F.col("label"), F.col("d2"))).alias("b2"),
    )
    a = F.sqrt(F.col("a2").cast("double"))
    b = F.sqrt(F.col("b2").cast("double"))
    sil = ab.select(
        "label",
        F.when(F.greatest(a, b) == 0.0, F.lit(0.0))
        .otherwise((b - a) / F.greatest(a, b))
        .cast("decimal(16,9)")
        .alias("s"),
    )
    return (
        sil.groupBy("label")
        .agg(
            F.count("*").cast("bigint").alias("n_members"),
            F.round(F.sum("s").cast("double") / F.count("*"), 6).alias(
                "mean_silhouette"
            ),
        )
        .orderBy("label")
    )
