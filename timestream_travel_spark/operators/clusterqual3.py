"""Cluster-quality / density family, part 3 (round 11): DBSCAN
(Ester, Kriegel, Sander & Xu, KDD 1996) over the embedding corpus —
the ε-neighborhood core census, the full deterministic clustering
(core-core connected components + min-core-neighbor border
assignment), and the HDBSCAN core distance (Campello, Moulavi &
Sander, PAKDD 2013: the k-th-nearest-neighbor distance that
mutual-reachability builds on).

Reference parity: none (cmd/backup.go has no vector surface) —
north-star embedding-analytics capability, the r10 verdict's
growth-wave candidate (a).

Exactness: neighborhood membership thresholds the SQUARED Euclidean
distance (no sqrt on the decision path) computed as the identical
IEEE fold both engines run (zip_with/aggregate vs
list_sum(list_transform), the q_embedding_neardup_pairs contract);
the census and role flags are then exact integers. Core distances
sqrt once at the output boundary and round to 6.

Scale shape: all pair work is BLOCKED on `label` — the corpus' IVF
coarse-cell stand-in (the q_embedding_neardup_pairs rule): the
equi-join bounds the pair space to cells, never all-pairs. At 100 TB
the same plan blocks on coarse-quantizer cell ids with boundary-ring
replication for points within ε of a cell face; the per-cell
O(|cell|²) distance work is the standard grid-DBSCAN decomposition.
Clustering then runs large-star/small-star CC on the core-core edge
list (dedup2.connected_components_star — logarithmic rounds, no
driver iteration over data-sized state).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.functions.vectors import to_double_array
from timestream_travel_spark.operators.dedup2 import connected_components_star
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

DBSCAN_EPS2 = 1.69  # ε = 1.3 — ~10th pct of within-label distances
DBSCAN_MINPTS = 6  # core iff |N_ε(p)| ≥ 6 (the point itself + 5 others)
CORE_K = 5  # HDBSCAN core distance: distance to the 5th other point

# squared Euclidean distance in DuckDB — written as the same
# left-to-right per-dimension fold Spark's aggregate runs
_D2_SQL = """list_sum(list_transform(generate_series(1, len(a.embedding)),
               i -> (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))
                    * (CAST(a.embedding[i] AS DOUBLE) - CAST(b.embedding[i] AS DOUBLE))))"""

_PAIRS_SQL = f"""pairs AS (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.label AS label
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_D2_SQL} <= {DBSCAN_EPS2}
    ), sympairs AS (
      SELECT va AS u, vb AS v, label FROM pairs
      UNION ALL SELECT vb, va, label FROM pairs
    ), census AS (
      SELECT e.vec_id, e.label,
             CAST(COALESCE(n.c, 0) AS BIGINT) AS n_neighbors,
             CASE WHEN COALESCE(n.c, 0) + 1 >= {DBSCAN_MINPTS}
                  THEN 1 ELSE 0 END AS is_core
      FROM embeddings e LEFT JOIN (
        SELECT u, COUNT(*) AS c FROM sympairs GROUP BY u
      ) n ON n.u = e.vec_id
    )"""


def _sqdist(a: Column, b: Column) -> Column:
    """Σ(xᵢ−yᵢ)² as a sequential fold — the deterministic accumulation
    order of vectors.dot, so both engines compute the same double."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _eps_pairs(
    spark: SparkSession, sf_dir: str, emb: DataFrame | None = None
) -> DataFrame:
    """(va, vb, label, dd) with va < vb and squared distance
    dd ≤ ε², blocked on label (the IVF-cell stand-in). `emb`
    overrides the fixture table (planted-fixture pytests)."""
    e = emb if emb is not None else load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id").alias("va"),
        F.col("label"),
        to_double_array("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("label_b"),
        to_double_array("embedding").alias("eb"),
    )
    return (
        a.join(b, (a.label == b.label_b) & (F.col("va") < F.col("vb")))
        .select("va", "vb", "label", _sqdist(F.col("ea"), F.col("eb")).alias("dd"))
        .filter(F.col("dd") <= DBSCAN_EPS2)
    )


# Session-scoped shared tables for the DBSCAN/HDBSCAN family (r11
# verdict "What's wrong #3"): the blocked ε-pair distance join and
# the k-NN core-distance rank are the expensive stages every family
# member starts from — census, clusters, core distance, mutual
# reachability, and the MST all re-paid them when run back-to-back
# in the same bench/driver session. Both tables are tiny relative to
# the corpus (≤|ε-pairs| and |corpus| rows), so they persist for the
# session lifetime.
@session_cached
def eps_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (va, vb, label, dd) ε-pair table."""
    df = _eps_pairs(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


def _core_dd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, label, cd): squared distance to the CORE_K-th nearest
    OTHER point within the label block. The 64-dim fold is evaluated
    once per unordered pair and mirrored ((x−y)² ≡ (y−x)² term-for-
    term in IEEE), halving the dominant per-pair cost."""
    e = load_table(spark, sf_dir, "embeddings")
    a = e.select(
        F.col("vec_id"),
        F.col("label"),
        to_double_array("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("vb"),
        F.col("label").alias("label_b"),
        to_double_array("embedding").alias("eb"),
    )
    d2 = _sqdist(F.col("ea"), F.col("eb"))
    half = a.join(b, (a.label == b.label_b) & (a.vec_id < b.vb)).select(
        "vec_id", "vb", "label", d2.alias("d2")
    )
    both = half.unionAll(
        half.select(
            F.col("vb").alias("vec_id"),
            F.col("vec_id").alias("vb"),
            "label",
            "d2",
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2")
    return (
        both.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == CORE_K)
        .select("vec_id", "label", F.col("d2").alias("cd"))
    )


@session_cached
def core_dd_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (vec_id, label, cd) core-distance table."""
    df = _core_dd(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


def _census(
    spark: SparkSession, sf_dir: str, pairs: DataFrame | None = None
) -> DataFrame:
    """(vec_id, label, n_neighbors, is_core) — every corpus point,
    neighbor count EXCLUDING self, core flag per |N_ε| ≥ MINPTS
    (the point itself counts toward N_ε, hence the +1). Defaults to
    the session-cached ε-pair table so the blocked distance join —
    the expensive stage — runs once per (session, fixture)."""
    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "label")
    p = pairs if pairs is not None else eps_pairs_cached(spark, sf_dir)
    sym = p.select(F.col("va").alias("u")).unionAll(p.select(F.col("vb").alias("u")))
    n = sym.groupBy("u").agg(F.count(F.lit(1)).alias("c"))
    return e.join(n, e.vec_id == n.u, "left").select(
        "vec_id",
        "label",
        F.coalesce(F.col("c"), F.lit(0)).cast("bigint").alias("n_neighbors"),
        F.when(F.coalesce(F.col("c"), F.lit(0)) + 1 >= DBSCAN_MINPTS, 1)
        .otherwise(0)
        .alias("is_core"),
    )


@query(
    "q_dbscan_core_census",
    oracle=f"""
    WITH {_PAIRS_SQL}
    SELECT vec_id, label, n_neighbors, is_core FROM census
    """,
)
def q_dbscan_core_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN ε-neighborhood census: every point's neighbor count
    within its label block (ε²={DBSCAN_EPS2} on squared distance —
    no sqrt on the decision path) and the core flag
    |N_ε(p)| ≥ {DBSCAN_MINPTS}. The census is the density audit the
    clustering consumes, and on its own the knob-tuning tool (sweep
    ε/minPts by re-running ONLY this cheap aggregate)."""
    return _census(spark, sf_dir)


@query(
    "q_dbscan_clusters",
    oracle=f"""
    WITH {_PAIRS_SQL},
    core_edges AS (
      SELECT p.va AS src, p.vb AS dst
      FROM pairs p
      JOIN census ca ON ca.vec_id = p.va AND ca.is_core = 1
      JOIN census cb ON cb.vec_id = p.vb AND cb.is_core = 1
    ), core_sym AS (
      SELECT src AS a, dst AS b FROM core_edges
      UNION SELECT dst, src FROM core_edges
    ), reach AS (
      WITH RECURSIVE walk(node, seen) AS (
        SELECT a, a FROM core_sym
        UNION
        SELECT s.b, w.seen FROM walk w JOIN core_sym s ON s.a = w.node
      )
      SELECT * FROM walk
    ), core_cluster AS (
      SELECT c.vec_id, COALESCE(MIN(r.seen), c.vec_id) AS cluster
      FROM census c LEFT JOIN reach r ON r.node = c.vec_id
      WHERE c.is_core = 1 GROUP BY c.vec_id
    ), border AS (
      SELECT s.u AS vec_id, MIN(cc.cluster) AS cluster
      FROM sympairs s
      JOIN core_cluster cc ON cc.vec_id = s.v
      JOIN census c ON c.vec_id = s.u AND c.is_core = 0
      GROUP BY s.u
    )
    SELECT c.vec_id, c.label,
           CASE WHEN c.is_core = 1 THEN 'core'
                WHEN b.vec_id IS NOT NULL THEN 'border'
                ELSE 'noise' END AS role,
           CAST(COALESCE(k.cluster, b.cluster, -1) AS BIGINT) AS cluster
    FROM census c
    LEFT JOIN core_cluster k ON k.vec_id = c.vec_id
    LEFT JOIN border b ON b.vec_id = c.vec_id
    """,
)
def q_dbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full deterministic DBSCAN: clusters are connected components
    of the core-core ε-graph (labelled by their min vec_id); border
    points (non-core with ≥1 core neighbor) attach to the SMALLEST
    cluster id among their core neighbors — the deterministic stand-in
    for the paper's first-found assignment — and noise gets -1.
    Spark: census + large-star/small-star CC (logarithmic rounds);
    oracle: recursive-CTE reachability on the same core edges."""
    return clusters_from_pairs(spark, sf_dir, eps_pairs_cached(spark, sf_dir))


def clusters_from_pairs(
    spark: SparkSession, sf_dir: str, p: DataFrame
) -> DataFrame:
    """The DBSCAN clustering assembly over an arbitrary ε-pair table
    (va, vb, ...): census → core-core CC → min-core-neighbor border
    attachment. Shared by the label-blocked q_dbscan_clusters and the
    boundary-ring q_dbscan_clusters_ring (clusterqual6) — the pair
    table is the only thing the blocking strategy changes."""
    cen = _census(spark, sf_dir, pairs=p).persist()
    core_ids = cen.filter(F.col("is_core") == 1).select("vec_id")
    core_edges = (
        p.join(core_ids.withColumnRenamed("vec_id", "va"), "va", "left_semi")
        .join(core_ids.withColumnRenamed("vec_id", "vb"), "vb", "left_semi")
        .select(F.col("va").alias("src"), F.col("vb").alias("dst"))
    )
    cc = connected_components_star(core_edges).withColumnRenamed(
        "node", "vec_id"
    )
    core_cluster = (
        cen.filter(F.col("is_core") == 1)
        .select("vec_id")
        .join(cc, "vec_id", "left")
        .select(
            "vec_id", F.coalesce("cluster", "vec_id").alias("cluster")
        )
    )
    sym = p.select(
        F.col("va").alias("u"), F.col("vb").alias("v")
    ).unionAll(p.select(F.col("vb").alias("u"), F.col("va").alias("v")))
    border = (
        sym.join(
            core_cluster.withColumnRenamed("vec_id", "v"), "v"
        )
        .join(
            cen.filter(F.col("is_core") == 0).select(F.col("vec_id").alias("u")),
            "u",
            "left_semi",
        )
        .groupBy(F.col("u").alias("vec_id"))
        .agg(F.min("cluster").alias("b_cluster"))
    )
    return (
        cen.join(
            core_cluster.withColumnRenamed("cluster", "k_cluster"), "vec_id", "left"
        )
        .join(border, "vec_id", "left")
        .select(
            "vec_id",
            "label",
            F.when(F.col("is_core") == 1, F.lit("core"))
            .when(F.col("b_cluster").isNotNull(), F.lit("border"))
            .otherwise(F.lit("noise"))
            .alias("role"),
            F.coalesce("k_cluster", "b_cluster", F.lit(-1))
            .cast("bigint")
            .alias("cluster"),
        )
    )


@query(
    "q_hdbscan_core_distance",
    oracle=f"""
    WITH d AS (
      SELECT a.vec_id, a.label, sqrt({_D2_SQL}) AS dist,
             row_number() OVER (PARTITION BY a.vec_id ORDER BY {_D2_SQL})
               AS rn
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, label, round(dist, 6) AS core_dist
    FROM d WHERE rn = {CORE_K}
    """,
)
def q_hdbscan_core_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HDBSCAN core distance: each point's distance to its
    {CORE_K}-th nearest OTHER point within the label block — the
    density estimate mutual-reachability distance is built from
    (d_mreach(a,b) = max(core_a, core_b, d(a,b))). Ranked on the
    squared distance (ties share a value, so the k-th VALUE is
    deterministic); sqrt + round only at the output boundary. Reads
    the session-cached core-distance table (shared with mutual
    reachability and the MST)."""
    return core_dd_cached(spark, sf_dir).select(
        "vec_id", "label", F.round(F.sqrt("cd"), 6).alias("core_dist")
    )
