"""Graph analytics, part 3: degree assortativity and k-core
decomposition on the thresholded nation trade graph.

Companions to q_nation_pagerank (graph.py) and q_triangle_count
(graph2.py). Those walk the FULL trade graph — which at sf ≥ 0.01 is
the complete K₂₅ (every nation trades with every other), where degree
statistics degenerate (all degrees equal → zero variance). So these
two queries first THRESHOLD to the top-{TOP_EDGES} undirected edges
by exact decimal trade revenue (deterministic tiebreak on the node
pair) — the 'significant trade links' backbone — which has genuine
degree structure at every SF.

100 TB shape: identical to the siblings — the heavy stage is the
fact-table edge extraction (broadcast-dim joins, map-side-combined
revenue agg to ≤ N²/2 weighted edges); the top-K cut is a TakeOrdered
over that bounded table, and everything after runs on ≤ {TOP_EDGES}
edges. The assortativity sums are pure integers (degrees), so the
Pearson correlation is bit-exact on both engines up to one final
sqrt (IEEE-correctly-rounded everywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached, spread

TOP_EDGES = 100

_TOP_EDGES_SQL = f"""
  weighted AS (
    SELECT least(s.s_nationkey, c.c_nationkey) AS a,
           greatest(s.s_nationkey, c.c_nationkey) AS b,
           SUM(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,4))) AS w
    FROM lineitem l
    JOIN orders o ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
    JOIN customer c ON o.o_custkey = c.c_custkey
    WHERE s.s_nationkey <> c.c_nationkey
    GROUP BY 1, 2
  ),
  edges AS (
    SELECT a, b FROM weighted ORDER BY w DESC, a, b LIMIT {TOP_EDGES}
  )
"""


# r16: the DIRECTED (src, dst, w) nation-pair revenue census is the
# shared prefix of EVERY nation-graph extraction — top_trade_edges
# (undirected top-K), q_nation_pagerank (directed weighted), HITS
# (directed distinct), transitivity/assortativity (undirected
# distinct). One fact-scale 4-table join + groupBy runs per session
# (~1-1.2 s at sf0.1) instead of one per consumer; every derivation
# below is an exact decimal/integer re-aggregation of the ≤ N²-row
# census.
@session_cached
def trade_pair_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(src, dst, w): exact DECIMAL(28,4) revenue per DIRECTED
    supplier→customer nation pair, all pairs incl. src = dst (the
    pagerank convention — consumers filter)."""
    # r15: the per-row decimal revenue work downstream of the scan
    # dominates, and single-row-group fixture files serialize it onto
    # one core — spread the projected fact side (size-gated: no-op at
    # production scale). Decimal sums are order-independent.
    li = spread(
        load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
        )
    )
    orders = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,4)"
    )
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(supp), li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy(
            F.col("s_nationkey").alias("src"),
            F.col("c_nationkey").alias("dst"),
        )
        .agg(F.sum(rev).alias("w"))
        .localCheckpoint(eager=True)
    )


# r15: ~25 graph queries consume the SAME deterministic ≤TOP_EDGES-row
# backbone edge set, and each used to re-run the 4-table fact
# extraction (~2.5-3.5 s at sf0.1 — the dominant cost of every
# backbone query after their iterations moved driver-side). At 100 TB
# this is exactly the shared materialized intermediate any engine
# would use for a repeated subplan.
@session_cached
def top_trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{TOP_EDGES} undirected (a < b) nation pairs by exact
    decimal trade revenue — deterministic at every SF because the
    weight is an exact DECIMAL sum and ties break on the node pair."""
    return _top_trade_edges_plan(spark, sf_dir).localCheckpoint(eager=True)


def _top_trade_edges_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The extraction plan — r16: an exact decimal re-aggregation of
    the shared directed census (sums of the per-direction DECIMAL
    sums equal the raw-row sums by associativity)."""
    return (
        trade_pair_census(spark, sf_dir)
        .filter(F.col("src") != F.col("dst"))
        .groupBy(
            F.least("src", "dst").alias("a"),
            F.greatest("src", "dst").alias("b"),
        )
        .agg(F.sum("w").alias("w"))
        .orderBy(F.desc("w"), "a", "b")
        .limit(TOP_EDGES)
        .select("a", "b")
    )


@query(
    "q_degree_assortativity",
    oracle=f"""
    WITH {_TOP_EDGES_SQL},
    sym AS (
      SELECT a AS u, b AS v FROM edges
      UNION ALL
      SELECT b, a FROM edges
    ),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ),
    pairs AS (
      SELECT du.d AS dx, dv.d AS dy
      FROM sym
      JOIN deg du ON du.node = sym.u
      JOIN deg dv ON dv.node = sym.v
    ),
    sums AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(dx) AS BIGINT) AS sx,
             CAST(SUM(dy) AS BIGINT) AS sy,
             CAST(SUM(dx * dy) AS BIGINT) AS sxy,
             CAST(SUM(dx * dx) AS BIGINT) AS sxx,
             CAST(SUM(dy * dy) AS BIGINT) AS syy
      FROM pairs
    )
    SELECT m AS n_endpoints,
           CAST(m * sxy - sx * sy AS DOUBLE)
             / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                    * CAST(m * syy - sy * sy AS DOUBLE)) AS assortativity
    FROM sums
    """,
)
def q_degree_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the thresholded trade graph: the
    Pearson correlation of endpoint degrees over the symmetrized edge
    list (Newman, PRL 2002's degree-correlation measure in its common
    edge-list form) — positive means high-trade nations link to each
    other (rich-club), negative means hub-and-spoke.

    After the fact-scale edge extraction, everything runs on the
    ≤ 2·{TOP_EDGES}-row symmetrized list: one bounded degree
    aggregation, two broadcast-sized joins, one 6-sum reduce. Every
    sum is over integers (degrees), so both engines agree bit-exactly
    through the final sqrt (IEEE-correctly-rounded on every libm)."""
    edges = top_trade_edges(spark, sf_dir)
    sym = edges.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
        edges.select(F.col("b").alias("u"), F.col("a").alias("v"))
    )
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    du = deg.select(F.col("node").alias("nu"), F.col("d").alias("dx"))
    dv = deg.select(F.col("node").alias("nv"), F.col("d").alias("dy"))
    pairs = (
        sym.join(F.broadcast(du), sym.u == du.nu)
        .join(F.broadcast(dv), sym.v == dv.nv)
        .select("dx", "dy")
    )
    sums = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("dx").cast("bigint").alias("sx"),
        F.sum("dy").cast("bigint").alias("sy"),
        F.sum(F.col("dx") * F.col("dy")).cast("bigint").alias("sxy"),
        F.sum(F.col("dx") * F.col("dx")).cast("bigint").alias("sxx"),
        F.sum(F.col("dy") * F.col("dy")).cast("bigint").alias("syy"),
    )
    m, sx, sy = F.col("m"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    return sums.select(
        m.alias("n_endpoints"),
        (
            (m * sxy - sx * sy).cast("double")
            / F.sqrt(
                (m * sxx - sx * sx).cast("double") * (m * syy - sy * sy).cast("double")
            )
        ).alias("assortativity"),
    )


def kcore_decomposition(
    edges: DataFrame, max_rounds: int = 200, stats: dict | None = None
) -> DataFrame:
    """(node, core) for every node in the undirected `edges` (a, b)
    frame: core = the largest k such that the node survives in the
    k-core (the maximal subgraph where every node has degree ≥ k).

    Distributed peeling (the classic Matula–Beck order, public,
    expressed as bounded Spark rounds): for k = 1, 2, …, repeatedly
    delete nodes whose CURRENT degree is < k; nodes deleted while
    peeling at level k get core = k − 1; when no node has degree < k
    the loop advances k. Each round is one degree aggregation + one
    anti-join, with the surviving edge set localCheckpoint'ed so
    lineage stays flat. Total rounds ≤ max-core + number of
    cascade rounds — degeneracy-bounded, NOT diameter-bounded (a
    50-round chain cascade at the same k is many rounds but each is
    one cheap job on a shrinking edge set).

    `stats`, when given, receives {"rounds": n} for test assertions.
    """
    sym = (
        edges.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("u"), F.col("b").alias("v")),
                    F.struct(F.col("b").alias("u"), F.col("a").alias("v")),
                )
            ).alias("e")
        )
        .select("e.u", "e.v")
        .distinct()
        .localCheckpoint(eager=True)
    )
    cores = sym.sparkSession.createDataFrame([], "node bigint, core bigint")
    # explicit alive set: a node whose last edges vanish because its
    # NEIGHBORS were deleted has no rows left in `remaining`, so an
    # edge-side degree groupBy would silently drop it — the left join
    # gives such survivors degree 0 and they peel on the next round
    alive = sym.select(F.col("u").alias("node")).distinct().localCheckpoint(eager=True)
    k = 1
    rounds = 0
    remaining = sym
    while rounds < max_rounds:
        rounds += 1
        edge_deg = remaining.groupBy(F.col("u").alias("dnode")).agg(
            F.count(F.lit(1)).alias("d0")
        )
        deg = alive.join(edge_deg, alive.node == F.col("dnode"), "left").select(
            "node", F.coalesce("d0", F.lit(0)).alias("d")
        )
        below = deg.filter(F.col("d") < k).select("node").localCheckpoint(eager=True)
        if below.count() == 0:
            if alive.count() == 0:
                break
            k += 1
            continue
        cores = cores.unionAll(
            below.select(
                F.col("node").cast("bigint").alias("node"),
                F.lit(k - 1).cast("bigint").alias("core"),
            )
        )
        alive = alive.join(below, "node", "left_anti").localCheckpoint(eager=True)
        remaining = (
            remaining.join(
                below.withColumnRenamed("node", "du"), remaining.u == F.col("du"), "left_anti"
            )
            .join(
                below.withColumnRenamed("node", "dv"), remaining.v == F.col("dv"), "left_anti"
            )
            .localCheckpoint(eager=True)
        )
    else:
        raise RuntimeError(f"kcore_decomposition did not finish in {max_rounds} rounds")
    if stats is not None:
        stats["rounds"] = rounds
    return cores


KC_KMAX = 16  # cascade depth: > max core of the 100-edge backbone
KC_ROUNDS = 6  # peel rounds per k (fixture fixpoints in ≤ 4; pytest-pinned)


def _kcore_cascade_sql() -> str:
    """Unrolled k-core CASCADE: peel at k = 1..{KC_KMAX}, each level
    starting from the previous level's fixpoint ((k+1)-core ⊆ k-core),
    {KC_ROUNDS} rounds per level. core(v) = the number of level
    fixpoints containing v — exactly the max k with v ∈ k-core once
    every level actually reaches its fixpoint (pytest-pinned on the
    fixture; the r5 'recursive CTEs cannot aggregate inside the
    recursion' blocker dissolves by unrolling instead of recursing)."""
    ctes = [
        "es AS MATERIALIZED (SELECT a, b FROM edges)",
        "sym AS MATERIALIZED (SELECT a AS u, b AS v FROM es"
        " UNION ALL SELECT b, a FROM es)",
        "k1_0 AS (SELECT DISTINCT u AS node FROM sym)",
    ]
    for k in range(1, KC_KMAX + 1):
        if k > 1:
            ctes.append(
                f"k{k}_0 AS (SELECT node FROM k{k - 1}_{KC_ROUNDS})"
            )
        for r in range(1, KC_ROUNDS + 1):
            ctes.append(
                f"""k{k}_{r} AS MATERIALIZED (
      SELECT s.u AS node
      FROM sym s
      JOIN k{k}_{r - 1} pu ON pu.node = s.u
      JOIN k{k}_{r - 1} pv ON pv.node = s.v
      GROUP BY s.u HAVING COUNT(*) >= {k}
    )"""
            )
    mem = " UNION ALL ".join(
        f"SELECT node FROM k{k}_{KC_ROUNDS}" for k in range(1, KC_KMAX + 1)
    )
    ctes.append(f"mem AS ({mem})")
    ctes.append(
        "cores AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS core"
        " FROM mem GROUP BY node)"
    )
    return ",\n    ".join(ctes)


@query(
    "q_kcore_trade",
    oracle=f"""
    WITH {_TOP_EDGES_SQL},
    {_kcore_cascade_sql()}
    SELECT n.n_name AS nation, c.core
    FROM cores c JOIN nation n ON n.n_nationkey = c.node
    """,
)
def q_kcore_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Core number of every nation in the thresholded trade graph —
    the standard graph-degeneracy peel (k-core): which nations remain
    in the densest mutually-trading backbone. CONVERTED rows-only →
    oracled in r14: the Spark side peels to true convergence
    (kcore_decomposition), the oracle unrolls the k = 1..16
    cascade with 6 rounds per level and counts level
    memberships (_kcore_cascade_sql) — equal to the true core number
    whenever every level fixpoints within the unroll, which the
    recompute pytest pins on the fixture (max core ≤ 10, ≤ 4 rounds
    per level at all three SFs).

    The ≤{TOP_EDGES}-edge backbone is bounded driver state, so the
    peel itself runs driver-side on the collected edge set (the
    Louvain/HL/graph18 bounded-backbone pattern — r14 perf: the
    distributed ~20-round peel cost 5.2 s of job overhead at sf0.1,
    the driver peel is edge-extraction-bound at ~1.3 s). The
    DISTRIBUTED peel lives on as graph3.kcore_decomposition — the
    documented scale path for unbounded graphs, still covered by the
    r5 random-graph parity + cascade tests."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    edges = [(r.a, r.b) for r in top_trade_edges(spark, sf_dir).collect()]
    adj: dict[int, set] = {}
    for a, b in edges:
        adj.setdefault(a, set()).add(b)
        adj.setdefault(b, set()).add(a)
    surv = set(adj)
    core: dict[int, int] = {}
    k = 1
    while surv:
        while True:
            drop = {n for n in surv if len(adj[n] & surv) < k}
            if not drop:
                break
            surv -= drop
            for n in drop:
                core[n] = k - 1
        if not surv:
            break
        k += 1
    cores = spark.createDataFrame(
        sorted((int(n), int(c)) for n, c in core.items()),
        "node bigint, core bigint",
    )
    return (
        cores.join(F.broadcast(nation), cores.node == nation.n_nationkey)
        .select(F.col("n_name").alias("nation"), "core")
        .orderBy(F.desc("core"), "nation")
    )
