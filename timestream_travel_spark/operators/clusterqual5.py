"""Cluster-quality / density family, part 5 (round 12): HDBSCAN's
remaining two steps (Campello, Moulavi & Sander, PAKDD 2013) on top
of the green core-distance / mutual-reachability inputs —

- ``q_hdbscan_mst``: the minimum spanning forest of the
  mutual-reachability ε-graph, computed with distributed Borůvka
  (each round every component claims its minimum-rank outgoing edge
  — an MST edge by the cut property — then components contract via
  large-star/small-star CC; ≤ log₂|block| rounds). ORACLE: the
  minimax-rank characterization — under the strict total edge order
  rank = row_number(mm, va, vb), an edge is in the MSF iff the
  minimax path rank between its endpoints equals its own rank —
  evaluated with a recursive relaxation (per-pair MIN is monotone,
  so dominated rows never change the fixpoint).
- ``q_hdbscan_clusters``: the full flat clustering — single-linkage
  dendrogram from the MSF, condensed tree at MIN_CLUSTER_SIZE,
  Excess-of-Mass stability selection, stable labels (cluster = min
  member vec_id; noise = -1) and membership probabilities
  (λ_p / λ_max(cluster), the hdbscan-library convention). The
  dendrogram walk is inherently sequential per tree, so it runs PER
  LABEL BLOCK in one cogrouped applyInPandas — blocks are the
  IVF-cell stand-in and stay bounded at 100 TB (cells are sized by
  the quantizer, clusters never cross blocks because the ε-pairs
  don't), so the parallel unit is the cell, exactly like the
  condensed-tree shard of published distributed-HDBSCAN systems.
  Rows-only: EOM selection over a data-dependent tree is not
  SQL-expressible; pinned instead by planted-fixture ground truth +
  hand-computed dendrogram + invariant pytests
  (tests/test_hdbscan.py).

Reference parity: none (cmd/backup.go has no vector surface) —
north-star embedding-analytics capability, r11 verdict item #2.

Exactness (MST): mm = greatest(dd, core_a, core_b) on SQUARED
distances — all three operands are the identical IEEE folds both
engines already agree on (clusterqual3 contract), and greatest of
doubles is exact, so the rank total order (mm, va, vb) is identical
cross-engine and the MSF is unique under it. sqrt + round(6) only at
the output boundary.

Scale shape: Borůvka state is (node → component) plus a shrinking
live-edge set, localCheckpoint'ed per round (the plan-width lesson);
per-round work is two hash joins + one groupBy-min + the bounded CC
on the selection graph. No driver-side iteration over data-sized
state; MST edges accumulate as DataFrames and union once.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.clusterqual3 import (
    _D2_SQL,
    CORE_K,
    DBSCAN_EPS2,
    core_dd_cached,
    eps_pairs_cached,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

MIN_CLUSTER_SIZE = 5

_MST_ORACLE = f"""
    WITH RECURSIVE pairs AS MATERIALIZED (
      SELECT a.vec_id AS va, b.vec_id AS vb, a.label, {_D2_SQL} AS dd
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE {_D2_SQL} <= {DBSCAN_EPS2}
    ), dfull AS MATERIALIZED (
      SELECT a.vec_id AS v, {_D2_SQL} AS dd
      FROM embeddings a JOIN embeddings b
        ON a.label = b.label AND a.vec_id <> b.vec_id
    ), core AS MATERIALIZED (
      SELECT v AS vec_id, dd FROM (
        SELECT v, dd, row_number() OVER (PARTITION BY v ORDER BY dd) AS rn
        FROM dfull
      ) WHERE rn = {CORE_K}
    ), re AS MATERIALIZED (
      SELECT p.va, p.vb, p.label, greatest(p.dd, ca.dd, cb.dd) AS mm,
             row_number() OVER (PARTITION BY p.label
                                ORDER BY greatest(p.dd, ca.dd, cb.dd),
                                         p.va, p.vb) AS rk
      FROM pairs p
      JOIN core ca ON ca.vec_id = p.va
      JOIN core cb ON cb.vec_id = p.vb
    ), sym AS MATERIALIZED (
      SELECT va AS s, vb AS d, rk FROM re
      UNION ALL SELECT vb, va, rk FROM re
    ), walk(src, dst, mx) AS (
      SELECT s, d, rk FROM sym
      UNION
      SELECT src, dst, mx FROM (
        SELECT m.src, e.d AS dst, MIN(GREATEST(m.mx, e.rk)) AS mx
        FROM walk m JOIN sym e ON e.s = m.dst
        WHERE m.src <> e.d
        GROUP BY m.src, e.d
      )
    ), minimax AS (
      SELECT src, dst, MIN(mx) AS mx FROM walk GROUP BY src, dst
    )
    SELECT e.va, e.vb, e.label, round(sqrt(e.mm), 6) AS mreach
    FROM re e
    JOIN minimax b ON b.src = e.va AND b.dst = e.vb AND b.mx = e.rk
"""


def _mreach_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(va, vb, label, mm, rk): mutual-reachability weight on every
    ε-pair plus its per-block rank under the strict total order
    (mm, va, vb) — the order the MSF is unique under."""
    core = core_dd_cached(spark, sf_dir).select("vec_id", "cd")
    pairs = eps_pairs_cached(spark, sf_dir)
    w = Window.partitionBy("label").orderBy("mm", "va", "vb")
    return (
        pairs.join(
            core.select(F.col("vec_id").alias("va"), F.col("cd").alias("ca")),
            "va",
        )
        .join(
            core.select(F.col("vec_id").alias("vb"), F.col("cd").alias("cb")),
            "vb",
        )
        .select("va", "vb", "label", F.greatest("dd", "ca", "cb").alias("mm"))
        .withColumn("rk", F.row_number().over(w))
    )


def hdbscan_mst_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(va, vb, label, mm, rk) minimum-spanning-forest edges of the
    mutual-reachability ε-graph via Borůvka with monotone hash-min
    contraction: every group of same-labelled nodes claims its
    minimum-rank incident cross edge — an MST edge by the cut
    property, which holds for ANY vertex-set cut, so groups need not
    be fully contracted components — then groups hook to the minimum
    of their claimed partners (pointers only ever decrease ⇒ no
    cycles) and a fixed number of pointer jumps collapses chains.
    Un-collapsed chains simply merge over later rounds; every round
    with cross edges merges at least one group pair, and hash-min
    hooking + jumping keeps observed round counts logarithmic. One
    localCheckpoint per round (the plan-width lesson); claimed edges
    accumulate as DataFrames and union once at the end."""
    re = _mreach_edges(spark, sf_dir).localCheckpoint(eager=True)
    comp = (
        re.select(F.col("va").alias("node"))
        .unionAll(re.select(F.col("vb").alias("node")))
        .distinct()
        .select("node", F.col("node").alias("comp"))
        .localCheckpoint(eager=True)
    )
    live = re.select("va", "vb", "label", "rk")
    chosen: list[DataFrame] = []
    for _ in range(60):
        cross = (
            live.join(
                comp.select(F.col("node").alias("va"), F.col("comp").alias("c_a")),
                "va",
            )
            .join(
                comp.select(F.col("node").alias("vb"), F.col("comp").alias("c_b")),
                "vb",
            )
            .filter(F.col("c_a") != F.col("c_b"))
            .localCheckpoint(eager=True)
        )
        if cross.isEmpty():
            break
        # ranks are PER LABEL BLOCK — every selection key carries the
        # label so groups in different blocks never claim each
        # other's rank values (groups cannot span blocks)
        inc = cross.select(F.col("c_a").alias("c"), "label", "rk").unionAll(
            cross.select(F.col("c_b").alias("c"), "label", "rk")
        )
        best_rk = (
            inc.groupBy("c")
            .agg(F.min("label").alias("label"), F.min("rk").alias("rk"))
            .select("label", "rk")
            .distinct()
        )
        sel = cross.join(best_rk, ["label", "rk"]).localCheckpoint(eager=True)
        chosen.append(sel.select("va", "vb"))
        # hash-min hooking over every incident claimed edge, then
        # three pointer jumps (chains ≤ 8 collapse per round)
        m = (
            sel.select(F.col("c_a").alias("c"), F.col("c_b").alias("t"))
            .unionAll(sel.select(F.col("c_b").alias("c"), F.col("c_a").alias("t")))
            .groupBy("c")
            .agg(F.least(F.min("t"), F.col("c")).alias("t"))
        )
        for _j in range(3):
            nxt = m.select(F.col("c").alias("t2"), F.col("t").alias("t3"))
            m = m.join(nxt, m.t == nxt.t2, "left").select(
                "c", F.coalesce("t3", "t").alias("t")
            )
        m = m.withColumnRenamed("c", "comp")
        comp = (
            comp.join(m, "comp", "left")
            .select("node", F.coalesce("t", F.col("comp")).alias("comp"))
            .localCheckpoint(eager=True)
        )
        live = cross.select("va", "vb", "label", "rk")
    else:
        raise RuntimeError("Borůvka MSF did not converge in 60 rounds")
    if not chosen:  # no ε-edges at all
        return re
    mst = chosen[0]
    for c in chosen[1:]:
        mst = mst.unionAll(c)
    return re.join(mst.distinct(), ["va", "vb"])


@session_cached
def mst_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted MSF edge table (va, vb, label, mm, rk) — the
    Borůvka loop is the family's most job-heavy stage and both the
    MST query and the flat clustering consume its output."""
    df = hdbscan_mst_edges(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


@query("q_hdbscan_mst", oracle=_MST_ORACLE)
def q_hdbscan_mst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Minimum spanning forest of the mutual-reachability ε-graph
    (the HDBSCAN hierarchy's input): Borůvka over per-block edge
    ranks, oracled through the minimax-rank MST characterization.
    |MSF| = |nodes with ≥1 ε-edge| − |components|."""
    return mst_cached(spark, sf_dir).select(
        "va", "vb", "label", F.round(F.sqrt("mm"), 6).alias("mreach")
    )


# ---------------------------------------------------------------------------
# flat clustering: condensed tree + Excess-of-Mass per label block


def _condense_and_select(n_pts, point_ids, edges, min_cluster_size):
    """Pure-Python HDBSCAN extraction for ONE bounded block.

    ``edges`` = [(d, ia, ib)] MSF edges with d the mutual-reachability
    DISTANCE (not squared), ia/ib indices into point_ids, pre-sorted
    by (d, ia, ib). Returns {point_index: (cluster_id, prob)} for
    clustered points; everything else is noise.

    Steps (the hdbscan-library semantics): dendrogram via Kruskal
    union-find → condensed tree at min_cluster_size (a split is real
    iff both sides ≥ m; otherwise the small side's points fall out at
    the split's λ = 1/d) → stability(C) = Σ_children
    (λ_leave − λ_birth)·size → bottom-up EOM selection (select C iff
    stability(C) ≥ Σ selected-descendant stability) → labels =
    selected ancestor of each point's fall-out row, probabilities =
    λ_p / λ_max(selected cluster).

    Deviation from the library, declared: the library's MST spans the
    COMPLETE mutual-reachability graph, so there is one global
    unselectable root. The ε-graph is a forest — each block gets a
    VIRTUAL unselectable root instead, and every MSF-component root
    is a selectable cluster born at λ = 0 (components merge into the
    virtual root "at distance ∞"). A single dense component therefore
    reads as one cluster rather than all-noise —
    allow_single_cluster=True at component granularity."""
    INF_LAM = 1e12

    # --- dendrogram (Kruskal): leaves 0..n-1, internal nodes n+t
    parent_uf = list(range(n_pts))

    def find(x):
        while parent_uf[x] != x:
            parent_uf[x] = parent_uf[parent_uf[x]]
            x = parent_uf[x]
        return x

    rep = list(range(n_pts))  # UF root -> dendro node id
    children: dict[int, tuple[int, int]] = {}
    height: dict[int, float] = {}
    sizes: dict[int, int] = {i: 1 for i in range(n_pts)}
    nxt = n_pts
    for d, ia, ib in edges:
        ra, rb = find(ia), find(ib)
        if ra == rb:
            continue
        node = nxt
        nxt += 1
        children[node] = (rep[ra], rep[rb])
        height[node] = d
        sizes[node] = sizes[rep[ra]] + sizes[rep[rb]]
        parent_uf[ra] = rb
        rep[rb] = node
    roots = {rep[find(i)] for i in range(n_pts)}

    def lam(d):
        return 1.0 / d if d > 0 else INF_LAM

    # --- condense: walk each root; clusters get integer ids
    clusters = []  # idx -> dict(parent, lam_birth)
    fallout = []  # (point_index, cluster_idx, lam)
    child_rows = []  # (parent_idx, child_idx, lam, size) cluster children
    stack = []
    for r in sorted(roots):
        if sizes[r] < min_cluster_size:
            # component too small to ever be a cluster: all noise
            continue
        clusters.append({"parent": -1, "lam_birth": 0.0})
        stack.append((r, len(clusters) - 1))
    while stack:
        node, cid = stack.pop()
        while True:
            if node < n_pts:  # lone leaf left in the cluster
                fallout.append((node, cid, INF_LAM))
                break
            l_ch, r_ch = children[node]
            lv = lam(height[node])
            big_l = sizes[l_ch] >= min_cluster_size
            big_r = sizes[r_ch] >= min_cluster_size
            if big_l and big_r:
                for ch in (l_ch, r_ch):
                    clusters.append({"parent": cid, "lam_birth": lv})
                    child_rows.append((cid, len(clusters) - 1, lv, sizes[ch]))
                    stack.append((ch, len(clusters) - 1))
                break
            if not big_l and not big_r:
                for ch in (l_ch, r_ch):
                    _drop_all(ch, cid, lv, n_pts, children, fallout)
                break
            keep, drop = (l_ch, r_ch) if big_l else (r_ch, l_ch)
            _drop_all(drop, cid, lv, n_pts, children, fallout)
            node = keep

    # --- stability
    stab = [0.0 for _ in clusters]
    for p, cid, lv in fallout:
        stab[cid] += min(lv, INF_LAM) - clusters[cid]["lam_birth"]
    for par, ch, lv, sz in child_rows:
        stab[par] += (lv - clusters[par]["lam_birth"]) * sz

    # --- EOM selection, bottom-up (children have larger idx than
    # parents by construction, so reverse index order is bottom-up)
    kids: dict[int, list[int]] = {}
    for par, ch, _, _ in child_rows:
        kids.setdefault(par, []).append(ch)
    selected = [False] * len(clusters)
    subtree_stab = [0.0] * len(clusters)
    for cid in range(len(clusters) - 1, -1, -1):
        child_sum = sum(subtree_stab[k] for k in kids.get(cid, []))
        if kids.get(cid) and child_sum > stab[cid]:
            subtree_stab[cid] = child_sum
        else:
            selected[cid] = True
            subtree_stab[cid] = stab[cid]
    # deselect descendants of selected clusters (top-down)
    for cid in range(len(clusters)):
        par = clusters[cid]["parent"]
        if par >= 0 and (selected[par] or clusters[par].get("covered")):
            clusters[cid]["covered"] = True
            selected[cid] = False

    # --- labels + probabilities
    sel_anc = [-1] * len(clusters)  # cluster -> its selected ancestor
    for cid in range(len(clusters)):
        if selected[cid]:
            sel_anc[cid] = cid
        else:
            par = clusters[cid]["parent"]
            sel_anc[cid] = sel_anc[par] if par >= 0 else -1
    members: dict[int, list[tuple[int, float]]] = {}
    for p, cid, lv in fallout:
        s = sel_anc[cid]
        if s >= 0:
            members.setdefault(s, []).append((p, lv))
    out = {}
    for s, pts in members.items():
        lam_max = max(lv for _, lv in pts)
        stable_id = min(point_ids[p] for p, _ in pts)
        for p, lv in pts:
            out[p] = (stable_id, min(lv, lam_max) / lam_max if lam_max > 0 else 1.0)
    return out


def _drop_all(node, cid, lv, n_pts, children, fallout):
    """Record every leaf under `node` falling out of cluster cid at λ."""
    st = [node]
    while st:
        x = st.pop()
        if x < n_pts:
            fallout.append((x, cid, lv))
        else:
            st.extend(children[x])


@query("q_hdbscan_clusters")
def q_hdbscan_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full HDBSCAN flat clustering per label block: condensed tree
    at MIN_CLUSTER_SIZE={MIN_CLUSTER_SIZE} over the MSF dendrogram,
    Excess-of-Mass selection, stable labels (min member vec_id; -1 =
    noise) + membership probabilities (λ_p/λ_max, round 6). Rows-only
    (see module docstring); pinned by tests/test_hdbscan.py."""
    import pandas as pd

    mst = mst_cached(spark, sf_dir).select("label", "va", "vb", "mm")
    nodes = load_table(spark, sf_dir, "embeddings").select("label", "vec_id")
    mcs = MIN_CLUSTER_SIZE

    def block(nl: pd.DataFrame, el: pd.DataFrame) -> pd.DataFrame:
        import math

        if nl.empty:
            return pd.DataFrame(
                {"vec_id": [], "label": [], "cluster": [], "prob": []}
            )
        ids = sorted(int(v) for v in nl["vec_id"])
        idx = {v: i for i, v in enumerate(ids)}
        edges = sorted(
            (math.sqrt(float(m)), idx[int(a)], idx[int(b)])
            for a, b, m in zip(el["va"], el["vb"], el["mm"])
        )
        got = _condense_and_select(len(ids), ids, edges, mcs)
        lab = int(nl["label"].iloc[0])
        rows = [
            (
                v,
                lab,
                got[i][0] if i in got else -1,
                round(got[i][1], 6) if i in got else 0.0,
            )
            for i, v in enumerate(ids)
        ]
        return pd.DataFrame(rows, columns=["vec_id", "label", "cluster", "prob"])

    return (
        nodes.groupBy("label")
        .cogroup(mst.groupBy("label"))
        .applyInPandas(
            lambda left, right: block(left, right),
            "vec_id bigint, label int, cluster bigint, prob double",
        )
    )
