"""Driver-side exact rank/order-statistics kit over the collected
(type, value, count) spine (round-16 optimization).

The two-sample/k-sample rank-test family (analytics5/9/11/17/19/20/
21/22/23/24/25) computes exact INTEGER censuses — doubled midranks,
tie sums, ECDF gaps, zigzag scores — over the (t, v, c) count table,
which is DOMAIN-bounded: one row per (type, distinct value), ≤ 49k
rows at sf0.1 and bounded by |types|·|price domain| regardless of
event count. Until r16 each query ran its census as 1-3 window/join
passes over the (session-cached) spine — every pass a shuffle +
window sort whose input never grows with the corpus, plus duplicated
plan branches wherever a tiny aggregate fed two joins (q_mad_robust_z
re-executed its median window 3×; 68 Exchanges in one plan).

This module is the q_hodges_lehmann_shift (r14) / graph_kit (r15)
precedent applied to the whole family: the one corpus-sized pass (the
events groupBy behind analytics5._counts) STAYS distributed and
session-cached; the bounded count table is collected ONCE per
(session, fixture) and the census arithmetic runs driver-side in
exact integer / Decimal arithmetic (Python ints reproduce the
DECIMAL(38,0)/HUGEINT widenings by construction; Decimal(repr(x))
reproduces Spark's double→DECIMAL HALF_UP cast — the _pagerank_iterate
bridge, r15). Every query keeps its final float expression IN SPARK
over a bounded_df of the exact sufficient statistics, so the emitted
doubles compose through the identical Catalyst expressions as before
— results are bit-identical (strict-oracle-verified at 3 SFs).

Scale note (guide §1.2): at 100 TB the only corpus-sized work in this
family is the shared count reduce, unchanged and distributed. The
census tables were ALWAYS bounded driver-sized state by construction
(the same bound the DuckDB oracles' materialized CTEs rely on); for a
genuinely unbounded value domain the documented scale path is the
pre-r16 distributed census (git history) or re-quantization to a
fixed grid (the HL argument, analytics22).
"""

from __future__ import annotations

from decimal import ROUND_HALF_UP, Decimal

import numpy as np
from pyspark.sql import SparkSession

from timestream_travel_spark.tables import session_cached

_Q4 = Decimal("1e-4")


def dec4(x: float) -> int:
    """The scale-4 integer of CAST(v AS DECIMAL(20,4)): Spark/Java
    casts a double through BigDecimal(Double.toString(d)) with
    HALF_UP, which Decimal(repr(x)) reproduces exactly (the
    _pagerank_iterate bridge, r15)."""
    return int(Decimal(repr(x)).quantize(_Q4, ROUND_HALF_UP).scaleb(4))


@session_cached
def counts_by_type(spark: SparkSession, sf_dir: str) -> dict:
    """{t: (v float64 ascending, c int64)} — the collected counts
    spine; the collect reads the persisted analytics5._counts table
    (one cheap job after the first family consumer has paid the
    distributed build)."""
    from timestream_travel_spark.operators.analytics5 import _counts

    by_t: dict[str, list[tuple[float, int]]] = {}
    for r in _counts(spark, sf_dir).collect():
        by_t.setdefault(r.t, []).append((r.v, r.c))
    kit = {}
    for t, pairs in by_t.items():
        pairs.sort()
        kit[t] = (
            np.array([p[0] for p in pairs], dtype=np.float64),
            np.array([p[1] for p in pairs], dtype=np.int64),
        )
    return kit


@session_cached
def cents_by_type(spark: SparkSession, sf_dir: str) -> dict:
    """{t: {cents: count}} — the integer-cents census (Spark's
    round(v*100): BigDecimal(Double.toString) HALF_UP, reproduced by
    Decimal(repr)) derived from the collected spine; shared by the
    cents-quantile family (trimean, HL, Wilson, GMD, Bowley–Moors)."""
    one = Decimal(1)
    cents = {}
    for t, (v, c) in counts_by_type(spark, sf_dir).items():
        acc: dict[int, int] = {}
        for x, k in zip(v.tolist(), c.tolist()):
            vc = int(Decimal(repr(x * 100.0)).quantize(one, ROUND_HALF_UP))
            acc[vc] = acc.get(vc, 0) + k
        cents[t] = acc
    return cents


@session_cached
def dec4_by_type(spark: SparkSession, sf_dir: str) -> dict:
    """{t: {scale4_int: count}} — the CAST(v AS DECIMAL(18,4)) census
    (dec4 bridge) derived from the collected spine; shared by the
    decimal-quantile family (Tukey fences, trimmed/winsorized, Q-Q
    and Lorenz deciles)."""
    blocks = {}
    for t, (v, c) in counts_by_type(spark, sf_dir).items():
        acc: dict[int, int] = {}
        for x, k in zip(v.tolist(), c.tolist()):
            v4 = dec4(x)
            acc[v4] = acc.get(v4, 0) + k
        blocks[t] = acc
    return blocks


@session_cached
def daily_rows(spark: SparkSession, sf_dir: str) -> dict:
    """{day: [(t, v Decimal)]} — the collected |types|×|days| daily
    spine (analytics8._daily, exact DECIMAL(38,4) sums); the
    within-day doubled-midrank family (Friedman, Kendall's W, Quade,
    Page) iterates it driver-side."""
    from timestream_travel_spark.operators.analytics8 import _daily

    by_day = {}
    for r in _daily(spark, sf_dir).collect():
        by_day.setdefault(r.day, []).append((r.t, r.v))
    return by_day


def friedman_r2(by_day: dict, k: int) -> tuple:
    """(r2j per type, n_complete_blocks) — within-day doubled
    midranks summed per treatment over COMPLETE days (the shared
    Friedman/Kendall-W/Page census)."""
    r2j: dict[str, int] = {}
    nblocks = 0
    for day, rows_ in by_day.items():
        if len(rows_) != k:
            continue
        nblocks += 1
        vals = sorted(v for _, v in rows_)
        for t, v in rows_:
            lo = vals.index(v) + 1
            ties = sum(1 for x in vals if x == v)
            r2j[t] = r2j.get(t, 0) + 2 * lo + ties - 1
    return r2j, nblocks


def pooled_grid(kit: dict):
    """(v ascending, ct) pooled over all types — the k-sample grid."""
    acc: dict[float, int] = {}
    for v, c in kit.values():
        for x, k in zip(v.tolist(), c.tolist()):
            acc[x] = acc.get(x, 0) + k
    vs = np.array(sorted(acc), dtype=np.float64)
    cs = np.array([acc[x] for x in vs.tolist()], dtype=np.int64)
    return vs, cs


def merged_pair(kit: dict, ta: str, tb: str):
    """(v ascending, ca, cb) over the union value grid of one type
    pair — the _pair_grid row block for (ta, tb), driver-side."""
    va, ca = kit[ta]
    vb, cb = kit[tb]
    grid: dict[float, list[int]] = {}
    for x, k in zip(va.tolist(), ca.tolist()):
        grid.setdefault(x, [0, 0])[0] += k
    for x, k in zip(vb.tolist(), cb.tolist()):
        grid.setdefault(x, [0, 0])[1] += k
    vs = sorted(grid)
    a = np.array([grid[x][0] for x in vs], dtype=np.int64)
    b = np.array([grid[x][1] for x in vs], dtype=np.int64)
    return np.array(vs, dtype=np.float64), a, b


def type_pairs(kit: dict):
    """[(ta, tb)] for ta < tb — the family's pair fan-out order."""
    ts = sorted(kit)
    return [(a, b) for i, a in enumerate(ts) for b in ts[i + 1 :]]


def med2_doubled(values: list, counts: list, n: int):
    """lo + hi middle order statistics (the DOUBLED median — exact
    for even and odd n) of a sorted (value, count) grid: the
    driver-side twin of analytics20._med2_sql / med2_of."""
    lo, hi = (n + 1) // 2, (n + 2) // 2
    cum = 0
    lo_v = hi_v = None
    for x, k in zip(values, counts):
        cum += k
        if lo_v is None and cum >= lo:
            lo_v = x
        if cum >= hi:
            hi_v = x
            break
    return lo_v + hi_v


def doubled_midranks(counts: np.ndarray) -> np.ndarray:
    """r2 = 2·cum − c + 1 (the doubled midrank of each distinct-value
    block; always integral) for a block-count array in value order."""
    cum = np.cumsum(counts)
    return 2 * cum - counts + 1
