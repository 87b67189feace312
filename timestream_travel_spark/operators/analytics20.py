"""Round-12 analytics, part B: the rank-test companions that close
the k-sample family — Dunn's post-hoc pairwise comparison (Dunn,
Technometrics 1964 — the standard follow-up to the already-green
Kruskal–Wallis), Mood's two-sample scale test (Mood, AMS 1954, the
rank test for dispersion rather than location), and the MAD robust
z-score outlier census (Iglewicz & Hoaglin, *How to Detect and
Handle Outliers*, 1993 — the modified z with the 0.6745/3.5
convention).

Exactness design (the analytics5/19 discipline):
- one (type, value) count reduce per query; ranks are DOUBLED
  midranks (integral) on the distinct-value table;
- Dunn: group rank sums U_t = Σc·2R and the tie census Σ(t³−t) are
  exact integers; each pairwise z is one flat double expression;
- Mood: per-row scores A = (2R − (N+1))² and their population
  moments ΣA, ΣA² stay exact — the quartic ΣA² (≤ 16N⁵) rides in
  DECIMAL(38,0) on Spark and HUGEINT on DuckDB, both exact 128-bit
  paths bridged to double once;
- MAD: the median, the deviation median (both DOUBLED — exact for
  even and odd n), and the 3.5-robust-z outlier rule are INTEGER
  comparisons end-to-end: |x−med| > 3.5·MAD/0.6745 is cross-
  multiplied to 2·6745·|2x−med2| > 35000·mad4 with exact decimals,
  so the outlier census never touches a float.

Scale shape: bounded by the value domain and |types|²; the
cumulative windows sort domain-bounded slices (analytics5's
argument).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.operators.analytics5 import _CNT_SQL, _counts, _pair_grid
from timestream_travel_spark.registry import query

# Combined midranks over ALL types at once (Dunn ranks the pooled
# k-sample data, unlike the per-pair merges of the two-sample tests).
_POOLED_SQL = f"""
    WITH cnt AS ({_CNT_SQL}
    ), pooled AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS ct FROM cnt GROUP BY v
    ), cum AS (
      SELECT v, ct,
             SUM(ct) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cm
      FROM pooled
    ), ranked AS (
      SELECT v, ct, 2 * cm - ct + 1 AS r2 FROM cum
    )
"""


@query(
    "q_dunn_posthoc",
    oracle=f"""{_POOLED_SQL},
    g AS (
      SELECT c.t, CAST(SUM(c.c) AS BIGINT) AS n,
             SUM(CAST(c.c * r.r2 AS DECIMAL(38,0))) AS u
      FROM cnt c JOIN ranked r ON r.v = c.v
      GROUP BY c.t
    ), tot AS (
      SELECT CAST(SUM(ct) AS BIGINT) AS nn,
             CAST(SUM(ct * ct * ct - ct) AS BIGINT) AS ties
      FROM pooled
    )
    SELECT a.t AS type_a, b.t AS type_b, a.n AS n_a, b.n AS n_b,
           round((CAST(CAST(a.u AS VARCHAR) AS DOUBLE) / (2.0 * a.n)
                  - CAST(CAST(b.u AS VARCHAR) AS DOUBLE) / (2.0 * b.n))
                 / sqrt((CAST(tot.nn AS DOUBLE) * (tot.nn + 1) / 12.0
                         - CAST(tot.ties AS DOUBLE)
                           / (12.0 * (tot.nn - 1)))
                        * (1.0 / a.n + 1.0 / b.n)), 6) AS z_dunn
    FROM g a JOIN g b ON a.t < b.t CROSS JOIN tot
    """,
)
def q_dunn_posthoc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dunn's post-hoc z for every event-type pair on the POOLED
    k-sample midranks (the Kruskal–Wallis follow-up): z =
    (R̄a − R̄b) / sqrt((N(N+1)/12 − Σ(t³−t)/(12(N−1)))·(1/na+1/nb)).
    Rank sums and the tie census are exact integers — computed
    driver-side over the collected domain-bounded counts spine
    (rank_kit, r16); one flat double expression per pair stays in
    Spark, unchanged."""
    from decimal import Decimal

    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        doubled_midranks,
        pooled_grid,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    vs, cs = pooled_grid(kit)
    r2map = dict(zip(vs.tolist(), doubled_midranks(cs).tolist()))
    g_rows = []
    for t in sorted(kit):
        v, c = kit[t]
        n = int(c.sum())
        u = sum(k * r2map[x] for x, k in zip(v.tolist(), c.tolist()))
        g_rows.append((t, n, Decimal(u)))
    nn = int(cs.sum())
    ties = sum(k * k * k - k for k in cs.tolist())
    g = bounded_df(spark, g_rows, "t string, n bigint, u decimal(38,0)")
    tot = bounded_df(spark, [(nn, ties)], "nn bigint, ties bigint")
    a = g.select(
        F.col("t").alias("type_a"),
        F.col("n").alias("n_a"),
        F.col("u").alias("u_a"),
    )
    b = g.select(
        F.col("t").alias("type_b"),
        F.col("n").alias("n_b"),
        F.col("u").alias("u_b"),
    )
    nn, ties = F.col("nn"), F.col("ties")
    var = (
        nn.cast("double") * (nn + 1) / F.lit(12.0)
        - ties.cast("double") / (F.lit(12.0) * (nn - 1))
    ) * (F.lit(1.0) / F.col("n_a") + F.lit(1.0) / F.col("n_b"))
    return (
        a.join(b, F.col("type_a") < F.col("type_b"))
        .crossJoin(F.broadcast(tot))
        .select(
            "type_a",
            "type_b",
            "n_a",
            "n_b",
            F.round(
                (
                    F.col("u_a").cast("double") / (F.lit(2.0) * F.col("n_a"))
                    - F.col("u_b").cast("double") / (F.lit(2.0) * F.col("n_b"))
                )
                / F.sqrt(var),
                6,
            ).alias("z_dunn"),
        )
    )


# Mood scale test: per-pair merged midranks (the analytics19 spine).
_MOOD_SQL = f"""
    WITH cnt AS ({_CNT_SQL}
    ), n AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
    ), pairs AS (
      SELECT a.t AS ta, b.t AS tb, a.n AS n_a, b.n AS n_b
      FROM n a JOIN n b ON a.t < b.t
    ), merged AS (
      SELECT p.ta, p.tb, p.n_a, p.n_b, c.v,
             SUM(CASE WHEN c.t = p.ta THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.t = p.tb THEN c.c ELSE 0 END) AS cb
      FROM pairs p JOIN cnt c ON c.t = p.ta OR c.t = p.tb
      GROUP BY p.ta, p.tb, p.n_a, p.n_b, c.v
    ), ranks AS (
      SELECT ta, tb, n_a, n_b, ca, cb,
             (2 * (SUM(ca + cb) OVER w) - (ca + cb) + 1
              - (n_a + n_b + 1)) AS s2
      FROM merged
      WINDOW w AS (PARTITION BY ta, tb ORDER BY v ROWS UNBOUNDED PRECEDING)
    ), agg AS (
      SELECT ta, tb, n_a, n_b,
             SUM(CAST(ca AS HUGEINT) * s2 * s2) AS t1,
             SUM(CAST(ca + cb AS HUGEINT) * s2 * s2) AS sa,
             SUM(CAST(ca + cb AS HUGEINT) * s2 * s2 * s2 * s2) AS sa2
      FROM ranks GROUP BY ta, tb, n_a, n_b
    )
"""


@query(
    "q_mood_scale_test",
    oracle=f"""{_MOOD_SQL}
    SELECT ta AS type_a, tb AS type_b, n_a, n_b,
           round((CAST(CAST(t1 AS VARCHAR) AS DOUBLE)
                  - n_a * CAST(CAST(sa AS VARCHAR) AS DOUBLE)
                    / (n_a + n_b))
                 / sqrt(CAST(n_a AS DOUBLE) * n_b
                        / ((n_a + n_b) * (n_a + n_b - 1.0))
                        * (CAST(CAST(sa2 AS VARCHAR) AS DOUBLE)
                           - CAST(CAST(sa AS VARCHAR) AS DOUBLE)
                             * CAST(CAST(sa AS VARCHAR) AS DOUBLE)
                             / (n_a + n_b))), 6) AS z_mood
    FROM agg
    """,
)
def q_mood_scale_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mood's two-sample scale test for every event-type pair, with
    the exact permutation moments (tie-robust form): scores
    A = (R − (N+1)/2)² are kept as DOUBLED integers s2 = 2R−(N+1)
    (A = s2²/4, and z is invariant to that common scaling), T = Σ_a
    s2², and z = (T − n_a·Ā) / sqrt(n_a·n_b/(N(N−1))·(ΣA² − N·Ā²)
    ·N/... ) evaluated as one flat expression over five exact
    aggregates. The quartic Σs2⁴ stays exact in DECIMAL(38,0) /
    HUGEINT."""
    # r16: the merged-midrank census runs driver-side over the
    # collected domain-bounded counts spine (rank_kit; Python ints
    # reproduce the DECIMAL(38,0)/HUGEINT widenings exactly); the
    # final z composition below is unchanged Spark expressions.
    from decimal import Decimal

    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        doubled_midranks,
        merged_pair,
        type_pairs,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    rows = []
    for ta, tb in type_pairs(kit):
        _, ca, cb = merged_pair(kit, ta, tb)
        n_a, n_b = int(ca.sum()), int(cb.sum())
        r2 = doubled_midranks(ca + cb)
        t1 = sa = sa2 = 0
        for a_, c_, r_ in zip(ca.tolist(), (ca + cb).tolist(), r2.tolist()):
            s2 = r_ - (n_a + n_b + 1)
            s2sq = s2 * s2
            t1 += a_ * s2sq
            sa += c_ * s2sq
            sa2 += c_ * s2sq * s2sq
        rows.append((ta, tb, n_a, n_b, Decimal(t1), Decimal(sa), Decimal(sa2)))
    agg = bounded_df(
        spark,
        rows,
        "ta string, tb string, n_a bigint, n_b bigint,"
        " t1 decimal(38,0), sa decimal(38,0), sa2 decimal(38,0)",
    )
    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    nn = F.col("n_a") + F.col("n_b")
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "n_a",
        "n_b",
        F.round(
            (dbl("t1") - F.col("n_a") * dbl("sa") / nn)
            / F.sqrt(
                F.col("n_a").cast("double")
                * F.col("n_b")
                / (nn * (nn - F.lit(1.0)))
                * (dbl("sa2") - dbl("sa") * dbl("sa") / nn)
            ),
            6,
        ).alias("z_mood"),
    )


# ---------------------------------------------------- MAD robust z
def _med2_sql(src: str, val: str, part: str) -> str:
    """CTE body computing the DOUBLED median (exact for even/odd n)
    of `{val}` within `{part}` groups from a (group, value, count)
    table `{src}` — lower + upper middle order statistics summed."""
    return f"""
      SELECT {part}, SUM(lo_v) + SUM(hi_v) AS med2 FROM (
        SELECT {part},
               MIN(CASE WHEN cm >= (n + 1) // 2 THEN {val} END) AS lo_v,
               MIN(CASE WHEN cm >= (n + 2) // 2 THEN {val} END) AS hi_v
        FROM (
          SELECT {part}, {val}, n,
                 SUM(c) OVER (PARTITION BY {part} ORDER BY {val}
                              ROWS UNBOUNDED PRECEDING) AS cm
          FROM {src}
        ) GROUP BY {part}
      ) GROUP BY {part}
"""


@query(
    "q_mad_robust_z",
    oracle=f"""
    WITH cnt0 AS ({_CNT_SQL}
    ), nn AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt0 GROUP BY t
    ), cnt AS (
      SELECT c.t, CAST(c.v AS DECIMAL(20,4)) AS v, c.c, m.n
      FROM cnt0 c JOIN nn m ON m.t = c.t
    ), med AS ({_med2_sql("cnt", "v", "t")}
    ), dev AS (
      SELECT c.t, abs(2 * c.v - m.med2) AS dv, SUM(c.c) AS c,
             ANY_VALUE(c.n) AS n
      FROM cnt c JOIN med m ON m.t = c.t
      GROUP BY c.t, abs(2 * c.v - m.med2)
    ), devn as (SELECT t, dv AS v, c, n FROM dev
    ), mad AS ({_med2_sql("devn", "v", "t")}
    )
    SELECT c.t AS event_type, ANY_VALUE(c.n) AS n,
           CAST(CAST(ANY_VALUE(m.med2) AS VARCHAR) AS DOUBLE) / 2.0
             AS median,
           CAST(CAST(ANY_VALUE(d.med2) AS VARCHAR) AS DOUBLE) / 4.0 AS mad,
           CAST(SUM(CASE WHEN 2 * 6745 * abs(2 * c.v - m.med2)
                              > 35000 * d.med2
                     THEN c.c ELSE 0 END) AS BIGINT) AS n_outliers
    FROM cnt c JOIN med m ON m.t = c.t JOIN mad d ON d.t = c.t
    GROUP BY c.t
    """,
)
def q_mad_robust_z(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAD-based robust outlier census per event type: modified
    z = 0.6745·(x − median)/MAD, flagged at |z| > 3.5 (Iglewicz &
    Hoaglin). The median and the deviation median are DOUBLED order
    statistics (exact for even and odd n), and the flag rule is the
    cross-multiplied integer comparison 2·6745·|2x − med2| >
    35000·mad4 — the whole census is exact decimal arithmetic; only
    the two emitted level columns divide once."""
    # r16: the median / deviation-median selections and the integer
    # outlier census run driver-side over the collected counts spine
    # (rank_kit) in scale-4 integer arithmetic — the exact twin of the
    # DECIMAL(20,4) formulation (Decimal(repr(x)) reproduces Spark's
    # double→DECIMAL HALF_UP cast); only the two emitted level
    # divisions stay Spark float expressions, unchanged.
    from decimal import ROUND_HALF_UP, Decimal

    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        med2_doubled,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    q4 = Decimal("1e-4")
    rows = []
    for t in sorted(kit):
        v, c = kit[t]
        grid: dict[int, int] = {}
        for x, k in zip(v.tolist(), c.tolist()):
            v4 = int(Decimal(repr(x)).quantize(q4, ROUND_HALF_UP).scaleb(4))
            grid[v4] = grid.get(v4, 0) + k
        vs = sorted(grid)
        cs = [grid[x] for x in vs]
        n = sum(cs)
        med2 = med2_doubled(vs, cs, n)
        dev: dict[int, int] = {}
        for x, k in zip(vs, cs):
            dv = abs(2 * x - med2)
            dev[dv] = dev.get(dv, 0) + k
        dvs = sorted(dev)
        mad4 = med2_doubled(dvs, [dev[x] for x in dvs], n)
        n_out = sum(
            k
            for x, k in zip(vs, cs)
            if 2 * 6745 * abs(2 * x - med2) > 35000 * mad4
        )
        rows.append(
            (t, n, Decimal(med2).scaleb(-4), Decimal(mad4).scaleb(-4), n_out)
        )
    stats = bounded_df(
        spark,
        rows,
        "event_type string, n bigint, med2 decimal(24,4),"
        " mad4 decimal(24,4), n_outliers bigint",
    )
    return stats.select(
        "event_type",
        "n",
        (F.col("med2").cast("double") / F.lit(2.0)).alias("median"),
        (F.col("mad4").cast("double") / F.lit(4.0)).alias("mad"),
        "n_outliers",
    )
