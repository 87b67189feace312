"""Analytics, part C (round 14): the remaining classical association
and trend machinery — the Fligner–Policello robust rank-order test
(Fligner & Policello, JASA 1981 — the Behrens–Fisher-safe cousin of
Mann–Whitney: placements instead of pooled ranks, so unequal
variances don't distort the null), the Mann–Kendall trend test
(Mann, Econometrica 1945; Kendall 1975 — THE nonparametric monotone
trend test, the significance companion of the already-green
q_theilsen_trend), Goodman–Kruskal lambda (Goodman & Kruskal, JASA
1954 — the proportional-reduction-in-error association measure for
nominal×nominal), Theil's uncertainty coefficient (Theil 1970 — the
entropy-based asymmetric association), and the Wilson score interval
(Wilson, JASA 1927 — the binomial CI that behaves at extreme p̂).

Exactness design:
- Fligner–Policello placements come from the merged per-pair count
  table (the analytics22 spine): the DOUBLED placement of an
  x-observation at value v is p2 = 2·Σ_{w<v} cb(w) + cb(v), an exact
  integer; ΣP, ΣP² stay BIGINT/DECIMAL(38,0), and
  z = ((Σp2 − Σq2)/2) / sqrt(V̂₁ + V̂₂ + P̄·Q̄) is ONE
  identically-parenthesized double composition of the exact
  aggregates (DECIMAL sums cross to double via the VARCHAR bridge —
  the dsum_sql rule).
- Mann–Kendall compares daily MEANS exactly by cross-multiplication
  of cent-sums (sign(s_j·c_i − s_i·c_j) — no rational ever
  materializes); the tie correction Σ t(t−1)(2t+5) is recovered
  WITHOUT group keys as Σ_days (t_i−1)(2t_i+5) where t_i counts
  equal-mean days via the same exact pair equality; z applies the
  standard ±1 continuity correction, one sqrt composition.
- Lambda is pure integer: Σ_r max_c n_rc, Σ_c max_r n_rc, the two
  modal marginals, three flat divisions (zero-denominator guarded to
  NULL in BOTH engines — the q_trimean_qcd ADVICE rule).
- Theil's U quantizes each −p·ln p term to DECIMAL(24,15) before the
  exact associative sum (irrational terms are quantize-safe — the
  q_mutual_information idiom), then composes the three entropies in
  identical double shapes.
- Wilson needs only k (successes: events strictly above their
  type's mean, decided by the exact integer comparison
  vc·n > Σvc) and n; z = 1.96 enters as the literals 1.96/3.8416
  written identically at both sites.

Scale shape: everything reduces to the (type, value)/(type, day)/
(priority, status) count tables first — one map-side-combined
shuffle each over the raw fact table; the pair joins and window
sums run on domain-bounded tables (|distinct cents| per type, 30
days, 5×3 cells). Nothing downstream grows with raw row count.

Reference parity: none (cmd/backup.go has no statistics surface) —
north-star derived capability, siblings of analytics5-23.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.analytics5 import (
    _CNT_SQL,
    _PAIRS_SQL,
    _counts,
    _pairs,
    _pair_grid,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

# ------------------------------------------------ Fligner–Policello

_FP_BASE_SQL = f"""
    WITH cnt AS ({_CNT_SQL}
    ), n AS (SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
    ), pairs AS ({_PAIRS_SQL}
    ), merged AS (
      SELECT p.ta, p.tb, p.n_a, p.n_b, c.v,
             SUM(CASE WHEN c.t = p.ta THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.t = p.tb THEN c.c ELSE 0 END) AS cb
      FROM pairs p JOIN cnt c ON c.t = p.ta OR c.t = p.tb
      GROUP BY p.ta, p.tb, p.n_a, p.n_b, c.v
    ), plc AS (
      SELECT ta, tb, n_a, n_b, ca, cb,
             2 * (SUM(cb) OVER w) - cb AS p2,
             2 * (SUM(ca) OVER w) - ca AS q2
      FROM merged
      WINDOW w AS (PARTITION BY ta, tb ORDER BY v ROWS UNBOUNDED PRECEDING)
    ), agg AS (
      SELECT ta, tb, n_a, n_b,
             CAST(SUM(ca * p2) AS BIGINT) AS sp,
             SUM(CAST(ca AS DECIMAL(38,0)) * p2 * p2) AS sp2,
             CAST(SUM(cb * q2) AS BIGINT) AS sq,
             SUM(CAST(cb AS DECIMAL(38,0)) * q2 * q2) AS sq2
      FROM plc GROUP BY ta, tb, n_a, n_b
    )
"""


@query(
    "q_fligner_policello",
    oracle=f"""{_FP_BASE_SQL}
    SELECT ta AS type_a, tb AS type_b, n_a, n_b,
           sp AS sum_p2, sq AS sum_q2,
           round(((CAST(sp AS DOUBLE) - sq) / 2.0)
                 / sqrt((CAST(n_a AS DOUBLE)
                           * CAST(CAST(sp2 AS VARCHAR) AS DOUBLE)
                         - CAST(sp AS DOUBLE) * sp) / (4.0 * n_a)
                        + (CAST(n_b AS DOUBLE)
                             * CAST(CAST(sq2 AS VARCHAR) AS DOUBLE)
                           - CAST(sq AS DOUBLE) * sq) / (4.0 * n_b)
                        + CAST(sp AS DOUBLE) * sq
                          / (4.0 * CAST(n_a AS DOUBLE) * n_b)), 6) AS z_fp
    FROM agg
    """,
)
def q_fligner_policello(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fligner–Policello robust rank-order z for every event-type
    pair: U = (ΣP − ΣQ) / (2·sqrt(SS_P + SS_Q + P̄·Q̄)) with
    placements P_i = #{{y < x_i}} + ½#{{y = x_i}} — computed on
    DOUBLED integer placements from the merged count table, one
    identically-shaped double composition (module docstring)."""
    # r16: the doubled-placement census runs driver-side over the
    # collected counts spine (rank_kit; Python ints reproduce the
    # DECIMAL(38,0) widenings); the z composition below is unchanged
    # Spark expressions.
    from decimal import Decimal

    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        merged_pair,
        type_pairs,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    rows = []
    for ta, tb in type_pairs(kit):
        _, ca, cb = merged_pair(kit, ta, tb)
        n_a, n_b = int(ca.sum()), int(cb.sum())
        sp = sp2 = sq = sq2 = 0
        cuma = cumb = 0
        for a_, b_ in zip(ca.tolist(), cb.tolist()):
            cuma += a_
            cumb += b_
            p2 = 2 * cumb - b_
            q2 = 2 * cuma - a_
            sp += a_ * p2
            sp2 += a_ * p2 * p2
            sq += b_ * q2
            sq2 += b_ * q2 * q2
        rows.append((ta, tb, n_a, n_b, sp, Decimal(sp2), sq, Decimal(sq2)))
    agg = bounded_df(
        spark,
        rows,
        "ta string, tb string, n_a bigint, n_b bigint, sp bigint, "
        "sp2 decimal(38,0), sq bigint, sq2 decimal(38,0)",
    )
    dbl = lambda name: F.col(name).cast("double")  # noqa: E731
    z = ((dbl("sp") - F.col("sq")) / F.lit(2.0)) / F.sqrt(
        (F.col("n_a").cast("double") * dbl("sp2") - dbl("sp") * F.col("sp"))
        / (F.lit(4.0) * F.col("n_a"))
        + (F.col("n_b").cast("double") * dbl("sq2") - dbl("sq") * F.col("sq"))
        / (F.lit(4.0) * F.col("n_b"))
        + dbl("sp") * F.col("sq")
        / (F.lit(4.0) * F.col("n_a").cast("double") * F.col("n_b"))
    )
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "n_a",
        "n_b",
        F.col("sp").alias("sum_p2"),
        F.col("sq").alias("sum_q2"),
        F.round(z, 6).alias("z_fp"),
    )


# --------------------------------------------------- Mann–Kendall

_MK_DAILY_SQL = """
      SELECT event_type AS t, CAST(date_trunc('day', ts) AS DATE) AS day,
             CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT) AS s,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@query(
    "q_mann_kendall_trend",
    oracle=f"""
    WITH daily AS ({_MK_DAILY_SQL}
    ), pr AS (
      SELECT a.t,
             CASE WHEN b.s * a.c > a.s * b.c THEN 1
                  WHEN b.s * a.c < a.s * b.c THEN -1 ELSE 0 END AS sg
      FROM daily a JOIN daily b ON a.t = b.t AND a.day < b.day
    ), s_stat AS (
      SELECT t, CAST(SUM(sg) AS BIGINT) AS s_mk FROM pr GROUP BY t
    ), tie AS (
      SELECT a.t, a.day, CAST(COUNT(*) AS BIGINT) AS ti
      FROM daily a JOIN daily b
        ON a.t = b.t AND a.s * b.c = b.s * a.c
      GROUP BY a.t, a.day
    ), corr AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(SUM((ti - 1) * (2 * ti + 5)) AS BIGINT) AS tie_corr
      FROM tie GROUP BY t
    )
    SELECT s.t AS event_type, c.n_days, s.s_mk,
           CAST(c.n_days * (c.n_days - 1) * (2 * c.n_days + 5)
                - c.tie_corr AS BIGINT) AS var18_num,
           round(CASE WHEN s.s_mk > 0 THEN
                   (CAST(s.s_mk AS DOUBLE) - 1.0)
                   / sqrt(CAST(c.n_days * (c.n_days - 1) * (2 * c.n_days + 5)
                               - c.tie_corr AS DOUBLE) / 18.0)
                 WHEN s.s_mk < 0 THEN
                   (CAST(s.s_mk AS DOUBLE) + 1.0)
                   / sqrt(CAST(c.n_days * (c.n_days - 1) * (2 * c.n_days + 5)
                               - c.tie_corr AS DOUBLE) / 18.0)
                 ELSE 0.0 END, 6) AS z_mk
    FROM s_stat s JOIN corr c ON c.t = s.t
    """,
)
def q_mann_kendall_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Kendall monotone trend test per event type over the
    30-day daily-mean series: S = Σ_{{i<j}} sign(x̄_j − x̄_i) with
    the sign decided by exact cent-sum cross-multiplication, the
    tie-corrected variance numerator n(n−1)(2n+5) − Σt(t−1)(2t+5)
    recovered per-day from equal-mean pair counts, and the
    continuity-corrected z (module docstring). Day count is bounded
    by the calendar, so the pair join is O(days²) per type at any
    SF."""
    # r16: the O(days²) sign/tie census runs driver-side over the
    # collected calendar-bounded daily table (one distributed scan +
    # reduce, one collect; the day-pair self-joins re-ran the daily
    # build per branch); the z composition below is unchanged Spark
    # expressions.
    from timestream_travel_spark.tables import bounded_df

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("day", "ts").cast("date").alias("day"),
    ).agg(
        F.sum(F.round(F.col("value") * 100, 0).cast("bigint"))
        .cast("bigint")
        .alias("s"),
        F.count(F.lit(1)).cast("bigint").alias("c"),
    )
    by_t: dict[str, list[tuple]] = {}
    for r in daily.collect():
        by_t.setdefault(r.t, []).append((r.day, r.s, r.c))
    out = []
    for t in sorted(by_t):
        days = sorted(by_t[t])
        # S = Σ_{da<db} sign(mean_db − mean_da), exact cross-multiply
        s_mk = 0
        for i, (da, sa, ca_) in enumerate(days):
            for db, sb, cb_ in days[i + 1 :]:
                lhs, rhs = sb * ca_, sa * cb_
                if lhs > rhs:
                    s_mk += 1
                elif lhs < rhs:
                    s_mk -= 1
        # The tie join has no day-order filter: for every day da,
        # ti = #{db : equal mean} INCLUDING the self-pair, so each
        # day contributes (ti−1)(2ti+5) (a tie group of size g sums
        # to g(g−1)(2g+5), the classical correction) and n_days is
        # the full day count.
        tie_corr = 0
        for da, sa, ca_ in days:
            ti = sum(1 for db, sb, cb_ in days if sa * cb_ == sb * ca_)
            tie_corr += (ti - 1) * (2 * ti + 5)
        out.append((t, len(days), s_mk, tie_corr))
    joined = bounded_df(
        spark,
        out,
        "t string, n_days bigint, s_mk bigint, tie_corr bigint",
    )
    nd = F.col("n_days")
    var_num = (nd * (nd - 1) * (2 * nd + 5) - F.col("tie_corr")).cast("bigint")
    sd = F.sqrt(var_num.cast("double") / F.lit(18.0))
    z = (
        F.when(F.col("s_mk") > 0, (F.col("s_mk").cast("double") - F.lit(1.0)) / sd)
        .when(F.col("s_mk") < 0, (F.col("s_mk").cast("double") + F.lit(1.0)) / sd)
        .otherwise(F.lit(0.0))
    )
    return joined.select(
        F.col("t").alias("event_type"),
        "n_days",
        "s_mk",
        var_num.alias("var18_num"),
        F.round(z, 6).alias("z_mk"),
    )


# -------------------------------------- Goodman–Kruskal lambda

_GK_CELLS_SQL = """
      SELECT o_orderpriority AS r, o_orderstatus AS cl,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM orders GROUP BY 1, 2
"""

@session_cached
def _order_cells(spark: SparkSession, sf_dir: str) -> list[tuple]:
    """Collected (priority, status, count) contingency cells — the
    ≤|priorities|·|statuses| table behind GK lambda and Theil's U;
    the distributed reduce over orders runs once (r16)."""
    od = load_table(spark, sf_dir, "orders")
    return [
        (r.r, r.cl, r.c)
        for r in od.groupBy(
            F.col("o_orderpriority").alias("r"),
            F.col("o_orderstatus").alias("cl"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        .collect()
    ]


@query(
    "q_gk_lambda",
    oracle=f"""
    WITH cells AS ({_GK_CELLS_SQL}
    ), agg AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST((SELECT SUM(m) FROM (SELECT MAX(c) AS m FROM cells
                                       GROUP BY r)) AS BIGINT) AS sum_rowmax,
             CAST((SELECT SUM(m) FROM (SELECT MAX(c) AS m FROM cells
                                       GROUP BY cl)) AS BIGINT) AS sum_colmax,
             CAST((SELECT MAX(nc) FROM (SELECT SUM(c) AS nc FROM cells
                                        GROUP BY cl)) AS BIGINT) AS max_coltot,
             CAST((SELECT MAX(nr) FROM (SELECT SUM(c) AS nr FROM cells
                                        GROUP BY r)) AS BIGINT) AS max_rowtot
      FROM cells
    )
    SELECT n, sum_rowmax, sum_colmax, max_coltot, max_rowtot,
           CASE WHEN n > max_coltot THEN
             round(CAST(sum_rowmax - max_coltot AS DOUBLE)
                   / (n - max_coltot), 6) END AS lambda_c_given_r,
           CASE WHEN n > max_rowtot THEN
             round(CAST(sum_colmax - max_rowtot AS DOUBLE)
                   / (n - max_rowtot), 6) END AS lambda_r_given_c,
           CASE WHEN 2 * n > max_coltot + max_rowtot THEN
             round(CAST(sum_rowmax + sum_colmax - max_coltot - max_rowtot
                        AS DOUBLE)
                   / (2 * n - max_coltot - max_rowtot), 6) END AS lambda_sym
    FROM agg
    """,
)
def q_gk_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Goodman–Kruskal lambda over the (order priority × order
    status) contingency table: the proportional reduction in modal
    prediction error, λ(C|R) = (Σ_r max_c n_rc − max_c n_·c) /
    (n − max_c n_·c), its transpose, and the symmetric form — all
    exact integers, three guarded flat divisions."""
    # r16: the five modal/marginal aggregates run driver-side over
    # the collected ≤|priorities|·|statuses| contingency cells (one
    # distributed reduce, one collect instead of a checkpoint + five
    # agg branches); the guarded divisions below are unchanged Spark
    # expressions.
    from timestream_travel_spark.tables import bounded_df

    cells = _order_cells(spark, sf_dir)
    rmax: dict[str, int] = {}
    cmax: dict[str, int] = {}
    rtot: dict[str, int] = {}
    ctot: dict[str, int] = {}
    for r_, cl_, c_ in cells:
        rmax[r_] = max(rmax.get(r_, 0), c_)
        cmax[cl_] = max(cmax.get(cl_, 0), c_)
        rtot[r_] = rtot.get(r_, 0) + c_
        ctot[cl_] = ctot.get(cl_, 0) + c_
    agg = bounded_df(
        spark,
        [
            (
                sum(rtot.values()),
                sum(rmax.values()),
                sum(cmax.values()),
                max(ctot.values()),
                max(rtot.values()),
            )
        ],
        "n bigint, sum_rowmax bigint, sum_colmax bigint, "
        "max_coltot bigint, max_rowtot bigint",
    )
    n = F.col("n")
    mc, mr = F.col("max_coltot"), F.col("max_rowtot")
    return agg.select(
        "n",
        "sum_rowmax",
        "sum_colmax",
        "max_coltot",
        "max_rowtot",
        F.when(
            n > mc,
            F.round((F.col("sum_rowmax") - mc).cast("double") / (n - mc), 6),
        ).alias("lambda_c_given_r"),
        F.when(
            n > mr,
            F.round((F.col("sum_colmax") - mr).cast("double") / (n - mr), 6),
        ).alias("lambda_r_given_c"),
        F.when(
            2 * n > mc + mr,
            F.round(
                (F.col("sum_rowmax") + F.col("sum_colmax") - mc - mr).cast(
                    "double"
                )
                / (2 * n - mc - mr),
                6,
            ),
        ).alias("lambda_sym"),
    )


# ------------------------------------ Theil's uncertainty coefficient


@query(
    "q_theil_uncertainty",
    oracle=f"""
    WITH cells AS ({_GK_CELLS_SQL}
    ), tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cells
    ), hr AS (
      SELECT -CAST(CAST(SUM(CAST((CAST(nr AS DOUBLE) / n)
                                 * ln(CAST(nr AS DOUBLE) / n)
                                 AS DECIMAL(24,15))) AS VARCHAR) AS DOUBLE)
             AS h
      FROM (SELECT SUM(c) AS nr FROM cells GROUP BY r), tot
    ), hc AS (
      SELECT -CAST(CAST(SUM(CAST((CAST(nc AS DOUBLE) / n)
                                 * ln(CAST(nc AS DOUBLE) / n)
                                 AS DECIMAL(24,15))) AS VARCHAR) AS DOUBLE)
             AS h
      FROM (SELECT SUM(c) AS nc FROM cells GROUP BY cl), tot
    ), hrc AS (
      SELECT -CAST(CAST(SUM(CAST((CAST(c AS DOUBLE) / n)
                                 * ln(CAST(c AS DOUBLE) / n)
                                 AS DECIMAL(24,15))) AS VARCHAR) AS DOUBLE)
             AS h
      FROM cells, tot
    )
    SELECT tot.n,
           round(hr.h, 6) AS h_row, round(hc.h, 6) AS h_col,
           round(hrc.h, 6) AS h_joint,
           CASE WHEN hr.h > 0.0 THEN
             round((hr.h + hc.h - hrc.h) / hr.h, 6) END AS u_r_given_c,
           CASE WHEN hc.h > 0.0 THEN
             round((hr.h + hc.h - hrc.h) / hc.h, 6) END AS u_c_given_r,
           CASE WHEN hr.h + hc.h > 0.0 THEN
             round(2.0 * (hr.h + hc.h - hrc.h) / (hr.h + hc.h), 6)
           END AS u_sym
    FROM tot, hr, hc, hrc
    """,
)
def q_theil_uncertainty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's uncertainty coefficient over the (order priority ×
    order status) table: U(R|C) = (H(R)+H(C)−H(R,C))/H(R), its
    transpose, and the symmetric form — each entropy is an exact
    DECIMAL(24,15) sum of identically-shaped −p·ln p terms
    (irrational, quantize-safe), VARCHAR-bridged to double once."""
    # r16: the integer cells come from the session-cached collect
    # (_order_cells); every −p·ln p entropy term stays a Spark
    # expression over the bounded cells so the emitted doubles are
    # unchanged.
    from timestream_travel_spark.tables import bounded_df

    cells = bounded_df(
        spark, _order_cells(spark, sf_dir), "r string, cl string, c bigint"
    )
    n_df = cells.agg(F.sum("c").cast("bigint").alias("n"))

    def entropy(df: DataFrame, cnt_col: str, alias: str) -> DataFrame:
        term = (
            (F.col(cnt_col).cast("double") / F.col("n"))
            * F.log(F.col(cnt_col).cast("double") / F.col("n"))
        ).cast("decimal(24,15)")
        return (
            df.crossJoin(F.broadcast(n_df))
            .agg((-F.sum(term).cast("double")).alias(alias))
        )

    hr = entropy(cells.groupBy("r").agg(F.sum("c").alias("nr")), "nr", "h_r")
    hc = entropy(cells.groupBy("cl").agg(F.sum("c").alias("nc")), "nc", "h_c")
    hrc = entropy(cells, "c", "h_rc")
    agg = (
        n_df.crossJoin(F.broadcast(hr))
        .crossJoin(F.broadcast(hc))
        .crossJoin(F.broadcast(hrc))
    )
    r_, c_, rc_ = F.col("h_r"), F.col("h_c"), F.col("h_rc")
    return agg.select(
        "n",
        F.round(r_, 6).alias("h_row"),
        F.round(c_, 6).alias("h_col"),
        F.round(rc_, 6).alias("h_joint"),
        F.when(r_ > 0.0, F.round((r_ + c_ - rc_) / r_, 6)).alias("u_r_given_c"),
        F.when(c_ > 0.0, F.round((r_ + c_ - rc_) / c_, 6)).alias("u_c_given_r"),
        F.when(
            r_ + c_ > 0.0, F.round(F.lit(2.0) * (r_ + c_ - rc_) / (r_ + c_), 6)
        ).alias("u_sym"),
    )


# --------------------------------------------- Wilson score interval

_WILSON_CNT_SQL = """
      SELECT event_type AS t, CAST(round(value * 100, 0) AS BIGINT) AS vc,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""


@query(
    "q_wilson_interval",
    oracle=f"""
    WITH cnt AS ({_WILSON_CNT_SQL}
    ), st AS (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(vc * c) AS BIGINT) AS s
      FROM cnt GROUP BY t
    ), kk AS (
      SELECT c.t,
             CAST(SUM(CASE WHEN c.vc * s.n > s.s THEN c.c ELSE 0 END)
                  AS BIGINT) AS k
      FROM cnt c JOIN st s ON s.t = c.t GROUP BY c.t
    ), p AS (
      SELECT s.t, s.n, kk.k, CAST(kk.k AS DOUBLE) / s.n AS ph
      FROM st s JOIN kk ON kk.t = s.t
    )
    SELECT t AS event_type, n, k, round(ph, 6) AS p_hat,
           round((ph + 3.8416 / (2.0 * n)
                  - 1.96 * sqrt(ph * (1.0 - ph) / n
                                + 3.8416 / (4.0 * n * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_lo,
           round((ph + 3.8416 / (2.0 * n)
                  + 1.96 * sqrt(ph * (1.0 - ph) / n
                                + 3.8416 / (4.0 * n * n)))
                 / (1.0 + 3.8416 / n), 6) AS wilson_hi
    FROM p
    """,
)
def q_wilson_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """95% Wilson score interval per event type for the proportion of
    events strictly above the type's mean value — the success flag is
    the exact integer comparison vc·n > Σvc (no rational mean ever
    materializes); the interval is one identically-shaped double
    composition with z = 1.96 / z² = 3.8416 as shared literals."""
    # r16: the integer cents census (n, Σvc, above-mean count) runs
    # driver-side over the collected counts spine (rank_kit; the
    # cents quantization is the trimean/HL Decimal(repr) bridge); the
    # interval composition below is unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import cents_by_type
    from timestream_travel_spark.tables import bounded_df

    rows = []
    for t, cents in sorted(cents_by_type(spark, sf_dir).items()):
        n = sum(cents.values())
        s = sum(vc * k_ for vc, k_ in cents.items())
        k = sum(k_ for vc, k_ in cents.items() if vc * n > s)
        rows.append((t, n, k))
    p = bounded_df(spark, rows, "t string, n bigint, k bigint").select(
        "t", "n", "k", (F.col("k").cast("double") / F.col("n")).alias("ph")
    )
    ph, n = F.col("ph"), F.col("n")
    half = F.lit(1.96) * F.sqrt(
        ph * (F.lit(1.0) - ph) / n + F.lit(3.8416) / (F.lit(4.0) * n * n)
    )
    center = ph + F.lit(3.8416) / (F.lit(2.0) * n)
    denom = F.lit(1.0) + F.lit(3.8416) / n
    return p.select(
        F.col("t").alias("event_type"),
        "n",
        "k",
        F.round(ph, 6).alias("p_hat"),
        F.round((center - half) / denom, 6).alias("wilson_lo"),
        F.round((center + half) / denom, 6).alias("wilson_hi"),
    )
