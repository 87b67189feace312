"""Round-7 analytics, part A: nonparametric two-sample tests across
event-type pairs — Kolmogorov–Smirnov, Mann–Whitney U, Spearman and
Kendall rank correlations. All public textbook statistics (Conover,
*Practical Nonparametric Statistics*).

Exactness design shared by the four: every statistic is kept in
INTEGER arithmetic to the end — ECDF gaps as cross-multiplied counts
(|cum_a·n_b − cum_b·n_a|), ranks as DOUBLED midranks (2·midrank is
always integral, and rank correlations are scale-invariant), tie
corrections as Σ(t³−t) — so the only float ops are one division (and
at most one IEEE sqrt, which is correctly rounded on every engine)
per output row.

Scale shape: the one corpus-sized pass is the (type, value) count
aggregation (map-side combined); everything after runs on the
distinct-value table, bounded by the value DOMAIN (prices have two
decimals), and on the |types|² pair fan-out — both domain bounds,
not data-volume bounds. The per-pair cumulative windows therefore
sort bounded slices (the `_sharded.py` boundedness argument applied
at the source instead of after the fact).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached, spread

_CNT_SQL = """
      SELECT event_type AS t, value AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
"""

_PAIRS_SQL = """
      SELECT a.t AS ta, b.t AS tb, a.n AS n_a, b.n AS n_b
      FROM n a JOIN n b ON a.t < b.t
"""


# r15: the (t, v, c) count table is the shared spine of the whole
# rank/EDF-statistics family (30+ registered queries each re-ran the
# events scan + groupBy); later consumers read the persisted
# ≤|distinct (t,v)|-row table. The build spreads the single-row-group
# scan (size-gated no-op at scale) before the exact integer count
# aggregation.
@session_cached
def _counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = spread(load_table(spark, sf_dir, "events"))
    df = (
        ev.groupBy(F.col("event_type").alias("t"), F.col("value").alias("v"))
        .agg(F.count("*").alias("c"))
        .persist()
    )
    df.count()  # materialize once, eagerly
    return df


def _pairs(cnt: DataFrame) -> DataFrame:
    n = cnt.groupBy("t").agg(F.sum("c").alias("n"))
    a = n.select(F.col("t").alias("ta"), F.col("n").alias("n_a"))
    b = n.select(F.col("t").alias("tb"), F.col("n").alias("n_b"))
    return a.join(b, F.col("ta") < F.col("tb"))


@session_cached
def _pair_grid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(ta, tb, n_a, n_b, v, ca, cb): the merged distinct-value grid
    for every type pair — the shared prefix of the whole two-sample
    test family (KS, Mann–Whitney, Brunner–Munzel, Cucconi, Lepage,
    Mood, Conover, Siegel–Tukey, Fligner–Policello, …), which each
    re-paid the broadcast pair fan-out + per-pair value reduce over
    the counts spine. r15: persisted on top of the cached _counts
    table — all-integer columns, ≤ |pairs|·|distinct values| rows,
    exact under any build order; the per-query rank/positional
    windows stay per-query."""
    cnt = _counts(spark, sf_dir)
    pairs = _pairs(cnt)
    df = (
        cnt.join(
            F.broadcast(pairs),
            (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")),
        )
        .groupBy("ta", "tb", "n_a", "n_b", "v")
        .agg(
            F.sum(
                F.when(F.col("t") == F.col("ta"), F.col("c")).otherwise(0)
            ).alias("ca"),
            F.sum(
                F.when(F.col("t") == F.col("tb"), F.col("c")).otherwise(0)
            ).alias("cb"),
        )
        .persist()
    )
    df.count()  # materialize once, eagerly
    return df


@query(
    "q_ks_two_sample",
    oracle=f"""
    WITH cnt AS ({_CNT_SQL}
    ), n AS (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
    ), pairs AS ({_PAIRS_SQL}
    ), merged AS (
      SELECT p.ta, p.tb, p.n_a, p.n_b, c.v,
             SUM(CASE WHEN c.t = p.ta THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.t = p.tb THEN c.c ELSE 0 END) AS cb
      FROM pairs p JOIN cnt c ON c.t = p.ta OR c.t = p.tb
      GROUP BY p.ta, p.tb, p.n_a, p.n_b, c.v
    ), cum AS (
      SELECT ta, tb, n_a, n_b,
             SUM(ca) OVER w AS cuma, SUM(cb) OVER w AS cumb
      FROM merged
      WINDOW w AS (PARTITION BY ta, tb ORDER BY v ROWS UNBOUNDED PRECEDING)
    )
    SELECT ta AS type_a, tb AS type_b, n_a, n_b,
           round(CAST(max(abs(cuma * n_b - cumb * n_a)) AS DOUBLE)
                 / (n_a * n_b), 6) AS ks_stat
    FROM cum GROUP BY ta, tb, n_a, n_b
    """,
)
def q_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov–Smirnov statistic for every event-type
    pair: D = max|ECDF_a − ECDF_b|, evaluated as the INTEGER max of
    |cum_a·n_b − cum_b·n_a| over the merged distinct-value table and
    divided once at the end."""
    # r16: the integer ECDF-gap maximum runs driver-side over the
    # collected counts spine (rank_kit); the single division below is
    # unchanged Spark expressions.
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
        mx = cuma = cumb = 0
        for a_, b_ in zip(ca.tolist(), cb.tolist()):
            cuma += a_
            cumb += b_
            d = abs(cuma * n_b - cumb * n_a)
            if d > mx:
                mx = d
        rows.append((ta, tb, n_a, n_b, mx))
    cum = bounded_df(
        spark,
        rows,
        "type_a string, type_b string, n_a bigint, n_b bigint, maxd bigint",
    )
    return cum.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        F.round(
            F.col("maxd").cast("double") / (F.col("n_a") * F.col("n_b")), 6
        ).alias("ks_stat"),
    )


@query(
    "q_mann_whitney_u",
    oracle=f"""
    WITH cnt AS ({_CNT_SQL}
    ), n AS (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
    ), pairs AS ({_PAIRS_SQL}
    ), merged AS (
      SELECT p.ta, p.tb, p.n_a, p.n_b, c.v,
             SUM(CASE WHEN c.t = p.ta THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.t = p.tb THEN c.c ELSE 0 END) AS cb
      FROM pairs p JOIN cnt c ON c.t = p.ta OR c.t = p.tb
      GROUP BY p.ta, p.tb, p.n_a, p.n_b, c.v
    ), ranked AS (
      SELECT ta, tb, n_a, n_b, ca, cb, ca + cb AS cp,
             COALESCE(SUM(ca + cb) OVER (PARTITION BY ta, tb ORDER BY v
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS before
      FROM merged
    ), agg AS (
      SELECT ta, tb, n_a, n_b,
             -- doubled rank sum of side a: Σ ca·(2·before + cp + 1)
             CAST(SUM(ca * (2 * before + cp + 1)) AS BIGINT) AS r2a,
             CAST(SUM(cp * cp * cp - cp) AS BIGINT) AS tie3
      FROM ranked GROUP BY ta, tb, n_a, n_b
    )
    SELECT ta AS type_a, tb AS type_b,
           CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2 AS u_a,
           round((CAST(r2a - n_a * (n_a + 1) AS DOUBLE) / 2
                  - CAST(n_a AS DOUBLE) * n_b / 2)
                 / sqrt((CAST(n_a AS DOUBLE) * n_b / 12)
                        * ((n_a + n_b + 1)
                           - CAST(tie3 AS DOUBLE)
                             / (CAST(n_a + n_b AS DOUBLE) * (n_a + n_b - 1)))),
                 6) AS z_score
    FROM agg
    """,
)
def q_mann_whitney_u(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann–Whitney U with midrank tie handling and tie-corrected
    normal approximation for every event-type pair. Doubled midranks
    keep the rank sum integral (2·midrank = 2·before + t + 1 for a
    tie group of size t); Σ(t³−t) is the standard tie correction.
    One double expression per output, written identically in both
    engines so every intermediate double matches."""
    # r16: the doubled-rank-sum and tie censuses run driver-side over
    # the collected counts spine (rank_kit; exact integers); the
    # U/z float composition below is unchanged Spark expressions.
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
        r2a = tie3 = before = 0
        for a_, b_ in zip(ca.tolist(), cb.tolist()):
            cp = a_ + b_
            r2a += a_ * (2 * before + cp + 1)
            tie3 += cp * cp * cp - cp
            before += cp
        rows.append((ta, tb, n_a, n_b, r2a, tie3))
    agg = bounded_df(
        spark,
        rows,
        "ta string, tb string, n_a bigint, n_b bigint, "
        "r2a bigint, tie3 bigint",
    )
    u_a = (F.col("r2a") - F.col("n_a") * (F.col("n_a") + 1)).cast("double") / 2
    mu = F.col("n_a").cast("double") * F.col("n_b") / 2
    var = (F.col("n_a").cast("double") * F.col("n_b") / 12) * (
        (F.col("n_a") + F.col("n_b") + 1)
        - F.col("tie3").cast("double")
        / ((F.col("n_a") + F.col("n_b")).cast("double") * (F.col("n_a") + F.col("n_b") - 1))
    )
    return agg.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        u_a.alias("u_a"),
        F.round((u_a - mu) / F.sqrt(var), 6).alias("z_score"),
    )


_DAILY_RANK_SQL = """
      SELECT event_type AS t, date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
"""


@query(
    "q_spearman_corr",
    oracle=f"""
    WITH daily AS ({_DAILY_RANK_SQL}
    ), r AS (
      SELECT t, day,
             -- doubled midrank: 2·minrank + ties − 1 is integral
             CAST(2 * rank() OVER (PARTITION BY t ORDER BY v)
                  + COUNT(*) OVER (PARTITION BY t, v) - 1 AS BIGINT) AS dr
      FROM daily
    ), j AS (
      SELECT a.t AS ta, b.t AS tb, a.dr AS da, b.dr AS db
      FROM r a JOIN r b ON a.day = b.day AND a.t < b.t
    ), s AS (
      SELECT ta, tb, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(da) AS BIGINT) AS sx, CAST(SUM(db) AS BIGINT) AS sy,
             CAST(SUM(da * db) AS BIGINT) AS sxy,
             CAST(SUM(da * da) AS BIGINT) AS sxx,
             CAST(SUM(db * db) AS BIGINT) AS syy
      FROM j GROUP BY ta, tb
    )
    SELECT ta AS type_a, tb AS type_b, n AS n_days,
           round(CAST(n * sxy - sx * sy AS DOUBLE)
                 / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                        * CAST(n * syy - sy * sy AS DOUBLE)), 6) AS spearman_rho
    FROM s
    WHERE (n * sxx - sx * sx) > 0 AND (n * syy - sy * sy) > 0
    """,
)
def q_spearman_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event types'
    daily level series (matched on day): Pearson on DOUBLED midranks
    — integral, and scale-invariant so the doubling cancels. All
    sums are BIGINT-exact; one sqrt + one division per pair."""
    # r16: the doubled-midrank Pearson census runs driver-side over
    # the collected daily spine (rank_kit.daily_rows; exact Decimal
    # comparisons, integer rank sums); the ρ composition below is
    # unchanged Spark expressions. NB: this query's daily spine has
    # no .cast("date") — same (t, day, v) values as analytics8._daily.
    from timestream_travel_spark.operators.rank_kit import daily_rows
    from timestream_travel_spark.tables import bounded_df

    by_day = daily_rows(spark, sf_dir)
    # per-type doubled midranks over the type's daily values
    by_t: dict[str, list[tuple]] = {}
    for day, rows_ in by_day.items():
        for t, v in rows_:
            by_t.setdefault(t, []).append((day, v))
    dr: dict[tuple, int] = {}
    for t, pairs_ in by_t.items():
        vals = sorted(v for _, v in pairs_)
        for day, v in pairs_:
            lo = vals.index(v) + 1
            ties = sum(1 for x in vals if x == v)
            dr[(t, day)] = 2 * lo + ties - 1
    ts = sorted(by_t)
    rows = []
    for i, ta in enumerate(ts):
        for tb in ts[i + 1 :]:
            days = sorted(
                {d for d, _ in by_t[ta]} & {d for d, _ in by_t[tb]}
            )
            n = len(days)
            sx = sy = sxy = sxx = syy = 0
            for d in days:
                da, db = dr[(ta, d)], dr[(tb, d)]
                sx += da
                sy += db
                sxy += da * db
                sxx += da * da
                syy += db * db
            rows.append((ta, tb, n, sx, sy, sxy, sxx, syy))
    s = bounded_df(
        spark,
        rows,
        "ta string, tb string, n bigint, sx bigint, sy bigint, "
        "sxy bigint, sxx bigint, syy bigint",
    )
    vx = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    return s.filter((vx > 0) & (vy > 0)).select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        F.col("n").alias("n_days"),
        F.round(
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / F.sqrt(vx.cast("double") * vy.cast("double")),
            6,
        ).alias("spearman_rho"),
    )


@query(
    "q_kendall_tau",
    oracle=f"""
    WITH daily AS ({_DAILY_RANK_SQL}
    ), j AS (
      SELECT a.t AS ta, b.t AS tb, a.day AS day, a.v AS va, b.v AS vb
      FROM daily a JOIN daily b ON a.day = b.day AND a.t < b.t
    ), pp AS (
      SELECT i.ta, i.tb,
             CAST(SUM(CASE WHEN (i.va > k.va AND i.vb > k.vb)
                             OR (i.va < k.va AND i.vb < k.vb)
                           THEN 1 ELSE 0 END) AS BIGINT) AS conc,
             CAST(SUM(CASE WHEN (i.va > k.va AND i.vb < k.vb)
                             OR (i.va < k.va AND i.vb > k.vb)
                           THEN 1 ELSE 0 END) AS BIGINT) AS disc,
             CAST(SUM(CASE WHEN i.va = k.va AND i.vb <> k.vb
                           THEN 1 ELSE 0 END) AS BIGINT) AS tx,
             CAST(SUM(CASE WHEN i.vb = k.vb AND i.va <> k.va
                           THEN 1 ELSE 0 END) AS BIGINT) AS ty,
             CAST(COUNT(*) AS BIGINT) AS npairs
      FROM j i JOIN j k
        ON i.ta = k.ta AND i.tb = k.tb AND i.day < k.day
      GROUP BY i.ta, i.tb
    )
    SELECT ta AS type_a, tb AS type_b,
           conc, disc,
           round(CAST(conc - disc AS DOUBLE)
                 / sqrt(CAST(npairs - tx AS DOUBLE)
                        * CAST(npairs - ty AS DOUBLE)), 6) AS kendall_tau_b
    FROM pp
    WHERE (npairs - tx) > 0 AND (npairs - ty) > 0
    """,
)
def q_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall τ-b between every pair of event types' daily series:
    concordant/discordant day-pair census with the standard tie
    corrections in the denominator. The self-join is over the
    calendar-bounded joined daily table (≤ days² rows per type
    pair), all counts BIGINT; one sqrt + division at the end."""
    # r16: the O(days²) concordance census runs driver-side over the
    # collected daily spine (rank_kit.daily_rows; exact Decimal
    # comparisons, calendar-bounded day pairs); the τ-b composition
    # below is unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import daily_rows
    from timestream_travel_spark.tables import bounded_df

    by_t: dict[str, dict] = {}
    for day, rows_ in daily_rows(spark, sf_dir).items():
        for t, v in rows_:
            by_t.setdefault(t, {})[day] = v
    ts = sorted(by_t)
    rows = []
    for idx, ta in enumerate(ts):
        for tb in ts[idx + 1 :]:
            shared = sorted(set(by_t[ta]) & set(by_t[tb]))
            series = [(by_t[ta][d], by_t[tb][d]) for d in shared]
            conc = disc = tx = ty = 0
            m = len(series)
            for i_ in range(m):
                va, vb = series[i_]
                for k_ in range(i_ + 1, m):
                    vak, vbk = series[k_]
                    if (va > vak and vb > vbk) or (va < vak and vb < vbk):
                        conc += 1
                    elif (va > vak and vb < vbk) or (va < vak and vb > vbk):
                        disc += 1
                    elif va == vak and vb != vbk:
                        tx += 1
                    elif vb == vbk and va != vak:
                        ty += 1
            rows.append((ta, tb, conc, disc, tx, ty, m * (m - 1) // 2))
    pp = bounded_df(
        spark,
        rows,
        "ta string, tb string, conc bigint, disc bigint, tx bigint, "
        "ty bigint, npairs bigint",
    )
    return pp.filter(
        ((F.col("npairs") - F.col("tx")) > 0) & ((F.col("npairs") - F.col("ty")) > 0)
    ).select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "conc",
        "disc",
        F.round(
            (F.col("conc") - F.col("disc")).cast("double")
            / F.sqrt(
                (F.col("npairs") - F.col("tx")).cast("double")
                * (F.col("npairs") - F.col("ty")).cast("double")
            ),
            6,
        ).alias("kendall_tau_b"),
    )
