"""Round-8 analytics, part C: ordered-alternative and binary-panel
tests — Page's L trend test (Page, JASA 1963), the
Jonckheere–Terpstra ordered-groups test (Jonckheere, Biometrika
1954; Terpstra 1952), and Cochran's Q for matched binary responses
(Cochran, Biometrika 1950). The ordered-alternative companions to
Friedman / Kruskal–Wallis (analytics8): same data, but the
alternative hypothesis is a MONOTONE treatment ordering.

Exactness design (the analytics5/8 discipline): ranks are DOUBLED
midranks (always integral); Page's L and the Jonckheere pair census
are pure INTEGER sums over domain-bounded tables (day slices, the
distinct-value grid); Cochran's Q is integer counting end-to-end;
every emitted statistic is ONE flat double expression over the
integer sufficient statistics.

Scale shape: each query's corpus-sized work is a single map-side-
combined reduce — (type, day) levels, (type, value) counts, or
(user, type) presence flags; everything after runs on tables bounded
by the calendar, the value domain, or |users| × k.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.analytics5 import _CNT_SQL, _counts
from timestream_travel_spark.operators.analytics8 import (
    EVENT_TYPES,
    _DAILY_SQL,
    _daily,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table

# treatment order = alphabetical EVENT_TYPES position (1-based); the
# ordered alternative both tests probe is "daily level increases
# along this fixed ordering"
_J_SQL = (
    "CASE t "
    + " ".join(f"WHEN '{t}' THEN {i + 1}" for i, t in enumerate(EVENT_TYPES))
    + " END"
)


@query(
    "q_page_trend",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), full_days AS (
      SELECT day FROM daily GROUP BY day HAVING COUNT(*) = {len(EVENT_TYPES)}
    ), ranked AS (
      SELECT d.t,
             2 * RANK() OVER (PARTITION BY d.day ORDER BY d.v)
               + CAST(COUNT(*) OVER (PARTITION BY d.day, d.v) AS BIGINT)
               - 1 AS dr
      FROM daily d JOIN full_days f ON f.day = d.day
    ), rsum AS (
      SELECT t, CAST(SUM(dr) AS BIGINT) AS r2j,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked GROUP BY t
    ), agg AS (
      SELECT CAST(SUM(({_J_SQL}) * r2j) AS BIGINT) AS l2,
             CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS n
      FROM rsum
    )
    SELECT n AS n_blocks, k, CAST(l2 AS DOUBLE) / 2 AS page_l,
           round((CAST(l2 AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * k * (k + 1) * (k + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * k * k * (k + 1)
                        * (k * k - 1) / 144), 6) AS z_score
    FROM agg
    """,
)
def q_page_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page's L trend test for an ordered alternative across the
    alphabetical event-type ordering: within-day doubled midranks
    (Friedman's machinery), R2_j per treatment, L = Σ_j j·R_j =
    (Σ j·R2_j)/2 — an INTEGER sum halved once — and the large-sample
    z = (L − nk(k+1)²/4) / sqrt(nk²(k+1)(k²−1)/144) (the standard
    no-tie normal approximation; midrank ties only lower the true
    variance, stated per Page 1963). Complete days only, like
    q_friedman."""
    # r16: the within-day doubled-midrank census runs driver-side
    # over the collected |types|×|days| daily spine (exact Decimal
    # comparisons; integer ranks); the z composition below is
    # unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import (
        daily_rows,
        friedman_r2,
    )
    from timestream_travel_spark.tables import bounded_df

    r2j, nblocks = friedman_r2(
        daily_rows(spark, sf_dir), len(EVENT_TYPES)
    )
    jidx = {t: i + 1 for i, t in enumerate(EVENT_TYPES)}
    # zero complete days: the original empty-input agg yields
    # (NULL, 0, NULL)
    row = (
        (sum(jidx[t] * s for t, s in r2j.items()), len(r2j), nblocks)
        if r2j
        else (None, 0, None)
    )
    agg = bounded_df(spark, [row], "l2 bigint, k bigint, n bigint")
    n, k, l2 = F.col("n"), F.col("k"), F.col("l2")
    page_l = l2.cast("double") / 2
    z = (page_l - n.cast("double") * k * (k + 1) * (k + 1) / 4) / F.sqrt(
        n.cast("double") * k * k * (k + 1) * (k * k - 1) / 144
    )
    return agg.select(
        n.alias("n_blocks"), k.alias("k"), page_l.alias("page_l"),
        F.round(z, 6).alias("z_score"),
    )


@query(
    "q_jonckheere_terpstra",
    oracle=f"""
    WITH cnt AS ({_CNT_SQL}
    ), n AS (
      SELECT t, CAST(SUM(c) AS BIGINT) AS n FROM cnt GROUP BY t
    ), pairs AS (
      SELECT a.t AS ta, b.t AS tb FROM n a JOIN n b ON a.t < b.t
    ), merged AS (
      SELECT p.ta, p.tb, c.v,
             SUM(CASE WHEN c.t = p.ta THEN c.c ELSE 0 END) AS ca,
             SUM(CASE WHEN c.t = p.tb THEN c.c ELSE 0 END) AS cb
      FROM pairs p JOIN cnt c ON c.t = p.ta OR c.t = p.tb
      GROUP BY p.ta, p.tb, c.v
    ), cum AS (
      SELECT ta, tb, v, ca, cb,
             COALESCE(SUM(ca) OVER (PARTITION BY ta, tb ORDER BY v
                      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               AS cumless_a
      FROM merged
    ), agg AS (
      SELECT CAST(SUM(2 * cb * cumless_a + ca * cb) AS BIGINT) AS jt2
      FROM cum
    ), sizes AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(n * n) AS BIGINT) AS sn2,
             CAST(SUM(n * n * (2 * n + 3)) AS BIGINT) AS sn23
      FROM n
    )
    SELECT s.big_n AS n_total, CAST(a.jt2 AS DOUBLE) / 2 AS jt_stat,
           (CAST(s.big_n AS DOUBLE) * s.big_n - s.sn2) / 4 AS e_jt,
           round((CAST(a.jt2 AS DOUBLE) / 2
                  - (CAST(s.big_n AS DOUBLE) * s.big_n - s.sn2) / 4)
                 / sqrt((CAST(s.big_n AS DOUBLE) * s.big_n
                         * (2 * s.big_n + 3) - s.sn23) / 72), 6) AS z_score
    FROM agg a, sizes s
    """,
)
def q_jonckheere_terpstra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jonckheere–Terpstra test for a monotone ordering of the event
    types (alphabetical): JT = Σ_{{i<j}} U_ij where U_ij counts
    cross-group pairs with x_a < x_b (+½ per tie). The doubled census
    2·JT = Σ_v [2·c_b(v)·cumless_a(v) + c_a(v)·c_b(v)] is an exact
    INTEGER sum over the merged distinct-value grid — LINEAR in the
    value domain per pair (the q_ks_two_sample shape), never an
    all-pairs row join. z uses the standard no-tie mean/variance
    (E = (N²−Σn_i²)/4, Var = (N²(2N+3)−Σn_i²(2n_i+3))/72 — Lehmann,
    *Nonparametrics*; the tie-corrected variance is a refinement, the
    approximation is stated)."""
    # r16: the doubled pair census runs driver-side over the
    # collected counts spine (rank_kit; exact integer sums); the z
    # composition below is unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        merged_pair,
        type_pairs,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    jt2 = 0
    for ta, tb in type_pairs(kit):
        _, ca, cb = merged_pair(kit, ta, tb)
        cumless = 0
        for a_, b_ in zip(ca.tolist(), cb.tolist()):
            jt2 += 2 * b_ * cumless + a_ * b_
            cumless += a_
    big_n = sn2 = sn23 = 0
    for t in kit:
        n_t = int(kit[t][1].sum())
        big_n += n_t
        sn2 += n_t * n_t
        sn23 += n_t * n_t * (2 * n_t + 3)
    agg = bounded_df(spark, [(jt2,)], "jt2 bigint")
    sizes = bounded_df(
        spark, [(big_n, sn2, sn23)], "big_n bigint, sn2 bigint, sn23 bigint"
    )
    bn = F.col("big_n")
    jt = F.col("jt2").cast("double") / 2
    e = (bn.cast("double") * bn - F.col("sn2")) / 4
    var = (bn.cast("double") * bn * (2 * bn + 3) - F.col("sn23")) / 72
    return agg.crossJoin(sizes).select(
        bn.alias("n_total"),
        jt.alias("jt_stat"),
        e.alias("e_jt"),
        F.round((jt - e) / F.sqrt(var), 6).alias("z_score"),
    )


COCHRAN_MIN_EVENTS = 15  # a user "responds" to a type at >= 15 events
# (the per-(user, type) count centers near 13 at every SF, so this
# threshold splits ~36/64 — a plain >= 1 presence flag saturates to
# all-ones and zeroes Cochran's denominator)


@query(
    "q_cochran_q",
    oracle=f"""
    WITH x AS (
      SELECT user_id, event_type AS t
      FROM events GROUP BY 1, 2
      HAVING COUNT(*) >= {COCHRAN_MIN_EVENTS}
    ), r AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS ri FROM x GROUP BY user_id
    ), c AS (
      -- every treatment column, zero-response ones included: their
      -- (k*0 - T)^2 terms belong in the numerator
      SELECT ty.t, CAST(COALESCE(xc.cj, 0) AS BIGINT) AS cj
      FROM (SELECT DISTINCT event_type AS t FROM events) ty
      LEFT JOIN (SELECT t, COUNT(*) AS cj FROM x GROUP BY t) xc ON xc.t = ty.t
    ), kc AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k, CAST(SUM(cj) AS BIGINT) AS tot
      FROM c
    ), num AS (
      SELECT CAST(SUM((kc.k * c.cj - kc.tot) * (kc.k * c.cj - kc.tot))
                  AS BIGINT) AS num
      FROM c, kc
    ), den AS (
      SELECT CAST(SUM(r.ri * (kc.k - r.ri)) AS BIGINT) AS den
      FROM r, kc
    ), blocks AS (
      SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users FROM events
    )
    SELECT blocks.n_users, kc.k, kc.tot AS n_responses,
           round((CAST(kc.k AS DOUBLE) - 1) * num.num
                 / (CAST(kc.k AS DOUBLE) * den.den), 6) AS cochran_q
    FROM kc, num, den, blocks
    """,
)
def q_cochran_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q over the user × event-type binary response panel
    (x_it = 1 iff user i emitted >= {COCHRAN_MIN_EVENTS} events of
    type t): Q = (k−1)·Σ_j(k·C_j − T)² / (k·Σ_i R_i(k−R_i)) — the
    all-integer form of k(k−1)Σ(C_j − T/k)² / Σ R_i(k−R_i) (multiply
    through by k²), so the only float op is the final division.
    All-0 / all-k blocks contribute R_i(k−R_i) = 0 and drop out of
    the denominator exactly as the textbook prescribes.

    Zero-response treatments stay in the numerator as (k·0 − T)²
    columns; zero-response users contribute R_i(k−R_i) = 0 and only
    the reported block count.

    Scale: one (user, type) count reduce (map-side combined) is the
    only corpus-sized stage; R and C are |users|- and k-row
    tables."""
    ev = load_table(spark, sf_dir, "events")
    x = (
        ev.groupBy("user_id", F.col("event_type").alias("t"))
        .agg(F.count("*").alias("cnt"))
        .filter(F.col("cnt") >= COCHRAN_MIN_EVENTS)
        .select("user_id", "t")
    )
    r = x.groupBy("user_id").agg(F.count("*").alias("ri"))
    ty = ev.select(F.col("event_type").alias("t")).distinct()
    c = (
        ty.join(x.groupBy("t").agg(F.count("*").alias("cj0")), "t", "left")
        .select("t", F.coalesce(F.col("cj0"), F.lit(0)).cast("bigint").alias("cj"))
    )
    kc = c.agg(
        F.count("*").cast("bigint").alias("k"),
        F.sum("cj").cast("bigint").alias("tot"),
    )
    num = (
        c.crossJoin(F.broadcast(kc))
        .select(
            ((F.col("k") * F.col("cj") - F.col("tot"))
             * (F.col("k") * F.col("cj") - F.col("tot"))).alias("sq")
        )
        .agg(F.sum("sq").cast("bigint").alias("num"))
    )
    den = (
        r.crossJoin(F.broadcast(kc.select("k")))
        .select((F.col("ri") * (F.col("k") - F.col("ri"))).alias("d"))
        .agg(F.sum("d").cast("bigint").alias("den"))
    )
    n_users = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_users")
    )
    k, tot = F.col("k"), F.col("tot")
    q = (
        (k.cast("double") - 1)
        * F.col("num")
        / (k.cast("double") * F.col("den"))
    )
    return (
        kc.crossJoin(num)
        .crossJoin(den)
        .crossJoin(n_users)
        .select(
            "n_users",
            "k",
            tot.alias("n_responses"),
            F.round(q, 6).alias("cochran_q"),
        )
    )
