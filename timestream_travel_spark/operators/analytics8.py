"""Round-8 analytics, part B: third statistical-test wave —
Kruskal–Wallis k-sample rank test, Friedman blocked rank test,
Wilcoxon signed-rank (paired), Bartlett's equal-variance test,
McNemar's paired-binary test, Ljung–Box portmanteau autocorrelation
test, and the (non-augmented) Dickey–Fuller unit-root statistic.
All public textbook statistics (Conover, *Practical Nonparametric
Statistics*; Bartlett Proc. R. Soc. A'37; McNemar Psychometrika'47;
Ljung & Box Biometrika'78; Dickey & Fuller JASA'79).

Exactness design (the analytics5/6/7 discipline):
- ranks are DOUBLED midranks (2·midrank = 2·before + t + 1 — always
  integral), tie corrections are Σ(t³−t), so every corpus-sized
  aggregation is an integer count/sum or an exact DECIMAL sum;
- sums over a FIXED SMALL family (the 5 event types / 5 market
  segments, Ljung–Box's 10 lags) are pivoted into columns via
  conditional aggregation and added in one flat left-associated
  expression written identically in both engines — never a
  float SUM whose accumulation order an engine may choose;
- per-term float products that must be summed corpus-wide quantize
  to DECIMAL first (the q_word_entropy / q_acf_multi_lag pattern);
- each output statistic is ONE flat double expression over the
  bridged sufficient statistics.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

# Fixed fixture domains (same contract as retrieval.QUERY_TERMS): the
# oracle pivots are GENERATED from these constants so both engines
# always agree on the member list.
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
SPLIT_DAY = "2024-01-16"  # fixture events span 2024-01-01..01-30
LB_LAGS = 10  # Ljung-Box portmanteau horizon

_DAILY_SQL = """
      SELECT event_type AS t, date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
"""


# r15: the (t, day, v) daily table is the spine of the whole
# daily-series test family (Ljung–Box, Dickey–Fuller, Friedman,
# Kruskal–Wallis, Page, Quade, … — 26 call sites across 9 modules),
# and each query's plan branches re-ran the events scan + reduce
# once per branch. The persisted table is |types|×|days| rows of
# exact DECIMAL sums (order-independent, so persisting cannot change
# any value).
@session_cached
def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    df = (
        ev.groupBy(
            F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
        )
        .agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("v"))
        .persist()
    )
    df.count()  # materialize once, eagerly
    return df


def _chain_add(terms: list[Column]) -> Column:
    """Left-associated a+b+c+… — fixed float association order."""
    out = terms[0]
    for t in terms[1:]:
        out = out + t
    return out


# ---------------------------------------------------------------- KW
_KW_PIVOT = ",\n             ".join(
    f"MAX(CASE WHEN t = '{t}' THEN r2 END) AS r2_{t},"
    f" MAX(CASE WHEN t = '{t}' THEN ng END) AS n_{t}"
    for t in EVENT_TYPES
)
_KW_N = " + ".join(f"n_{t}" for t in EVENT_TYPES)
_KW_TERMS = " + ".join(
    f"CAST(r2_{t} AS DOUBLE) * r2_{t} / n_{t}" for t in EVENT_TYPES
)


@query(
    "q_kruskal_wallis",
    oracle=f"""
    WITH cnt AS (
      SELECT event_type AS t, value AS v, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ), vals AS (
      SELECT v, CAST(SUM(c) AS BIGINT) AS cv FROM cnt GROUP BY v
    ), ranked AS (
      SELECT v, cv,
             COALESCE(CAST(SUM(cv) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS before
      FROM vals
    ), ties AS (
      SELECT CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie3 FROM ranked
    ), grp AS (
      SELECT c.t, CAST(SUM(c.c * (2 * r.before + r.cv + 1)) AS BIGINT) AS r2,
             CAST(SUM(c.c) AS BIGINT) AS ng
      FROM cnt c JOIN ranked r ON r.v = c.v
      GROUP BY c.t
    ), piv AS (
      SELECT {_KW_PIVOT}
      FROM grp
    )
    SELECT CAST({_KW_N} AS BIGINT) AS n_total,
           round((3.0 * ({_KW_TERMS})
                  / (CAST({_KW_N} AS DOUBLE) * (({_KW_N}) + 1))
                  - 3.0 * (({_KW_N}) + 1))
                 / (1.0 - CAST(t.tie3 AS DOUBLE)
                          / (CAST({_KW_N} AS DOUBLE) * ({_KW_N}) * ({_KW_N})
                             - ({_KW_N}))),
                 6) AS h_stat
    FROM piv, ties t
    """,
)
def q_kruskal_wallis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kruskal–Wallis H across the {EVENT_TYPES} value samples, with
    midrank ties and the Σ(t³−t) tie correction:
    H = [12/(N(N+1)) Σ R_g²/n_g − 3(N+1)] / C.  Doubled midranks keep
    every rank sum integral (so Σ R_g²/n_g = ¼ Σ R2_g²/n_g, absorbed
    into the 12/4 = 3 factor); the per-group terms are pivoted into
    literal columns from EVENT_TYPES and added left-to-right — the
    k-group sum is a flat expression, never an engine-ordered float
    SUM. One corpus pass builds (type, value) counts; everything
    after runs on the value-domain table."""
    # r16: the pooled doubled-midrank and Σ(t³−t) tie censuses run
    # driver-side over the collected counts spine (rank_kit); the
    # flat H/C composition below is unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import (
        counts_by_type,
        pooled_grid,
    )
    from timestream_travel_spark.tables import bounded_df

    kit = counts_by_type(spark, sf_dir)
    vs, cs = pooled_grid(kit)
    before: dict[float, int] = {}
    cv: dict[float, int] = {}
    cum = 0
    for x, k in zip(vs.tolist(), cs.tolist()):
        before[x] = cum
        cv[x] = k
        cum += k
    vals_ = []
    schema = []
    for t in EVENT_TYPES:
        if t in kit:
            v, c = kit[t]
            r2 = sum(
                k * (2 * before[x] + cv[x] + 1)
                for x, k in zip(v.tolist(), c.tolist())
            )
            ng = int(c.sum())
            vals_.extend([r2, ng])
        else:
            vals_.extend([None, None])
        schema.extend([f"r2_{t} bigint", f"n_{t} bigint"])
    vals_.append(sum(k * k * k - k for k in cs.tolist()))
    schema.append("tie3 bigint")
    piv = bounded_df(spark, [tuple(vals_)], ", ".join(schema))
    n_tot = _chain_add([F.col(f"n_{t}") for t in EVENT_TYPES])
    terms = _chain_add(
        [
            F.col(f"r2_{t}").cast("double") * F.col(f"r2_{t}") / F.col(f"n_{t}")
            for t in EVENT_TYPES
        ]
    )
    h = 3.0 * terms / (n_tot.cast("double") * (n_tot + 1)) - 3.0 * (n_tot + 1)
    corr = 1.0 - F.col("tie3").cast("double") / (
        n_tot.cast("double") * n_tot * n_tot - n_tot
    )
    return piv.select(
        n_tot.cast("bigint").alias("n_total"),
        F.round(h / corr, 6).alias("h_stat"),
    )


# ----------------------------------------------------------- Friedman
@query(
    "q_friedman",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), full_days AS (
      SELECT day FROM daily GROUP BY day HAVING COUNT(*) = {len(EVENT_TYPES)}
    ), ranked AS (
      SELECT d.t, d.day,
             2 * RANK() OVER (PARTITION BY d.day ORDER BY d.v)
               + CAST(COUNT(*) OVER (PARTITION BY d.day, d.v) AS BIGINT)
               - 1 AS dr
      FROM daily d JOIN full_days f ON f.day = d.day
    ), rsum AS (
      SELECT t, CAST(SUM(dr) AS BIGINT) AS r2j, CAST(COUNT(*) AS BIGINT) AS n
      FROM ranked GROUP BY t
    ), agg AS (
      SELECT CAST(SUM(r2j * r2j) AS BIGINT) AS ssq,
             CAST(COUNT(*) AS BIGINT) AS k, MAX(n) AS n
      FROM rsum
    )
    SELECT n AS n_blocks, k,
           round(3.0 * ssq / (CAST(n AS DOUBLE) * k * (k + 1))
                 - 3.0 * n * (k + 1), 6) AS chi2_f
    FROM agg
    """,
)
def q_friedman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Friedman's blocked rank test: blocks = calendar days (complete
    ones only), treatments = the {len(EVENT_TYPES)} event types,
    response = the exact DECIMAL daily level.  Within-block doubled
    midranks (2·RANK + tiecount − 1) keep the treatment rank sums
    R2_j integral, so Σ R_j² = ¼ Σ R2_j² is an order-independent
    INTEGER sum — no pivot needed — and
    χ²_F = 12/(nk(k+1)) Σ R_j² − 3n(k+1) collapses to one flat double
    expression (12/4 = 3). Ranks sort k-row day slices, never a
    corpus-sized partition."""
    # r16: the within-day doubled-midrank census runs driver-side
    # over the collected daily spine (rank_kit.friedman_r2; exact
    # Decimal comparisons, integer ranks); the χ²_F composition
    # below is unchanged Spark expressions.
    from timestream_travel_spark.operators.rank_kit import (
        daily_rows,
        friedman_r2,
    )
    from timestream_travel_spark.tables import bounded_df

    r2j, nblocks = friedman_r2(daily_rows(spark, sf_dir), len(EVENT_TYPES))
    row = (
        (sum(s * s for s in r2j.values()), len(r2j), nblocks)
        if r2j
        else (None, 0, None)
    )
    agg = bounded_df(spark, [row], "ssq bigint, k bigint, n bigint")
    n, k, ssq = F.col("n"), F.col("k"), F.col("ssq")
    chi2 = 3.0 * ssq / (n.cast("double") * k * (k + 1)) - 3.0 * n * (k + 1)
    return agg.select(
        n.alias("n_blocks"), k.alias("k"), F.round(chi2, 6).alias("chi2_f")
    )


# ------------------------------------------------- Wilcoxon signed-rank
@query(
    "q_wilcoxon_signed_rank",
    oracle=f"""
    WITH halves AS (
      SELECT user_id,
             SUM(CASE WHEN ts < TIMESTAMP '{SPLIT_DAY}'
                      THEN CAST(value AS DECIMAL(20,6)) END) AS se,
             CAST(SUM(CASE WHEN ts < TIMESTAMP '{SPLIT_DAY}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS ne,
             SUM(CASE WHEN ts >= TIMESTAMP '{SPLIT_DAY}'
                      THEN CAST(value AS DECIMAL(20,6)) END) AS sl,
             CAST(SUM(CASE WHEN ts >= TIMESTAMP '{SPLIT_DAY}'
                           THEN 1 ELSE 0 END) AS BIGINT) AS nl
      FROM events GROUP BY user_id
    ), diffs AS (
      SELECT user_id,
             CAST(CAST(sl AS VARCHAR) AS DOUBLE) / nl
               - CAST(CAST(se AS VARCHAR) AS DOUBLE) / ne AS d
      FROM halves WHERE ne > 0 AND nl > 0
    ), nz AS (
      SELECT user_id, d, abs(d) AS ad FROM diffs WHERE d <> 0
    ), byad AS (
      SELECT ad, CAST(COUNT(*) AS BIGINT) AS cv,
             CAST(SUM(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS cpos
      FROM nz GROUP BY ad
    ), ranked AS (
      SELECT ad, cv, cpos,
             COALESCE(CAST(SUM(cv) OVER (ORDER BY ad
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS BIGINT), 0) AS before
      FROM byad
    ), agg AS (
      SELECT CAST(SUM(cv) AS BIGINT) AS n,
             CAST(SUM(cpos * (2 * before + cv + 1)) AS BIGINT) AS w2p,
             CAST(SUM(cv * cv * cv - cv) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n AS n_pairs,
           CAST(w2p AS DOUBLE) / 2 AS w_plus,
           round((CAST(w2p AS DOUBLE) / 2
                  - CAST(n AS DOUBLE) * (n + 1) / 4)
                 / sqrt(CAST(n AS DOUBLE) * (n + 1) * (2 * n + 1) / 24
                        - CAST(tie3 AS DOUBLE) / 48),
                 6) AS z_score
    FROM agg
    """,
)
def q_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on the paired per-user mean event
    value, first half-month vs second ({SPLIT_DAY} split): d_u =
    mean_late − mean_early for users active in both halves, zero
    diffs dropped (Wilcoxon's convention), |d| midranked with the
    doubled-rank trick, W⁺ = Σ ranks of positive diffs, and the
    tie-corrected normal approximation
    z = (W⁺ − n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48).  Each d is
    one flat double from two bridged DECIMAL mean pairs, so the
    grouping key |d| is bit-identical cross-engine; everything after
    is integer until the final expression."""
    ev = load_table(spark, sf_dir, "events")
    val = F.col("value").cast("decimal(20,6)")
    early = F.col("ts") < F.lit(SPLIT_DAY).cast("timestamp")
    halves = ev.groupBy("user_id").agg(
        F.sum(F.when(early, val)).alias("se"),
        F.sum(F.when(early, 1).otherwise(0)).cast("bigint").alias("ne"),
        F.sum(F.when(~early, val)).alias("sl"),
        F.sum(F.when(~early, 1).otherwise(0)).cast("bigint").alias("nl"),
    )
    diffs = halves.filter((F.col("ne") > 0) & (F.col("nl") > 0)).select(
        "user_id",
        (
            F.col("sl").cast("double") / F.col("nl")
            - F.col("se").cast("double") / F.col("ne")
        ).alias("d"),
    )
    nz = diffs.filter(F.col("d") != 0).select(
        "user_id", "d", F.abs("d").alias("ad")
    )
    byad = nz.groupBy("ad").agg(
        F.count("*").cast("bigint").alias("cv"),
        F.sum(F.when(F.col("d") > 0, 1).otherwise(0)).cast("bigint").alias("cpos"),
    )
    w = Window.orderBy("ad").rowsBetween(Window.unboundedPreceding, -1)
    ranked = byad.select(
        "ad",
        "cv",
        "cpos",
        F.coalesce(F.sum("cv").over(w).cast("bigint"), F.lit(0)).alias("before"),
    )
    agg = ranked.agg(
        F.sum("cv").cast("bigint").alias("n"),
        F.sum(F.col("cpos") * (2 * F.col("before") + F.col("cv") + 1))
        .cast("bigint")
        .alias("w2p"),
        F.sum(F.col("cv") * F.col("cv") * F.col("cv") - F.col("cv"))
        .cast("bigint")
        .alias("tie3"),
    )
    n = F.col("n")
    w_plus = F.col("w2p").cast("double") / 2
    mu = n.cast("double") * (n + 1) / 4
    var = n.cast("double") * (n + 1) * (2 * n + 1) / 24 - F.col(
        "tie3"
    ).cast("double") / 48
    return agg.select(
        n.alias("n_pairs"),
        w_plus.alias("w_plus"),
        F.round((w_plus - mu) / F.sqrt(var), 6).alias("z_score"),
    )


# ------------------------------------------------------------ Bartlett
_BT_PIVOT = ",\n             ".join(
    f"MAX(CASE WHEN seg = '{s}' THEN ng END) AS n_{s.lower()},"
    f" MAX(CASE WHEN seg = '{s}' THEN s2 END) AS v_{s.lower()}"
    for s in SEGMENTS
)
_BT_N = " + ".join(f"n_{s.lower()}" for s in SEGMENTS)
_BT_POOL = " + ".join(f"(n_{s.lower()} - 1) * v_{s.lower()}" for s in SEGMENTS)
_BT_LNS = " + ".join(f"(n_{s.lower()} - 1) * ln(v_{s.lower()})" for s in SEGMENTS)
_BT_INV = " + ".join(f"1.0 / (n_{s.lower()} - 1)" for s in SEGMENTS)
_BT_K = len(SEGMENTS)


@query(
    "q_bartlett",
    oracle=f"""
    WITH g AS (
      SELECT c_mktsegment AS seg,
             CAST(COUNT(*) AS BIGINT) AS ng,
             CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) AS s,
             CAST(CAST(SUM(CAST(c_acctbal AS DECIMAL(18,2))
                           * CAST(c_acctbal AS DECIMAL(18,2))) AS VARCHAR)
                  AS DOUBLE) AS q
      FROM customer GROUP BY c_mktsegment
    ), v AS (
      SELECT seg, ng, (q - s * s / ng) / (ng - 1) AS s2 FROM g
    ), piv AS (
      SELECT {_BT_PIVOT}
      FROM v
    )
    SELECT CAST({_BT_N} AS BIGINT) AS n_total,
           round((({_BT_N}) - {_BT_K})
                   * ln(({_BT_POOL}) / (({_BT_N}) - {_BT_K}))
                 - ({_BT_LNS}), 6) AS bartlett_raw,
           round(((({_BT_N}) - {_BT_K})
                    * ln(({_BT_POOL}) / (({_BT_N}) - {_BT_K}))
                  - ({_BT_LNS}))
                 / (1.0 + (({_BT_INV}) - 1.0 / (({_BT_N}) - {_BT_K}))
                          / (3.0 * ({_BT_K} - 1))),
                 6) AS bartlett_stat
    FROM piv
    """,
)
def q_bartlett(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bartlett's test of equal variances across the {len(SEGMENTS)}
    market segments on account balance: T = [(N−k)ln S²_p −
    Σ(n_g−1)ln s²_g] / [1 + (Σ1/(n_g−1) − 1/(N−k))/(3(k−1))] — the
    parametric companion to q_levene_bf (Levene is robust to
    non-normality, Bartlett is the more powerful normal-theory
    version).  Per-segment exact DECIMAL S/Q; the k-group sums are
    pivoted into literal columns from SEGMENTS and left-associated so
    both engines add in the same order; lns and divisions are one
    flat expression per output."""
    c = load_table(spark, sf_dir, "customer")
    bal = F.col("c_acctbal").cast("decimal(18,2)")
    g = c.groupBy(F.col("c_mktsegment").alias("seg")).agg(
        F.count("*").cast("bigint").alias("ng"),
        F.sum(bal).cast("double").alias("s"),
        F.sum(bal * bal).cast("double").alias("q"),
    )
    v = g.select(
        "seg",
        "ng",
        ((F.col("q") - F.col("s") * F.col("s") / F.col("ng")) / (F.col("ng") - 1)).alias(
            "s2"
        ),
    )
    piv = v.agg(
        *[
            c2
            for s in SEGMENTS
            for c2 in (
                F.max(F.when(F.col("seg") == s, F.col("ng"))).alias(
                    f"n_{s.lower()}"
                ),
                F.max(F.when(F.col("seg") == s, F.col("s2"))).alias(
                    f"v_{s.lower()}"
                ),
            )
        ]
    )
    n_tot = _chain_add([F.col(f"n_{s.lower()}") for s in SEGMENTS])
    pool = _chain_add(
        [(F.col(f"n_{s.lower()}") - 1) * F.col(f"v_{s.lower()}") for s in SEGMENTS]
    )
    lns = _chain_add(
        [
            (F.col(f"n_{s.lower()}") - 1) * F.log(F.col(f"v_{s.lower()}"))
            for s in SEGMENTS
        ]
    )
    inv = _chain_add(
        [F.lit(1.0) / (F.col(f"n_{s.lower()}") - 1) for s in SEGMENTS]
    )
    k = _BT_K
    raw = (n_tot - k) * F.log(pool / (n_tot - k)) - lns
    corr = 1.0 + (inv - 1.0 / (n_tot - k)) / (3.0 * (k - 1))
    return piv.select(
        n_tot.cast("bigint").alias("n_total"),
        F.round(raw, 6).alias("bartlett_raw"),
        F.round(raw / corr, 6).alias("bartlett_stat"),
    )


# ------------------------------------------------------------- McNemar
MCNEMAR_MIN_DAYS = 7  # "engaged" = active ≥ this many distinct days/half


@query(
    "q_mcnemar",
    oracle=f"""
    WITH flags AS (
      SELECT event_type, user_id,
             CASE WHEN COUNT(DISTINCT CASE WHEN ts < TIMESTAMP '{SPLIT_DAY}'
                                           THEN date_trunc('day', ts) END)
                       >= {MCNEMAR_MIN_DAYS} THEN 1 ELSE 0 END AS e,
             CASE WHEN COUNT(DISTINCT CASE WHEN ts >= TIMESTAMP '{SPLIT_DAY}'
                                           THEN date_trunc('day', ts) END)
                       >= {MCNEMAR_MIN_DAYS} THEN 1 ELSE 0 END AS l
      FROM events GROUP BY event_type, user_id
    ), agg AS (
      SELECT event_type,
             CAST(SUM(CASE WHEN e = 1 AND l = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS b,
             CAST(SUM(CASE WHEN e = 0 AND l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS c
      FROM flags GROUP BY event_type
    )
    SELECT event_type, b AS n_dropped, c AS n_adopted,
           round(CAST((abs(b - c) - 1) * (abs(b - c) - 1) AS DOUBLE)
                 / (b + c), 6) AS mcnemar_chi2
    FROM agg WHERE b + c > 0
    """,
)
def q_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired-binary test per event type: did users'
    ENGAGEMENT with each event type change between the two
    half-months?  Engaged = active on ≥ {MCNEMAR_MIN_DAYS} distinct
    days of that half (raw presence is saturated in a dense stream —
    every user touches every type — so the day-count gate is what a
    real churn analysis would threshold on); b = disengaged (e∧¬l),
    c = newly engaged (¬e∧l); χ² = (|b−c|−1)²/(b+c) with Edwards'
    continuity correction.  Pure integer counting per (type, user) —
    the only float op is the final division.  Users with e=l=0 drop
    out of b and c algebraically, so no user-universe grid is needed
    and the single pass is the (type, user, day) distinct count."""
    ev = load_table(spark, sf_dir, "events")
    early = F.col("ts") < F.lit(SPLIT_DAY).cast("timestamp")
    flags = ev.groupBy("event_type", "user_id").agg(
        F.when(
            F.count_distinct(F.when(early, F.date_trunc("day", "ts")))
            >= MCNEMAR_MIN_DAYS,
            1,
        )
        .otherwise(0)
        .alias("e"),
        F.when(
            F.count_distinct(F.when(~early, F.date_trunc("day", "ts")))
            >= MCNEMAR_MIN_DAYS,
            1,
        )
        .otherwise(0)
        .alias("l"),
    )
    agg = flags.groupBy("event_type").agg(
        F.sum(F.when((F.col("e") == 1) & (F.col("l") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("b"),
        F.sum(F.when((F.col("e") == 0) & (F.col("l") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("c"),
    )
    b, cc = F.col("b"), F.col("c")
    chi2 = ((F.abs(b - cc) - 1) * (F.abs(b - cc) - 1)).cast("double") / (b + cc)
    return agg.filter(b + cc > 0).select(
        "event_type",
        b.alias("n_dropped"),
        cc.alias("n_adopted"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
    )


# ----------------------------------------------------------- Ljung-Box
_LB_NUM_PIVOT = ",\n             ".join(
    f"MAX(CASE WHEN k = {k} THEN num END) AS num{k}" for k in range(1, LB_LAGS + 1)
)
_LB_TERMS = " + ".join(
    f"(num{k} / den) * (num{k} / den) / (n - {k})" for k in range(1, LB_LAGS + 1)
)


@query(
    "q_ljung_box",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), series AS (
      SELECT t AS event_type, CAST(v AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY t ORDER BY day) AS rn
      FROM daily
    ), mu AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(x AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE)
               / COUNT(*) AS m,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM series GROUP BY event_type
    ), centered AS (
      SELECT s.event_type, s.rn, s.x - mu.m AS xc
      FROM series s JOIN mu ON mu.event_type = s.event_type
    ), den AS (
      SELECT event_type,
             CAST(CAST(SUM(CAST(xc * xc AS DECIMAL(30,10))) AS VARCHAR)
                  AS DOUBLE) AS den
      FROM centered GROUP BY event_type
    ), lags AS (
      SELECT unnest([{", ".join(str(k) for k in range(1, LB_LAGS + 1))}]) AS k
    ), num AS (
      SELECT a.event_type, l.k,
             CAST(CAST(SUM(CAST(a.xc * b.xc AS DECIMAL(30,10))) AS VARCHAR)
                  AS DOUBLE) AS num
      FROM centered a
      JOIN lags l ON TRUE
      JOIN centered b ON b.event_type = a.event_type AND b.rn = a.rn + l.k
      GROUP BY a.event_type, l.k
    ), piv AS (
      SELECT event_type, {_LB_NUM_PIVOT}
      FROM num GROUP BY event_type
    )
    SELECT p.event_type, mu.n AS n_obs,
           round(CAST(mu.n AS DOUBLE) * (mu.n + 2) * ({_LB_TERMS}), 6)
             AS lb_stat
    FROM piv p
    JOIN mu ON mu.event_type = p.event_type
    JOIN den d ON d.event_type = p.event_type
    """,
)
def q_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box portmanteau test per type over the daily series:
    Q = n(n+2) Σ_{{k=1..{LB_LAGS}}} ρ̂_k²/(n−k), the standard
    is-this-white-noise gate run before fitting any ARMA model.
    Reuses q_acf_multi_lag's machinery (exact-decimal mean, quantized
    centered products, broadcast lag join); the {LB_LAGS} ρ̂_k² terms
    are pivoted into literal columns and added left-to-right so the
    lag sum has a fixed float association order in both engines."""
    daily = _daily(spark, sf_dir)
    wl = Window.partitionBy("t").orderBy("day")
    series = daily.select(
        F.col("t").alias("event_type"),
        F.col("v").cast("double").alias("x"),
        F.row_number().over(wl).alias("rn"),
    )
    mu = series.groupBy("event_type").agg(
        (
            F.sum(F.col("x").cast("decimal(20,4)")).cast("double") / F.count("*")
        ).alias("m"),
        F.count("*").cast("bigint").alias("n"),
    )
    # r15: `centered` (|types|×|days| rows) feeds three aggregation
    # branches (den, both lag-join sides) plus the final joins re-use
    # mu — an eager checkpoint of the bounded table stops the
    # series+mu lineage re-executing per branch.
    centered = (
        series.join(F.broadcast(mu), "event_type")
        .select("event_type", "rn", (F.col("x") - F.col("m")).alias("xc"))
        .localCheckpoint(eager=True)
    )
    den = centered.groupBy("event_type").agg(
        F.sum((F.col("xc") * F.col("xc")).cast("decimal(30,10)"))
        .cast("double")
        .alias("den")
    )
    lags = spark.createDataFrame([(k,) for k in range(1, LB_LAGS + 1)], "k int")
    a = centered.select("event_type", "rn", F.col("xc").alias("xa"))
    b = centered.select(
        "event_type", F.col("rn").alias("rnb"), F.col("xc").alias("xb")
    )
    num = (
        a.join(F.broadcast(lags))
        .join(
            b,
            (b.event_type == a.event_type)
            & (F.col("rnb") == F.col("rn") + F.col("k")),
        )
        .drop(b.event_type)
        .groupBy("event_type", "k")
        .agg(
            F.sum((F.col("xa") * F.col("xb")).cast("decimal(30,10)"))
            .cast("double")
            .alias("num")
        )
    )
    piv = num.groupBy("event_type").agg(
        *[
            F.max(F.when(F.col("k") == k, F.col("num"))).alias(f"num{k}")
            for k in range(1, LB_LAGS + 1)
        ]
    )
    terms = _chain_add(
        [
            (F.col(f"num{k}") / F.col("den"))
            * (F.col(f"num{k}") / F.col("den"))
            / (F.col("n") - k)
            for k in range(1, LB_LAGS + 1)
        ]
    )
    return (
        piv.join(F.broadcast(mu.select("event_type", "n")), "event_type")
        .join(F.broadcast(den), "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_obs"),
            F.round(F.col("n").cast("double") * (F.col("n") + 2) * terms, 6).alias(
                "lb_stat"
            ),
        )
    )


# -------------------------------------------------------- Dickey-Fuller
@query(
    "q_dickey_fuller",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), series AS (
      SELECT t AS event_type, day, CAST(v AS DOUBLE) AS x
      FROM daily
    ), lagged AS (
      SELECT event_type, x,
             lag(x) OVER (PARTITION BY event_type ORDER BY day) AS px
      FROM series
    ), pairs AS (
      SELECT event_type, px, x - px AS d
      FROM lagged WHERE px IS NOT NULL
    ), s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(CAST(px AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE)
               AS sx,
             CAST(CAST(SUM(CAST(d AS DECIMAL(20,4))) AS VARCHAR) AS DOUBLE)
               AS sd,
             CAST(CAST(SUM(CAST(px * px AS DECIMAL(30,8))) AS VARCHAR)
                  AS DOUBLE) AS sxx,
             CAST(CAST(SUM(CAST(px * d AS DECIMAL(30,8))) AS VARCHAR)
                  AS DOUBLE) AS sxd,
             CAST(CAST(SUM(CAST(d * d AS DECIMAL(30,8))) AS VARCHAR)
                  AS DOUBLE) AS sdd
      FROM pairs GROUP BY event_type
    )
    SELECT event_type, n,
           round((sxd - sx * sd / n) / (sxx - sx * sx / n), 6) AS gamma,
           round(((sxd - sx * sd / n) / (sxx - sx * sx / n))
                 / sqrt((((sdd - sd * sd / n)
                          - ((sxd - sx * sd / n) / (sxx - sx * sx / n))
                            * (sxd - sx * sd / n)) / (n - 2))
                        / (sxx - sx * sx / n)),
                 6) AS adf_t
    FROM s
    """,
)
def q_dickey_fuller(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey–Fuller unit-root t statistic (non-augmented, with
    constant) per type's daily series: regress Δx_t on x_{{t−1}},
    t_DF = γ̂/se(γ̂) with γ̂ = S_xd/S_xx (centered) and
    se² = [(S_dd − γ̂ S_xd)/(n−2)]/S_xx.  A strongly negative t means
    mean reversion, t ≈ 0 a random walk — the standard stationarity
    gate before ARMA fitting (complements q_ljung_box).  Lag pairing
    is one window per bounded daily slice; all five sufficient sums
    quantize to DECIMAL, and γ̂/se are flat identical expressions."""
    daily = _daily(spark, sf_dir)
    wl = Window.partitionBy("event_type").orderBy("day")
    series = daily.select(
        F.col("t").alias("event_type"), "day", F.col("v").cast("double").alias("x")
    )
    lagged = series.select(
        "event_type", "x", F.lag("x").over(wl).alias("px")
    )
    pairs = lagged.filter(F.col("px").isNotNull()).select(
        "event_type", "px", (F.col("x") - F.col("px")).alias("d")
    )
    s = pairs.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum(F.col("px").cast("decimal(20,4)")).cast("double").alias("sx"),
        F.sum(F.col("d").cast("decimal(20,4)")).cast("double").alias("sd"),
        F.sum((F.col("px") * F.col("px")).cast("decimal(30,8)"))
        .cast("double")
        .alias("sxx"),
        F.sum((F.col("px") * F.col("d")).cast("decimal(30,8)"))
        .cast("double")
        .alias("sxd"),
        F.sum((F.col("d") * F.col("d")).cast("decimal(30,8)"))
        .cast("double")
        .alias("sdd"),
    )
    n, sx, sd = F.col("n"), F.col("sx"), F.col("sd")
    sxx, sxd, sdd = F.col("sxx"), F.col("sxd"), F.col("sdd")
    sxx_c = sxx - sx * sx / n
    sxd_c = sxd - sx * sd / n
    gamma = sxd_c / sxx_c
    sse = (sdd - sd * sd / n) - gamma * sxd_c
    se = F.sqrt((sse / (n - 2)) / sxx_c)
    return s.select(
        "event_type",
        "n",
        F.round(gamma, 6).alias("gamma"),
        F.round(gamma / se, 6).alias("adf_t"),
    )
