"""Round-8 time-series wave C: volatility estimators and trend
indicators — Aroon (Chande 1995), ATR + Keltner channels (Wilder
1978 / Keltner 1960, SMA variant), Parkinson (1980) and Garman–Klass
(1980) range volatility, the Ulcer index (Martin & McCann 1989),
Chande momentum oscillator (1994), and the Hurst rescaled-range
exponent (Hurst 1951, R/S over dyadic blocks).

Exactness design: daily/hourly levels are exact DECIMAL sums; rolling
extrema, true ranges and gain/loss splits stay DECIMAL end-to-end;
argmax/argmin positions use lexicographic struct extrema (identical
tie policy in Spark's max(struct(...)) and DuckDB's max({...}));
irrational per-row terms (ln², squared drawdowns, per-block R/S) are
DECIMAL-quantized before any corpus-sized sum (the q_word_entropy
pattern); every emitted statistic is one flat double expression.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

AROON_W = 14  # Aroon lookback (days)
ATR_W = 14  # ATR smoothing window (days)
KC_K = 2  # Keltner half-width in ATRs
CMO_W = 14  # Chande momentum window (days)
RS_BLOCKS = (16, 32, 64)  # Hurst R/S dyadic block sizes (hours)

_DAILY_SQL = """
      SELECT event_type AS t, date_trunc('day', ts) AS day,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
"""

# daily OHLC of the hourly level series within each day
_DAILY_OHLC_SQL = """
      SELECT t, day, MAX(hv) AS hi, MIN(hv) AS lo,
             MAX({'h': hr, 'v': hv})['v'] AS cl,
             MIN({'h': hr, 'v': hv})['v'] AS op
      FROM (
        SELECT event_type AS t, date_trunc('day', ts) AS day,
               date_trunc('hour', ts) AS hr,
               SUM(CAST(value AS DECIMAL(20,4))) AS hv
        FROM events GROUP BY 1, 2, 3
      ) GROUP BY t, day
"""


def _daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("v"))


# r15: the daily OHLC table is the spine of the entire indicator
# family (Aroon, ATR/Keltner, ADX/DMI, SAR, Ichimoku, SuperTrend, …
# — 29 call sites across 13 timeseries modules), and every query
# re-ran the events scan + two reduces per plan branch. The persisted
# table is |types|×|days| rows of exact DECIMAL sums / struct extrema
# (order-independent, so persisting cannot change any value).
@session_cached
def _daily_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open/high/low/close of the hourly DECIMAL level series.

    Open/close use lexicographic struct extrema on (hour, value) —
    the first/last hour's level with a deterministic policy shared by
    both engines (hours within a day are unique, so there is no tie)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hr"),
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("hv"))
    df = hourly.groupBy("t", "day").agg(
        F.max("hv").alias("hi"),
        F.min("hv").alias("lo"),
        F.max(F.struct(F.col("hr").alias("h"), F.col("hv").alias("v")))["v"].alias(
            "cl"
        ),
        F.min(F.struct(F.col("hr").alias("h"), F.col("hv").alias("v")))["v"].alias(
            "op"
        ),
    ).persist()
    df.count()  # materialize once, eagerly
    return df


@query(
    "q_aroon",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), rn AS (
      SELECT t, day, v,
             CAST(row_number() OVER (PARTITION BY t ORDER BY day) AS BIGINT)
               AS rn
      FROM daily
    ), win AS (
      SELECT t, day, rn,
             COUNT(*) OVER w AS nw,
             MAX({{'v': v, 'r': rn}}) OVER w AS mx,
             MIN({{'v': v, 'r': -rn}}) OVER w AS mn
      FROM rn
      WINDOW w AS (PARTITION BY t ORDER BY rn
                   ROWS BETWEEN {AROON_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day,
           CAST(rn - mx['r'] AS BIGINT) AS days_since_high,
           CAST(rn + mn['r'] AS BIGINT) AS days_since_low,
           round(100.0 * ({AROON_W} - (rn - mx['r'])) / {AROON_W}, 6)
             AS aroon_up,
           round(100.0 * ({AROON_W} - (rn + mn['r'])) / {AROON_W}, 6)
             AS aroon_down
    FROM win WHERE nw = {AROON_W}
    """,
)
def q_aroon(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aroon up/down over each type's daily level: 100·(W − days
    since the {AROON_W}-day high/low)/W. The position of the rolling
    extremum comes from a lexicographic struct extremum over
    (value, row-number) — max(struct(v, rn)) breaks value ties toward
    the MOST RECENT day, min(struct(v, −rn)) does the same for the
    low — a tie policy both engines implement identically, with no
    self-join. All comparisons run on exact DECIMAL levels."""
    daily = _daily(spark, sf_dir)
    wl = Window.partitionBy("t").orderBy("day")
    rn = daily.select(
        "t", "day", "v", F.row_number().over(wl).cast("bigint").alias("rn")
    )
    w = (
        Window.partitionBy("t")
        .orderBy("rn")
        .rowsBetween(-(AROON_W - 1), Window.currentRow)
    )
    win = rn.select(
        "t",
        "day",
        "rn",
        F.count("*").over(w).alias("nw"),
        F.max(F.struct(F.col("v").alias("v"), F.col("rn").alias("r")))
        .over(w)["r"]
        .alias("hi_rn"),
        F.min(F.struct(F.col("v").alias("v"), (-F.col("rn")).alias("r")))
        .over(w)["r"]
        .alias("neg_lo_rn"),
    )
    dsh = F.col("rn") - F.col("hi_rn")
    dsl = F.col("rn") + F.col("neg_lo_rn")
    return win.filter(F.col("nw") == AROON_W).select(
        F.col("t").alias("event_type"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        dsh.cast("bigint").alias("days_since_high"),
        dsl.cast("bigint").alias("days_since_low"),
        F.round(100.0 * (AROON_W - dsh) / AROON_W, 6).alias("aroon_up"),
        F.round(100.0 * (AROON_W - dsl) / AROON_W, 6).alias("aroon_down"),
    )


@query(
    "q_atr_keltner",
    oracle=f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), tr AS (
      SELECT t, day, hi, lo, cl,
             lag(cl) OVER (PARTITION BY t ORDER BY day) AS pc
      FROM ohlc
    ), tr2 AS (
      SELECT t, day, hi, lo, cl,
             greatest(hi - lo, abs(hi - pc), abs(lo - pc)) AS trng
      FROM tr WHERE pc IS NOT NULL
    ), win AS (
      SELECT t, day, hi, lo, cl, trng,
             COUNT(*) OVER w AS nw,
             SUM(trng) OVER w AS str,
             SUM(hi + lo + cl) OVER w AS styp
      FROM tr2
      WINDOW w AS (PARTITION BY t ORDER BY day
                   ROWS BETWEEN {ATR_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day,
           round(CAST(CAST(trng AS VARCHAR) AS DOUBLE), 4) AS true_range,
           round(CAST(CAST(str AS VARCHAR) AS DOUBLE) / {ATR_W}, 6) AS atr,
           round(CAST(CAST(styp AS VARCHAR) AS DOUBLE) / (3 * {ATR_W})
                 + {KC_K} * (CAST(CAST(str AS VARCHAR) AS DOUBLE) / {ATR_W}),
                 6) AS keltner_upper,
           round(CAST(CAST(styp AS VARCHAR) AS DOUBLE) / (3 * {ATR_W})
                 - {KC_K} * (CAST(CAST(str AS VARCHAR) AS DOUBLE) / {ATR_W}),
                 6) AS keltner_lower
    FROM win WHERE nw = {ATR_W}
    """,
)
def q_atr_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average True Range and Keltner channels (SMA variant) on the
    daily OHLC of each type's hourly level: TR = max(H−L, |H−C_prev|,
    |L−C_prev|) — computed and window-summed entirely in DECIMAL
    (greatest/abs of decimals are exact) — ATR = SMA_{ATR_W}(TR), and
    the channel center is the SMA of the typical price (H+L+C)/3,
    with the /3 folded into the single float division. Bands =
    center ± {KC_K}·ATR, one flat expression per row."""
    ohlc = _daily_ohlc(spark, sf_dir)
    wl = Window.partitionBy("t").orderBy("day")
    tr = ohlc.select(
        "t", "day", "hi", "lo", "cl", F.lag("cl").over(wl).alias("pc")
    )
    tr2 = tr.filter(F.col("pc").isNotNull()).select(
        "t",
        "day",
        "hi",
        "lo",
        "cl",
        F.greatest(
            F.col("hi") - F.col("lo"),
            F.abs(F.col("hi") - F.col("pc")),
            F.abs(F.col("lo") - F.col("pc")),
        ).alias("trng"),
    )
    w = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(-(ATR_W - 1), Window.currentRow)
    )
    win = tr2.select(
        "t",
        "day",
        "trng",
        F.count("*").over(w).alias("nw"),
        F.sum("trng").over(w).alias("str"),
        F.sum(F.col("hi") + F.col("lo") + F.col("cl")).over(w).alias("styp"),
    )
    atr = F.col("str").cast("double") / ATR_W
    center = F.col("styp").cast("double") / (3 * ATR_W)
    return win.filter(F.col("nw") == ATR_W).select(
        F.col("t").alias("event_type"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("trng").cast("double"), 4).alias("true_range"),
        F.round(atr, 6).alias("atr"),
        F.round(center + KC_K * atr, 6).alias("keltner_upper"),
        F.round(center - KC_K * atr, 6).alias("keltner_lower"),
    )


@query(
    "q_parkinson_gk_vol",
    oracle=f"""
    WITH ohlc AS ({_DAILY_OHLC_SQL}
    ), terms AS (
      SELECT t, date_trunc('week', day) AS week,
             CAST(ln(CAST(CAST(hi AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(lo AS VARCHAR) AS DOUBLE))
                  * ln(CAST(CAST(hi AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(lo AS VARCHAR) AS DOUBLE))
                  AS DECIMAL(20,12)) AS hl2,
             CAST(ln(CAST(CAST(cl AS VARCHAR) AS DOUBLE)
                     / CAST(CAST(op AS VARCHAR) AS DOUBLE))
                  * ln(CAST(CAST(cl AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(op AS VARCHAR) AS DOUBLE))
                  AS DECIMAL(20,12)) AS co2
      FROM ohlc WHERE lo > 0
    ), agg AS (
      SELECT t, week, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(CAST(SUM(hl2) AS VARCHAR) AS DOUBLE) AS shl2,
             CAST(CAST(SUM(co2) AS VARCHAR) AS DOUBLE) AS sco2
      FROM terms GROUP BY t, week
    )
    SELECT t AS event_type, strftime(week, '%Y-%m-%d') AS week, n,
           round(sqrt(shl2 / (4 * ln(2) * n)), 6) AS parkinson_vol,
           round(sqrt((0.5 * shl2 - (2 * ln(2) - 1) * sco2) / n), 6)
             AS garman_klass_vol
    FROM agg WHERE 0.5 * shl2 - (2 * ln(2) - 1) * sco2 >= 0
    """,
)
def q_parkinson_gk_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parkinson and Garman–Klass range-based volatility per (type,
    week) from the daily OHLC of hourly levels:
    σ_P = √(Σ ln²(H/L)/(4 ln2 · n)),
    σ_GK = √((½Σ ln²(H/L) − (2ln2−1)Σ ln²(C/O))/n).
    The per-day ln² terms are irrational, so they quantize to
    DECIMAL(20,12) before the order-independent weekly sums (the
    q_word_entropy discipline); each σ is one flat sqrt expression.
    Rows where the GK radicand goes negative (possible for
    non-price-like series) are dropped identically in both engines."""
    ohlc = _daily_ohlc(spark, sf_dir)
    lhl = F.log(F.col("hi").cast("double") / F.col("lo").cast("double"))
    lco = F.log(F.col("cl").cast("double") / F.col("op").cast("double"))
    terms = ohlc.filter(F.col("lo") > 0).select(
        "t",
        F.date_trunc("week", "day").alias("week"),
        (lhl * lhl).cast("decimal(20,12)").alias("hl2"),
        (lco * lco).cast("decimal(20,12)").alias("co2"),
    )
    agg = terms.groupBy("t", "week").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("hl2").cast("double").alias("shl2"),
        F.sum("co2").cast("double").alias("sco2"),
    )
    import math

    ln2 = math.log(2)
    gk_rad = (0.5 * F.col("shl2") - (2 * ln2 - 1) * F.col("sco2")) / F.col("n")
    return agg.filter(
        0.5 * F.col("shl2") - (2 * ln2 - 1) * F.col("sco2") >= 0
    ).select(
        F.col("t").alias("event_type"),
        F.date_format("week", "yyyy-MM-dd").alias("week"),
        "n",
        F.round(F.sqrt(F.col("shl2") / (4 * ln2 * F.col("n"))), 6).alias(
            "parkinson_vol"
        ),
        F.round(F.sqrt(gk_rad), 6).alias("garman_klass_vol"),
    )


@query(
    "q_ulcer_index",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), rmax AS (
      SELECT t, day, v,
             MAX(v) OVER (PARTITION BY t ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily
    ), dd AS (
      SELECT t, day, v, peak,
             CAST(
               (100.0 * (CAST(CAST(v AS VARCHAR) AS DOUBLE)
                         - CAST(CAST(peak AS VARCHAR) AS DOUBLE))
                / CAST(CAST(peak AS VARCHAR) AS DOUBLE))
               * (100.0 * (CAST(CAST(v AS VARCHAR) AS DOUBLE)
                           - CAST(CAST(peak AS VARCHAR) AS DOUBLE))
                  / CAST(CAST(peak AS VARCHAR) AS DOUBLE))
               AS DECIMAL(24,10)) AS dd2
      FROM rmax WHERE peak > 0
    )
    SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
           round(sqrt(CAST(CAST(SUM(dd2) AS VARCHAR) AS DOUBLE) / COUNT(*)),
                 6) AS ulcer_index
    FROM dd GROUP BY t
    """,
)
def q_ulcer_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ulcer index per type: the quadratic mean of percentage
    drawdowns from the running peak, UI = √(Σ dd_i²/n) — the
    drawdown-depth-and-duration companion to q_max_drawdown's single
    worst dip. The running peak is an exact DECIMAL window max; each
    squared drawdown is one flat double, quantized to DECIMAL(24,10)
    before the order-independent sum; one sqrt per output row."""
    daily = _daily(spark, sf_dir)
    w = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    rmax = daily.select("t", "day", "v", F.max("v").over(w).alias("peak"))
    ddpct = (
        100.0
        * (F.col("v").cast("double") - F.col("peak").cast("double"))
        / F.col("peak").cast("double")
    )
    dd = rmax.filter(F.col("peak") > 0).select(
        "t", ((ddpct) * (ddpct)).cast("decimal(24,10)").alias("dd2")
    )
    return dd.groupBy(F.col("t").alias("event_type")).agg(
        F.count("*").cast("bigint").alias("n_days"),
        F.round(
            F.sqrt(F.sum("dd2").cast("double") / F.count("*")), 6
        ).alias("ulcer_index"),
    )


@query(
    "q_chande_momentum",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL}
    ), mv AS (
      SELECT t, day, v,
             v - lag(v) OVER (PARTITION BY t ORDER BY day) AS d
      FROM daily
    ), gl AS (
      SELECT t, day,
             CASE WHEN d > 0 THEN d ELSE CAST(0 AS DECIMAL(21,4)) END AS g,
             CASE WHEN d < 0 THEN -d ELSE CAST(0 AS DECIMAL(21,4)) END AS l
      FROM mv WHERE d IS NOT NULL
    ), win AS (
      SELECT t, day,
             COUNT(*) OVER w AS nw,
             SUM(g) OVER w AS sg,
             SUM(l) OVER w AS sl
      FROM gl
      WINDOW w AS (PARTITION BY t ORDER BY day
                   ROWS BETWEEN {CMO_W - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT t AS event_type, strftime(day, '%Y-%m-%d') AS day,
           round(100.0 * (CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                          - CAST(CAST(sl AS VARCHAR) AS DOUBLE))
                 / (CAST(CAST(sg AS VARCHAR) AS DOUBLE)
                    + CAST(CAST(sl AS VARCHAR) AS DOUBLE)), 6) AS cmo
    FROM win WHERE nw = {CMO_W} AND sg + sl > 0
    """,
)
def q_chande_momentum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chande momentum oscillator per type:
    CMO = 100·(ΣG − ΣL)/(ΣG + ΣL) over the last {CMO_W} daily moves —
    the unsmoothed, symmetric cousin of q_rsi_indicator (RSI's
    Wilder smoothing hides the bounded ±100 symmetry CMO keeps).
    Gains/losses and their window sums stay DECIMAL end-to-end; one
    flat float expression per row, flat windows on calendar-bounded
    slices."""
    daily = _daily(spark, sf_dir)
    wl = Window.partitionBy("t").orderBy("day")
    mv = daily.select(
        "t", "day", (F.col("v") - F.lag("v").over(wl)).alias("d")
    )
    zero = F.lit(0).cast("decimal(21,4)")
    gl = mv.filter(F.col("d").isNotNull()).select(
        "t",
        "day",
        F.when(F.col("d") > 0, F.col("d")).otherwise(zero).alias("g"),
        F.when(F.col("d") < 0, -F.col("d")).otherwise(zero).alias("l"),
    )
    w = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(-(CMO_W - 1), Window.currentRow)
    )
    win = gl.select(
        "t",
        "day",
        F.count("*").over(w).alias("nw"),
        F.sum("g").over(w).alias("sg"),
        F.sum("l").over(w).alias("sl"),
    )
    sg, sl = F.col("sg").cast("double"), F.col("sl").cast("double")
    return win.filter(
        (F.col("nw") == CMO_W) & (F.col("sg") + F.col("sl") > 0)
    ).select(
        F.col("t").alias("event_type"),
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(100.0 * (sg - sl) / (sg + sl), 6).alias("cmo"),
    )


_RS_M = ", ".join(str(m) for m in RS_BLOCKS)
_RS_PIVOT = ",\n             ".join(
    f"MAX(CASE WHEN m = {m} THEN mean_rs END) AS rs{m}" for m in RS_BLOCKS
)


def _hurst_slope_sql() -> str:
    """ln-ln regression slope over the {len(RS_BLOCKS)} block sizes,
    written as one flat expression (k = 3 points)."""
    import math

    lx = [math.log(m) for m in RS_BLOCKS]
    mean_lx = sum(lx) / len(lx)
    den = sum((v - mean_lx) ** 2 for v in lx)
    terms = " + ".join(
        f"({lx[i]!r} - {mean_lx!r}) * ln(rs{m})" for i, m in enumerate(RS_BLOCKS)
    )
    return f"(({terms}) / {den!r})"


@query(
    "q_hurst_rs",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type AS t, date_trunc('hour', ts) AS hr,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
    ), rn AS (
      SELECT t, v,
             CAST(row_number() OVER (PARTITION BY t ORDER BY hr) AS BIGINT)
               AS rn
      FROM hourly
    ), sizes AS (SELECT unnest([{_RS_M}]) AS m
    ), blocks AS (
      SELECT r.t, s.m, CAST((r.rn - 1) // s.m AS BIGINT) AS b, r.rn, r.v,
             CAST(COUNT(*) OVER (PARTITION BY r.t, s.m,
                                 CAST((r.rn - 1) // s.m AS BIGINT))
                  AS BIGINT) AS bn
      FROM rn r JOIN sizes s ON TRUE
    ), stats AS (
      SELECT t, m, b,
             CAST(CAST(SUM(v) AS VARCHAR) AS DOUBLE) AS s1,
             CAST(CAST(SUM(CAST(CAST(CAST(v AS VARCHAR) AS DOUBLE)
                                * CAST(CAST(v AS VARCHAR) AS DOUBLE)
                                AS DECIMAL(30,8))) AS VARCHAR) AS DOUBLE)
               AS s2,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM blocks WHERE bn = m GROUP BY t, m, b
    ), cum AS (
      SELECT bl.t, bl.m, bl.b, st.s1, st.s2, st.n,
             CAST(CAST(SUM(bl.v) OVER (PARTITION BY bl.t, bl.m, bl.b
                 ORDER BY bl.rn ROWS UNBOUNDED PRECEDING) AS VARCHAR)
               AS DOUBLE)
               - (CAST(row_number() OVER (PARTITION BY bl.t, bl.m, bl.b
                       ORDER BY bl.rn) AS BIGINT)) * (st.s1 / st.n) AS cd
      FROM blocks bl JOIN stats st
        ON st.t = bl.t AND st.m = bl.m AND st.b = bl.b
      WHERE bl.bn = bl.m
    ), rs AS (
      SELECT t, m, b,
             CAST((MAX(cd) - MIN(cd))
                  / sqrt(MAX(s2) / MAX(n)
                         - (MAX(s1) / MAX(n)) * (MAX(s1) / MAX(n)))
                  AS DECIMAL(20,10)) AS rs_val
      FROM cum GROUP BY t, m, b
      HAVING MAX(s2) / MAX(n) - (MAX(s1) / MAX(n)) * (MAX(s1) / MAX(n)) > 0
    ), mean_rs AS (
      SELECT t, m,
             CAST(CAST(SUM(rs_val) AS VARCHAR) AS DOUBLE) / COUNT(*)
               AS mean_rs
      FROM rs GROUP BY t, m
    ), piv AS (
      SELECT t, {_RS_PIVOT}
      FROM mean_rs GROUP BY t
    )
    SELECT t AS event_type,
           round(rs{RS_BLOCKS[0]}, 6) AS rs{RS_BLOCKS[0]},
           round(rs{RS_BLOCKS[-1]}, 6) AS rs{RS_BLOCKS[-1]},
           round({_hurst_slope_sql()}, 6) AS hurst_h
    FROM piv
    WHERE rs{RS_BLOCKS[0]} > 0 AND rs{RS_BLOCKS[1]} > 0
      AND rs{RS_BLOCKS[-1]} > 0
    """,
)
def q_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent by rescaled-range analysis over dyadic blocks
    of each type's HOURLY level series (the daily one has only ~30
    points): for block sizes m ∈ {RS_BLOCKS} hours, split the series
    into complete m-hour blocks, compute R/S = (range
    of cumulative mean deviations)/(population SD) per block, average
    per (type, m), and fit H as the ln–ln regression slope across the
    three sizes (a flat 3-point expression — the ln(m) design
    constants are Python-computed literals identical in both
    engines). H ≈ 0.5 is a random walk, > 0.5 trending, < 0.5 mean
    reverting. Per-block R/S values are irrational → DECIMAL(20,10)
    quantized before the per-size mean; cumulative deviations are
    flat doubles off the exact DECIMAL running sum; block slices are
    ≤ 32 rows, never a corpus partition."""
    import math

    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("v"))
    wl = Window.partitionBy("t").orderBy("hr")
    rn = hourly.select(
        "t", "v", F.row_number().over(wl).cast("bigint").alias("rn")
    )
    sizes = spark.createDataFrame([(m,) for m in RS_BLOCKS], "m int")
    blocks = rn.join(F.broadcast(sizes)).select(
        "t",
        "m",
        # floor division (DuckDB `//`): cast-of-double would ROUND there
        F.floor((F.col("rn") - 1) / F.col("m")).cast("bigint").alias("b"),
        "rn",
        "v",
    )
    wb = Window.partitionBy("t", "m", "b")
    blocks = blocks.withColumn(
        "bn", F.count("*").over(wb).cast("bigint")
    ).filter(F.col("bn") == F.col("m"))
    vd = F.col("v").cast("double")
    stats = blocks.groupBy("t", "m", "b").agg(
        F.sum("v").cast("double").alias("s1"),
        F.sum((vd * vd).cast("decimal(30,8)")).cast("double").alias("s2"),
        F.count("*").cast("bigint").alias("n"),
    )
    wc = (
        Window.partitionBy("t", "m", "b")
        .orderBy("rn")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    worder = Window.partitionBy("t", "m", "b").orderBy("rn")
    cum = blocks.join(stats, ["t", "m", "b"]).select(
        "t",
        "m",
        "b",
        "s1",
        "s2",
        "n",
        (
            F.sum("v").over(wc).cast("double")
            - F.row_number().over(worder).cast("bigint")
            * (F.col("s1") / F.col("n"))
        ).alias("cd"),
    )
    var = F.max("s2") / F.max("n") - (F.max("s1") / F.max("n")) * (
        F.max("s1") / F.max("n")
    )
    rs = (
        cum.groupBy("t", "m", "b")
        .agg(
            ((F.max("cd") - F.min("cd")) / F.sqrt(var)).alias("rs_raw"),
            var.alias("var"),
        )
        .filter(F.col("var") > 0)
        .select("t", "m", F.col("rs_raw").cast("decimal(20,10)").alias("rs_val"))
    )
    mean_rs = rs.groupBy("t", "m").agg(
        (F.sum("rs_val").cast("double") / F.count("*")).alias("mean_rs")
    )
    piv = mean_rs.groupBy("t").agg(
        *[
            F.max(F.when(F.col("m") == m, F.col("mean_rs"))).alias(f"rs{m}")
            for m in RS_BLOCKS
        ]
    )
    lx = [math.log(m) for m in RS_BLOCKS]
    mean_lx = sum(lx) / len(lx)
    den = sum((v - mean_lx) ** 2 for v in lx)
    slope = None
    for i, m in enumerate(RS_BLOCKS):
        term = F.lit(lx[i] - mean_lx) * F.log(F.col(f"rs{m}"))
        slope = term if slope is None else slope + term
    slope = slope / F.lit(den)
    cond = None
    for m in RS_BLOCKS:
        c = F.col(f"rs{m}") > 0
        cond = c if cond is None else cond & c
    return piv.filter(cond).select(
        F.col("t").alias("event_type"),
        F.round(F.col(f"rs{RS_BLOCKS[0]}"), 6).alias(f"rs{RS_BLOCKS[0]}"),
        F.round(F.col(f"rs{RS_BLOCKS[-1]}"), 6).alias(f"rs{RS_BLOCKS[-1]}"),
        F.round(slope, 6).alias("hurst_h"),
    )
