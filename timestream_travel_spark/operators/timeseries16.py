"""Round-8 time-series wave D: complexity and symbolic-dynamics
measures over the hourly level series — permutation entropy (Bandt &
Pompe, PRL 2002), sample entropy (Richman & Moorman, Am J Physiol
2000), a brute-force matrix profile (Yeh et al., ICDM 2016 — the
all-pairs STAMP baseline, not the MASS-accelerated variant), and the
entropy rate of the per-user event-type Markov chain (Shannon 1948;
Cover & Thomas ch. 4).

Exactness design (the registry's double-sum discipline):
- The hourly level series is the exact DECIMAL(20,4) sum reused from
  timeseries15; ordinal comparisons, template distances and window
  distances therefore compare exact decimals — no float threshold
  anywhere in a match predicate.
- Sample entropy's tolerance r = 0.2·sigma is applied WITHOUT ever
  computing sigma: the Chebyshev match `maxdiff <= 0.2*sigma` is
  cross-multiplied to `25 * n^2 * maxdiff^2 <= n*S2 - S1^2` with
  S1 = Σv, S2 = Σv² kept in DECIMAL — an exact integer-style
  comparison both engines evaluate identically.
- Entropy sums use the q_word_entropy pattern: per-term c·log2(c)
  quantized to DECIMAL before the (order-independent) exact sum, one
  float division/log at the output boundary.

Scale shape: every query reduces events to the (type, hour) level
table first — a map-side-combined aggregate whose output is bounded
by |types| x span-hours (720 at every tested SF), NOT by event
volume. The all-pairs stages (sample-entropy templates, matrix
profile windows) are quadratic in that bounded series length only;
at 100 TB the same plan holds because the series length is a
time-span bound, not a data-volume bound. The matrix profile notes
the published scale path (MASS / STOMP's O(n log n) FFT recursion)
for series that outgrow the quadratic window join.

Reference parity: none (cmd/backup.go has no analytics surface) —
north-star time-series-analytics capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

MP_W = 24  # matrix-profile subsequence length (hours: one day)
MP_EXCL = MP_W // 2  # trivial-match exclusion zone (|i-j| >= excl)

# hourly DECIMAL level series with a per-type dense index over the
# OBSERVED hours (gaps in the hour grid close up; the index is the
# sequence position, matching the Spark row_number build)
_HOURLY_IDX_SQL = """
      SELECT t, hr, v,
             CAST(row_number() OVER (PARTITION BY t ORDER BY hr) AS BIGINT) AS i
      FROM (
        SELECT event_type AS t, date_trunc('hour', ts) AS hr,
               SUM(CAST(value AS DECIMAL(20,4))) AS v
        FROM events GROUP BY 1, 2
      )
"""


@session_cached
def _hourly_idx(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(t, hr, v, i): exact-DECIMAL hourly levels with a dense
    per-type sequence index (row_number over observed hours).

    r16: session-cached — the table is |types|×|observed hours| rows
    of exact DECIMAL aggregates (bounded by the calendar, not event
    volume) and is the spine of the whole hourly-series family
    (timeseries16-23: entropy, matrix profile, Hurst, DFA, spectral,
    Higuchi, …); every consumer re-ran the events scan + reduce +
    window."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", "ts").alias("hr"),
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("v"))
    w = Window.partitionBy("t").orderBy("hr")
    df = hourly.withColumn("i", F.row_number().over(w).cast("bigint")).persist()
    df.count()  # materialize once, eagerly
    return df


@query(
    "q_permutation_entropy",
    oracle=f"""
    WITH hourly AS ({_HOURLY_IDX_SQL}
    ), tri AS (
      SELECT t, v AS v0,
             lead(v, 1) OVER (PARTITION BY t ORDER BY i) AS v1,
             lead(v, 2) OVER (PARTITION BY t ORDER BY i) AS v2
      FROM hourly
    ), pat AS (
      SELECT t,
             ((CASE WHEN v1 < v0 THEN 1 ELSE 0 END)
              + (CASE WHEN v2 < v0 THEN 1 ELSE 0 END)) * 100
             + ((CASE WHEN v0 <= v1 THEN 1 ELSE 0 END)
                + (CASE WHEN v2 < v1 THEN 1 ELSE 0 END)) * 10
             + ((CASE WHEN v0 <= v2 THEN 1 ELSE 0 END)
                + (CASE WHEN v1 <= v2 THEN 1 ELSE 0 END)) AS pattern
      FROM tri WHERE v1 IS NOT NULL AND v2 IS NOT NULL
    ), pc AS (
      SELECT t, pattern, CAST(COUNT(*) AS BIGINT) AS c
      FROM pat GROUP BY t, pattern
    )
    SELECT t AS event_type,
           CAST(SUM(c) AS BIGINT) AS n_triples,
           CAST(COUNT(*) AS BIGINT) AS n_patterns,
           round(log2(SUM(c))
                 - CAST(SUM(CAST(c * log2(c) AS DECIMAL(20,6))) AS DOUBLE)
                   / SUM(c), 6) AS perm_entropy_bits
    FROM pc GROUP BY t
    """,
)
def q_permutation_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-3 permutation entropy (Bandt & Pompe 2002) of each
    event type's hourly level series: embed consecutive triples
    (v0, v1, v2), classify each by its ordinal pattern, and take the
    Shannon entropy of the pattern distribution.

    Rank encoding: rank(position p) = #{q: v_q < v_p} + #{q < p:
    v_q = v_p} — ties resolve to the EARLIER position (the standard
    stable-order convention), written as pure decimal comparisons so
    both engines classify identically. The pattern id is the base-10
    digit string r0·100 + r1·10 + r2.

    H = log2(N) − Σ c·log2(c)/N with the c·log2(c) terms quantized
    to DECIMAL before the exact sum (q_word_entropy pattern).

    Scale: one map-side-combined hourly reduce (bounded |types|×720
    rows out), two lead()s over bounded per-type slices, one bounded
    group. Nothing downstream of the first aggregate scales with
    event volume."""
    hourly = _hourly_idx(spark, sf_dir)
    w = Window.partitionBy("t").orderBy("i")
    tri = hourly.select(
        "t",
        F.col("v").alias("v0"),
        F.lead("v", 1).over(w).alias("v1"),
        F.lead("v", 2).over(w).alias("v2"),
    ).filter(F.col("v1").isNotNull() & F.col("v2").isNotNull())
    v0, v1, v2 = F.col("v0"), F.col("v1"), F.col("v2")
    b = lambda c: F.when(c, 1).otherwise(0)  # noqa: E731
    r0 = b(v1 < v0) + b(v2 < v0)
    r1 = b(v0 <= v1) + b(v2 < v1)
    r2 = b(v0 <= v2) + b(v1 <= v2)
    pat = tri.select("t", (r0 * 100 + r1 * 10 + r2).alias("pattern"))
    pc = pat.groupBy("t", "pattern").agg(F.count("*").alias("c"))
    n = F.sum("c")
    return pc.groupBy(F.col("t").alias("event_type")).agg(
        n.cast("bigint").alias("n_triples"),
        F.count("*").cast("bigint").alias("n_patterns"),
        F.round(
            F.log2(n)
            - F.sum((F.col("c") * F.log2("c")).cast("decimal(20,6)")).cast("double")
            / n,
            6,
        ).alias("perm_entropy_bits"),
    )


@query(
    "q_sample_entropy",
    oracle=f"""
    WITH ticks AS (
      SELECT t, i, CAST(v * 10000 AS BIGINT) AS v
      FROM ({_HOURLY_IDX_SQL})
    ), stat AS (
      SELECT t, CAST(COUNT(*) AS HUGEINT) AS n,
             CAST(SUM(v) AS HUGEINT) AS s1,
             SUM(CAST(v AS HUGEINT) * v) AS s2
      FROM ticks GROUP BY t
    ), thr AS (
      SELECT t, n, n * s2 - s1 * s1 AS rhs, 25 * n * n AS mul FROM stat
    ), tpl AS (
      SELECT t, i, v AS v0,
             lead(v, 1) OVER (PARTITION BY t ORDER BY i) AS v1,
             lead(v, 2) OVER (PARTITION BY t ORDER BY i) AS v2
      FROM ticks
    ), pairs AS (
      SELECT a.t,
             CASE WHEN s.mul * (CAST(greatest(abs(a.v0 - b.v0),
                                              abs(a.v1 - b.v1)) AS HUGEINT)
                                * greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1)))
                  <= s.rhs THEN 1 ELSE 0 END AS mb,
             CASE WHEN s.mul * (CAST(greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1),
                                              abs(a.v2 - b.v2)) AS HUGEINT)
                                * greatest(abs(a.v0 - b.v0), abs(a.v1 - b.v1),
                                           abs(a.v2 - b.v2)))
                  <= s.rhs THEN 1 ELSE 0 END AS ma
      FROM tpl a
      JOIN tpl b ON a.t = b.t AND a.i < b.i
      JOIN thr s ON s.t = a.t
      WHERE a.v2 IS NOT NULL AND b.v2 IS NOT NULL
    )
    SELECT t AS event_type,
           CAST(SUM(mb) AS BIGINT) AS b_matches,
           CAST(SUM(ma) AS BIGINT) AS a_matches,
           round(-ln(CAST(SUM(ma) AS DOUBLE) / SUM(mb)), 6) AS sampen
    FROM pairs GROUP BY t
    """,
)
def q_sample_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample entropy (Richman & Moorman 2000) of each event type's
    hourly level series: m = 2, Chebyshev tolerance r = 0.2·sigma.
    SampEn = −ln(A/B) where B counts template pairs matching at
    length m and A at length m+1 (both over i < j, self-matches
    excluded by construction).

    The float-threshold trap is removed by cross-multiplication in
    integer TICKS (the scale-4 decimal levels times 10⁴, exactly
    integral): the match predicate `maxdiff <= 0.2·sigma`
    (population sigma) is evaluated as `25·n²·maxdiff² <= n·S2 −
    S1²` with S1 = Σv and S2 = Σv² exact tick sums — no engine ever
    computes sigma, so no borderline pair can flip on an ulp. DuckDB
    carries the products in HUGEINT; Spark in DECIMAL staged so no
    single product's inferred precision exceeds 38 (tick² ≤ ~4e16
    → 17 digits; ×25n² ≤ 8 more; rhs ≤ ~2e22). Both template
    lengths share one pair join (A's predicate extends B's with the
    third component); templates are restricted to indices with a
    defined (m+1)-extension, the standard Richman–Moorman alignment
    that keeps A ⊆ B and SampEn >= 0.

    Scale: the pair join is quadratic in the SERIES length (≤ 720
    observed hours per type — a time-span bound), not in event
    volume; the corpus-sized work is the single hourly reduce."""
    # r16: the O(series²) integer match census runs driver-side over
    # the collected hourly ticks (the series is calendar-bounded,
    # ≤ 720 points per type; `mul·maxd² <= rhs` ⟺ `maxd² <= rhs DIV
    # mul` for integer maxd², so the numpy comparison avoids the
    # >int64 staged products the Spark/DuckDB decimals carried); the
    # −ln(A/B) composition below is unchanged Spark expressions.
    import numpy as np

    from timestream_travel_spark.tables import bounded_df

    by_t: dict[str, list[tuple[int, int]]] = {}
    for r in _hourly_idx(spark, sf_dir).collect():
        by_t.setdefault(r.t, []).append((int(r.i), int(r.v.scaleb(4))))
    rows = []
    for t in sorted(by_t):
        seq = [v for _, v in sorted(by_t[t])]
        n = len(seq)
        s1 = sum(seq)
        s2 = sum(v * v for v in seq)
        rhs = n * s2 - s1 * s1
        mul = 25 * n * n
        q = rhs // mul  # maxd² <= q ⟺ mul·maxd² <= rhs (integer maxd²)
        x = np.array(seq, dtype=np.int64)
        v0, v1, v2 = x[:-2], x[1:-1], x[2:]
        m = len(v0)
        if m < 2:
            continue  # no (i < j) template pairs → no output group
        d0 = np.abs(v0[:, None] - v0[None, :])
        d1 = np.abs(v1[:, None] - v1[None, :])
        d2 = np.abs(v2[:, None] - v2[None, :])
        iu = np.triu_indices(m, k=1)
        maxd_b = np.maximum(d0, d1)[iu]
        maxd_a = np.maximum(np.maximum(d0, d1), d2)[iu]
        big = int(max(seq) - min(seq))
        if big * big < 2**63:  # maxd² fits int64: vectorized compare
            qc = np.int64(min(q, big * big + 1))
            b_matches = int((maxd_b * maxd_b <= qc).sum())
            a_matches = int((maxd_a * maxd_a <= qc).sum())
        else:  # arbitrary-precision fallback (exact at any scale)
            b_matches = sum(1 for d in maxd_b.tolist() if d * d <= q)
            a_matches = sum(1 for d in maxd_a.tolist() if d * d <= q)
        rows.append((t, b_matches, a_matches))
    pairs = bounded_df(
        spark, rows, "event_type string, b_matches bigint, a_matches bigint"
    )
    return pairs.select(
        "event_type",
        "b_matches",
        "a_matches",
        F.round(
            -F.log(
                F.col("a_matches").cast("double") / F.col("b_matches")
            ),
            6,
        ).alias("sampen"),
    )


@query(
    "q_matrix_profile",
    oracle=f"""
    WITH ticks AS (
      SELECT t, i, CAST(v * 10000 AS BIGINT) AS v
      FROM ({_HOURLY_IDX_SQL})
    ), nmax AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM ticks GROUP BY t
    ), win AS (
      SELECT h.t, h.i,
             list_transform(
               list_sort(list({{'k': h.i, 'x': h.v}}) OVER (
                 PARTITION BY h.t ORDER BY h.i
                 ROWS BETWEEN CURRENT ROW AND {MP_W - 1} FOLLOWING)),
               s -> s.x) AS wv
      FROM ticks h
    ), full_win AS (
      SELECT w.t, w.i, w.wv
      FROM win w JOIN nmax m ON m.t = w.t
      WHERE w.i <= m.n - {MP_W} + 1
    ), pairs AS (
      SELECT a.t, a.i, b.i AS j,
             list_sum(list_transform(list_zip(a.wv, b.wv),
                 p -> (p[1] - p[2]) * (p[1] - p[2]))) AS d2
      FROM full_win a
      JOIN full_win b ON a.t = b.t AND abs(a.i - b.i) >= {MP_EXCL}
    )
    SELECT t AS event_type, i AS win_start,
           min({{'d': d2, 'j': j}})['j'] AS nn_start,
           round(sqrt(CAST(min({{'d': d2, 'j': j}})['d'] AS DOUBLE)) / 10000.0, 6)
             AS nn_dist
    FROM pairs GROUP BY t, i
    """,
)
def q_matrix_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matrix profile (Yeh et al., ICDM 2016) of each event type's
    hourly level series with subsequence length w = {MP_W}: for every
    length-w window, the index of and (non-normalized) Euclidean
    distance to its nearest neighbor at least {MP_EXCL} positions
    away (the trivial-match exclusion zone).

    Windows are materialized as integer-TICK arrays (scale-4 levels
    x 10^4, exactly integral) via a sort-by-index struct collect
    (frame-order-independent on both engines); d² is the exact
    64-bit integer sum of {MP_W} squared tick diffs — exact while the
    hourly |level| stays under ~1.5e5 (observed max 3.5e3; DuckDB's
    list_sum widens to int128 regardless), far cheaper than a
    BigDecimal fold in Spark's generated code. The argmin over
    (d², j) is an exact lexicographic struct min; the single float
    op per output row is the final sqrt (de-scaled by 10^4).

    Scale: quadratic in the series length only (≤ 697 windows/type —
    a time-span bound), after one map-side-combined hourly reduce of
    the full corpus. For series that outgrow the window join, the
    published scale path is STOMP's O(n²) → MASS's O(n log n)
    FFT-convolution distance profile computed per shard of window
    starts — same output contract, swap the pairs stage only."""
    # r16: the O(windows²) integer distance census runs driver-side
    # over the collected hourly ticks (span-bounded, ≤ 697 windows
    # per type; numpy int64 sums match Spark's bigint fold in the
    # non-overflow regime the docstring pins); the final sqrt
    # de-scale below is unchanged Spark expressions.
    import numpy as np

    from timestream_travel_spark.tables import bounded_df

    by_t: dict[str, list[tuple[int, int]]] = {}
    for r in _hourly_idx(spark, sf_dir).collect():
        by_t.setdefault(r.t, []).append((int(r.i), int(r.v.scaleb(4))))
    out = []
    for t in sorted(by_t):
        seq = np.array(
            [v for _, v in sorted(by_t[t])], dtype=np.int64
        )
        n = len(seq)
        m = n - MP_W + 1  # number of full windows
        if m < 1:
            continue
        X = np.lib.stride_tricks.sliding_window_view(seq, MP_W).astype(
            np.int64
        )
        for i in range(m):
            diffs = X - X[i]
            d2 = np.einsum("ij,ij->i", diffs, diffs)
            js = np.arange(m)
            valid = np.abs(js - i) >= MP_EXCL
            if not valid.any():
                continue  # no admissible neighbor → no output row
            dv = d2[valid]
            jv = js[valid]
            k = int(dv.argmin())  # first minimum → smallest j (tie)
            out.append((t, i + 1, int(jv[k]) + 1, int(dv[k])))
    pairs = bounded_df(
        spark,
        out,
        "event_type string, win_start bigint, j bigint, d bigint",
    )
    return pairs.select(
        "event_type",
        "win_start",
        F.col("j").alias("nn_start"),
        F.round(
            F.sqrt(F.col("d").cast("double")) / 10000.0, 6
        ).alias("nn_dist"),
    )


@query(
    "q_markov_entropy_rate",
    oracle="""
    WITH tr AS (
      SELECT lag(event_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id) AS a,
             event_type AS b
      FROM events
    ), cij AS (
      SELECT a, b, CAST(COUNT(*) AS BIGINT) AS c
      FROM tr WHERE a IS NOT NULL GROUP BY a, b
    ), ci AS (
      SELECT a, CAST(SUM(c) AS BIGINT) AS ca FROM cij GROUP BY a
    ), tot AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n,
             CAST(COUNT(*) AS BIGINT) AS n_edges,
             CAST(SUM(CAST(c * log2(c) AS DECIMAL(20,6))) AS DOUBLE) AS sij
      FROM cij
    ), rows_ AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_states,
             CAST(SUM(CAST(ca * log2(ca) AS DECIMAL(20,6))) AS DOUBLE) AS si
      FROM ci
    )
    SELECT t.n AS n_transitions, r.n_states, t.n_edges,
           round((r.si - t.sij) / t.n, 6) AS entropy_rate_bits
    FROM tot t, rows_ r
    """,
)
def q_markov_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entropy rate of the empirical event-type Markov chain (Cover
    & Thomas §4.2): each user's event stream ordered by (ts,
    event_id) yields transitions a→b; with c_ij the transition
    counts, c_i the row sums and N = Σc_ij,

        H_rate = Σ_i (c_i/N)·H(row_i)
               = [Σ_i c_i·log2(c_i) − Σ_ij c_ij·log2(c_ij)] / N

    bits per step — the plug-in estimate under the empirical state
    distribution. Both Σ·log2(·) sums quantize each term to DECIMAL
    before the exact sum (q_word_entropy pattern); the one float op
    is the final division.

    Scale: the per-user lag() shuffles on user_id (the natural
    partitioning); everything after runs on the |types|² transition
    table. No collect, no global window."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tr = ev.select(
        F.lag("event_type").over(w).alias("a"), F.col("event_type").alias("b")
    ).filter(F.col("a").isNotNull())
    cij = tr.groupBy("a", "b").agg(F.count("*").alias("c"))
    ci = cij.groupBy("a").agg(F.sum("c").alias("ca"))
    tot = cij.agg(
        F.sum("c").cast("bigint").alias("n"),
        F.count("*").cast("bigint").alias("n_edges"),
        F.sum((F.col("c") * F.log2("c")).cast("decimal(20,6)"))
        .cast("double")
        .alias("sij"),
    )
    rows_ = ci.agg(
        F.count("*").cast("bigint").alias("n_states"),
        F.sum((F.col("ca") * F.log2("ca")).cast("decimal(20,6)"))
        .cast("double")
        .alias("si"),
    )
    return tot.crossJoin(rows_).select(
        F.col("n").alias("n_transitions"),
        "n_states",
        "n_edges",
        F.round((F.col("si") - F.col("sij")) / F.col("n"), 6).alias(
            "entropy_rate_bits"
        ),
    )
