"""Retrieval, part 8 (round 12): the remaining standard ranked-eval
metrics over the BM25 ranking and the contamination relevance labels
— average precision / MAP@k (Buckley & Voorhees, SIGIR 2000), ERR@k
(Chapelle et al., CIKM 2009, binary grades), rank-biased precision
(Moffat & Zobel, TOIS 2008), and success@k + F1@k. Together with
retrieval6 (recall/precision/MRR) and retrieval7 (nDCG) this closes
the textbook eval-metric surface: set metrics, cascade metrics, and
graded-gain metrics all score the same deterministic ranking.

Exactness: ranks and relevant-hit ordinals are exact integers from
the deterministic DECIMAL-score order; every per-rank float term
(P@i, 0.5^j/i, p^(i−1)) quantizes to DECIMAL(24,12) before its sum
(order-independence); the RBP persistence power p^(i−1) with
p = {RBP_NUM}/{RBP_DEN} is computed as power({RBP_NUM}, i−1) /
power({RBP_DEN}, i−1) — both integer powers are exactly
representable doubles up to i = {TOP_K}, so the one IEEE division is
correctly rounded identically on both engines (a bare
power(0.75, n) is only faithfully rounded and could differ by an
ulp).

Scale shape (shared with retrieval6/7): the BM25 side is the
postings-pruned TOP_K plan; the label side is the contamination
dedup-shingle semi-join; every metric then reduces TOP_K rows × a
broadcast label set — driver-bounded regardless of corpus size.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.llm_text6 import (
    BENCH_MOD,
    _shingles,
    doc_words,
)
from timestream_travel_spark.operators.retrieval import (
    _BM25_CTES,
    TOP_K,
    bm25_scores_cached,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

# RBP persistence p = 3/4, kept as an integer ratio (see module
# docstring): 3^19 ≈ 1.16e9 and 4^19 ≈ 2.7e11 are both exact doubles.
RBP_NUM = 3
RBP_DEN = 4

# ranked top-k + binary relevance labels + relevant-hit ordinals —
# the shared spine of all four metrics (mirrors retrieval6's CTEs;
# `hit` adds the within-ranking ordinal j of each relevant hit).
_EVAL_CTES = f"""{_BM25_CTES},
    ranked AS (
      SELECT doc_id,
             row_number() OVER (ORDER BY score DESC, doc_id) AS rnk
      FROM scored ORDER BY score DESC, doc_id LIMIT {TOP_K}
    ), w AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(text), '\\s+'),
                         x -> x <> '') AS ws
      FROM documents
    ), sh AS (
      SELECT doc_id,
             unnest(list_transform(range(1, len(ws) - 3),
                                   i -> array_to_string(ws[i:i+4], ' '))) AS s
      FROM w WHERE len(ws) >= 5
    ), bench AS (SELECT DISTINCT s FROM sh WHERE doc_id % {BENCH_MOD} = 0),
    relevant AS (
      SELECT DISTINCT t.doc_id
      FROM sh t JOIN bench b ON t.s = b.s
      WHERE t.doc_id % {BENCH_MOD} <> 0
    ), nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_rel FROM relevant),
    hit AS (
      SELECT r.rnk, row_number() OVER (ORDER BY r.rnk) AS j
      FROM ranked r JOIN relevant v ON v.doc_id = r.doc_id
    )"""


def _relevant_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The binary relevance label set: distinct non-benchmark doc_ids
    sharing ≥1 word-5-gram with the benchmark slice (the
    q_contamination_ngrams candidate census reduced to a set)."""
    d = load_table(spark, sf_dir, "documents")
    d = d.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    sh = d.select("doc_id", F.explode(_shingles(doc_words("text"))).alias("s"))
    bench = sh.filter(F.col("doc_id") % BENCH_MOD == 0).select("s").distinct()
    return (
        sh.filter(F.col("doc_id") % BENCH_MOD != 0)
        .join(bench, "s", "left_semi")
        .select("doc_id")
        .distinct()
    )


@session_cached
def relevant_docs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted relevance label set — r15: the corpus shingle
    explode + distinct semi-join behind it was re-run by every eval
    metric (recall/MRR, MAP, ERR, RBP, success/F1, bpref, nDCG's
    binary cousin), ~6 registered queries × 2 corpus passes each. The
    label set is the eval family's fixed INPUT (qrels), bounded by
    the benchmark's reach."""
    df = _relevant_docs(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


def _hits(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, DataFrame]:
    """(hit, nrel): relevant hits in the top-{TOP_K} with their rank
    `rnk` and relevant-hit ordinal `j`, plus the 1-row total-relevant
    count — the Spark mirror of _EVAL_CTES. Both spines (the BM25
    score table and the relevance label set) come from the session
    caches; per-metric work is then rank/ordinal windows over ≤TOP_K
    rows."""
    w = Window.orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = (
        bm25_scores_cached(spark, sf_dir)
        .orderBy(F.desc("score"), "doc_id")
        .limit(TOP_K)
        .withColumn("rnk", F.row_number().over(w))
        .select("doc_id", "rnk")
    )
    relevant = relevant_docs_cached(spark, sf_dir)
    nrel = relevant.agg(F.count(F.lit(1)).cast("bigint").alias("n_rel"))
    hit = (
        ranked.join(F.broadcast(relevant), "doc_id")
        .withColumn("j", F.row_number().over(Window.orderBy("rnk")))
        .select("rnk", "j")
    )
    return hit, nrel


@query(
    "q_retrieval_map",
    oracle=f"""{_EVAL_CTES},
    ap AS (
      SELECT CAST(CAST(SUM(CAST(
               CAST(j AS DOUBLE) / rnk AS DECIMAL(24,12))) AS VARCHAR)
             AS DOUBLE) AS sum_prec,
             CAST(COUNT(*) AS BIGINT) AS n_hits
      FROM hit
    )
    SELECT CAST({TOP_K} AS INT) AS k, nrel.n_rel AS n_relevant,
           ap.n_hits,
           round(COALESCE(ap.sum_prec, 0.0)
                 / least(nrel.n_rel, {TOP_K}), 6) AS ap_at_k
    FROM nrel CROSS JOIN ap
    """,
)
def q_retrieval_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Average precision at {TOP_K}: AP = Σ_(relevant hits) P@rank /
    min(n_rel, k), where P@rank of the j-th relevant hit is exactly
    j/rank. Each precision term quantizes to DECIMAL(24,12) before
    the sum; one flat division. (With a single query this IS MAP.)"""
    hit, nrel = _hits(spark, sf_dir)
    ap = hit.agg(
        F.sum(
            (F.col("j").cast("double") / F.col("rnk")).cast("decimal(24,12)")
        )
        .cast("double")
        .alias("sum_prec"),
        F.count(F.lit(1)).cast("bigint").alias("n_hits"),
    )
    return nrel.crossJoin(F.broadcast(ap)).select(
        F.lit(TOP_K).cast("int").alias("k"),
        F.col("n_rel").alias("n_relevant"),
        "n_hits",
        F.round(
            F.coalesce("sum_prec", F.lit(0.0))
            / F.least(F.col("n_rel"), F.lit(TOP_K)),
            6,
        ).alias("ap_at_k"),
    )


@query(
    "q_retrieval_err",
    oracle=f"""{_EVAL_CTES},
    err AS (
      SELECT CAST(CAST(SUM(CAST(
               power(0.5, j) / rnk AS DECIMAL(24,12))) AS VARCHAR)
             AS DOUBLE) AS err
      FROM hit
    )
    SELECT CAST({TOP_K} AS INT) AS k,
           round(COALESCE(err.err, 0.0), 6) AS err_at_k
    FROM err
    """,
)
def q_retrieval_err(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Expected reciprocal rank at {TOP_K} with binary grades
    (R = 1/2 for relevant): the cascade product Π(1−R) over earlier
    relevant hits collapses to 0.5^(j−1), so the j-th relevant hit
    at rank i contributes 0.5^j / i. Powers of two are exact doubles;
    terms quantize to DECIMAL(24,12) before the sum."""
    hit, _ = _hits(spark, sf_dir)
    err = hit.agg(
        F.sum(
            (F.pow(F.lit(0.5), F.col("j")) / F.col("rnk")).cast(
                "decimal(24,12)"
            )
        )
        .cast("double")
        .alias("err")
    )
    return err.select(
        F.lit(TOP_K).cast("int").alias("k"),
        F.round(F.coalesce("err", F.lit(0.0)), 6).alias("err_at_k"),
    )


@query(
    "q_retrieval_rbp",
    oracle=f"""{_EVAL_CTES},
    rbp AS (
      SELECT CAST(CAST(SUM(CAST(
               power({RBP_NUM}, rnk - 1) / power({RBP_DEN}, rnk - 1)
               AS DECIMAL(24,12))) AS VARCHAR) AS DOUBLE) AS sum_p
      FROM hit
    )
    SELECT CAST({TOP_K} AS INT) AS k,
           {RBP_NUM}.0 / {RBP_DEN} AS persistence,
           round((1.0 - {RBP_NUM}.0 / {RBP_DEN})
                 * COALESCE(rbp.sum_p, 0.0), 6) AS rbp
    FROM rbp
    """,
)
def q_retrieval_rbp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased precision with persistence p = {RBP_NUM}/{RBP_DEN}:
    RBP = (1−p) Σ_(relevant hits) p^(rank−1). The power is evaluated
    as the ratio of two exactly-representable integer powers (module
    docstring) so both engines divide the same doubles; terms
    quantize to DECIMAL(24,12) before the sum."""
    hit, _ = _hits(spark, sf_dir)
    p_term = (
        F.pow(F.lit(RBP_NUM), F.col("rnk") - 1)
        / F.pow(F.lit(RBP_DEN), F.col("rnk") - 1)
    ).cast("decimal(24,12)")
    rbp = hit.agg(F.sum(p_term).cast("double").alias("sum_p"))
    return rbp.select(
        F.lit(TOP_K).cast("int").alias("k"),
        (F.lit(float(RBP_NUM)) / F.lit(RBP_DEN)).alias("persistence"),
        F.round(
            (F.lit(1.0) - F.lit(float(RBP_NUM)) / F.lit(RBP_DEN))
            * F.coalesce("sum_p", F.lit(0.0)),
            6,
        ).alias("rbp"),
    )


@query(
    "q_retrieval_success_f1",
    oracle=f"""{_EVAL_CTES},
    hits AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_hits FROM hit)
    SELECT CAST({TOP_K} AS INT) AS k, nrel.n_rel AS n_relevant,
           hits.n_hits,
           CAST(CASE WHEN hits.n_hits > 0 THEN 1 ELSE 0 END AS INT)
             AS success_at_k,
           round(CASE WHEN hits.n_hits = 0 THEN 0.0
                 ELSE 2.0 * hits.n_hits
                      / ({TOP_K} + nrel.n_rel) END, 6) AS f1_at_k
    FROM nrel CROSS JOIN hits
    """,
)
def q_retrieval_success_f1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """success@{TOP_K} (did ANY relevant doc land in the top-k) and
    F1@{TOP_K}. F1 = 2PR/(P+R) simplifies to 2·hits/(k + n_rel) —
    pure integer arithmetic until one flat division."""
    hit, nrel = _hits(spark, sf_dir)
    hits = hit.agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    return nrel.crossJoin(F.broadcast(hits)).select(
        F.lit(TOP_K).cast("int").alias("k"),
        F.col("n_rel").alias("n_relevant"),
        "n_hits",
        F.when(F.col("n_hits") > 0, 1).otherwise(0).cast("int").alias(
            "success_at_k"
        ),
        F.round(
            F.when(F.col("n_hits") == 0, F.lit(0.0)).otherwise(
                F.lit(2.0)
                * F.col("n_hits")
                / (F.lit(TOP_K) + F.col("n_rel"))
            ),
            6,
        ).alias("f1_at_k"),
    )
