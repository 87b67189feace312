"""Keyword retrieval, part 3 — round-7 wave: pseudo-relevance
feedback and language-model ranking, the two classic companions to
BM25 (retrieval.py) and RRF fusion (retrieval2.py).

1. RM3 pseudo-relevance feedback (Lavrenko & Croft, SIGIR'01
   relevance models; the "RM3" interpolation popularized by
   Abdul-Jaleel et al., TREC'04, and the Anserini BM25+RM3
   baseline): estimate a relevance model from the top-k BM25
   feedback documents and emit the top expansion terms.
2. Dirichlet-smoothed query likelihood (Zhai & Lafferty, SIGIR'01):
   score(d) = Σ_w ln((tf + μ·P(w|C)) / (dl + μ)) — the standard LM
   ranking every IR stack ships beside BM25.

Reference parity: no retrieval surface exists in the reference
(cmd/backup.go) — north-star training-data-curation capability.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.operators.llm_text4 import STOPWORDS, _SW_SQL
from timestream_travel_spark.operators.retrieval import (
    _BM25_CTES,
    QUERY_TERMS,
    _TERMS_SQL,
    bm25_scores_cached,
)
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

FB_K = 10  # feedback depth: top-10 BM25 docs estimate the model
EXP_K = 15  # expansion terms returned

# retrieval.py exposes its CTE block as a standalone constant (the
# finished oracle is composed FROM it), so the scored CTEs are
# reused here directly — no string-slicing of the final SQL.
_RM3_ORACLE = f"""{_BM25_CTES},
fb AS (
  SELECT doc_id, score FROM scored ORDER BY score DESC, doc_id LIMIT {FB_K}
), tot AS (
  SELECT CAST(CAST(SUM(CAST(score AS DECIMAL(20,8))) AS VARCHAR) AS DOUBLE) AS t
  FROM fb
), ftf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf, any_value(dl) AS dl
  FROM (SELECT f.doc_id, unnest(t.ws) AS w, len(t.ws) AS dl
        FROM fb f JOIN toks t ON t.doc_id = f.doc_id)
  GROUP BY doc_id, w
), contrib AS (
  SELECT ftf.term,
         CAST((f.score / tot.t) * (ftf.tf * 1.0 / ftf.dl)
              AS DECIMAL(20,12)) AS c
  FROM ftf JOIN fb f ON f.doc_id = ftf.doc_id, tot
), w AS (
  SELECT term, CAST(CAST(SUM(c) AS VARCHAR) AS DOUBLE) AS weight
  FROM contrib GROUP BY term
)
SELECT term, round(weight, 8) AS rm_weight
FROM w
WHERE term NOT IN ({_TERMS_SQL}) AND NOT list_contains({_SW_SQL}, term)
ORDER BY weight DESC, term
LIMIT {EXP_K}
"""


@query("q_rm3_expansion", oracle=_RM3_ORACLE)
def q_rm3_expansion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RM3 pseudo-relevance expansion terms for the fixed keyword
    query: P(w|R) = Σ_{{d ∈ top-{FB_K}}} w_d · tf(w,d)/dl(d) with
    w_d = the doc's BM25 score normalized over the feedback set (the
    BM25-weighted RM1 variant Anserini's public BM25+RM3 baseline
    runs); original query terms and stopwords are excluded from the
    emitted expansion (the stoplist plays the role RM3's λ-
    interpolation with the original query otherwise serves — keeping
    function words from dominating the model).

    Plan: the {FB_K}-row feedback set comes from the shared
    bm25_scores plan (one corpus scan, postings pruned to the query
    terms before any shuffle) and BROADCASTS into a semi-join that
    tokenizes ONLY the feedback docs — the expansion never rescans
    the corpus. Float determinism: the score normalizer and the
    per-term weight are decimal-quantized order-independent sums
    (DECIMAL(20,8)/(20,12) — every value·10^scale ≤ 1e12, inside the
    2^53 cross-engine agreement bound)."""
    docs = load_table(spark, sf_dir, "documents")
    fb = bm25_scores_cached(spark, sf_dir).orderBy(F.desc("score"), "doc_id").limit(FB_K)
    tot = fb.agg(
        F.sum(F.col("score").cast("decimal(20,8)")).cast("double").alias("t")
    )
    ftoks = (
        docs.join(F.broadcast(fb), "doc_id")
        .select(
            "doc_id",
            "score",
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
            ).alias("ws"),
        )
        .select("doc_id", "score", F.size("ws").alias("dl"), F.explode("ws").alias("term"))
    )
    ftf = ftoks.groupBy("doc_id", "term").agg(
        F.count("*").alias("tf"),
        F.any_value("dl").alias("dl"),
        F.any_value("score").alias("score"),
    )
    contrib = ftf.crossJoin(F.broadcast(tot)).select(
        "term",
        ((F.col("score") / F.col("t")) * (F.col("tf") / F.col("dl")))
        .cast("decimal(20,12)")
        .alias("c"),
    )
    w = contrib.groupBy("term").agg(F.sum("c").cast("double").alias("weight"))
    return (
        w.filter(~F.col("term").isin(*QUERY_TERMS) & ~F.col("term").isin(*STOPWORDS))
        .orderBy(F.desc("weight"), "term")
        .select("term", F.round("weight", 8).alias("rm_weight"))
        .limit(EXP_K)
    )


QL_MU = 300.0  # Dirichlet prior mass (Zhai & Lafferty's 'typical' range)
QL_TOP_K = 20

_QL_TERMS = QUERY_TERMS  # same fixed query as BM25/RRF/RM3

# per-term oracle columns are GENERATED from _QL_TERMS (not
# hardcoded tf1..tf3), so growing QUERY_TERMS changes both engines'
# scoring in lockstep instead of the oracle silently scoring only
# the first three terms
_QL_TF_SQL = ",\n         ".join(
    f"len(list_filter(ws, x -> x = '{t}')) AS tf{i+1}"
    for i, t in enumerate(_QL_TERMS)
)
_QL_CF_SQL = ",\n         ".join(
    f"CAST(SUM(tf{i+1}) AS BIGINT) AS cf{i+1}" for i in range(len(_QL_TERMS))
)
_QL_SCORE_SQL = "\n           + ".join(
    f"ln((tf{i+1} + {QL_MU} * (cf{i+1} * 1.0 / ctot)) / (dl + {QL_MU}))"
    for i in range(len(_QL_TERMS))
)

_QL_ORACLE = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
), pd AS (
  SELECT doc_id, len(ws) AS dl,
         {_QL_TF_SQL}
  FROM toks
), coll AS (
  SELECT CAST(SUM(dl) AS BIGINT) AS ctot,
         {_QL_CF_SQL}
  FROM pd
)
SELECT doc_id,
       round({_QL_SCORE_SQL},
             8) AS ql_score
FROM pd, coll
ORDER BY ql_score DESC, doc_id
LIMIT {QL_TOP_K}
"""


@query("q_ql_dirichlet_topk", oracle=_QL_ORACLE)
def q_ql_dirichlet_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dirichlet-smoothed query-likelihood top-k: score(d) =
    Σ_w ln((tf(w,d) + μ·P(w|C)) / (dl + μ)), μ={QL_MU:.0f}. Unlike
    BM25's postings-pruned scorer this ranks EVERY document (zero-tf
    terms still contribute the smoothed background mass), so the
    per-doc term counts come from JVM-side array filters on the
    token array — |query| fixed columns, no explode, no shuffle —
    and the only exchanges are the 1-row collection-stats aggregate
    (broadcast back) and the final TakeOrdered top-k. Float
    determinism: the score is one fixed-shape expression tree (a
    3-term ordered sum, not a data-dependent aggregation), identical
    in both engines; ties after round-8 break on doc_id."""
    return (
        ql_scores(spark, sf_dir)
        .orderBy(F.desc("ql_score"), "doc_id")
        .limit(QL_TOP_K)
    )


@session_cached
def ql_scores_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, ql_score) table for the ranker-agreement
    consumers (retrieval9's RBO, retrieval10's Kendall tau).
    q_ql_dirichlet_topk keeps the uncached from-scratch plan as the
    scorer's build-cost flagship."""
    df = ql_scores(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


def ql_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, ql_score) Dirichlet query-likelihood table for
    QUERY_TERMS over EVERY document — the scored table behind
    q_ql_dirichlet_topk (round-8-quantized; callers order with the
    doc_id tiebreak). Factored out so retrieval9's rank-biased
    overlap ranks the IDENTICAL scorer."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("ws"),
    )
    def _tf(term: str):
        # single-arg lambda: a two-arg one would be called as
        # (element, index) by F.filter, clobbering the captured term
        return F.size(F.filter("ws", lambda x: x == F.lit(term)))

    tf_cols = [_tf(t).alias(f"tf{i+1}") for i, t in enumerate(_QL_TERMS)]
    pd = toks.select("doc_id", F.size("ws").alias("dl"), *tf_cols)
    coll = pd.agg(
        F.sum("dl").cast("bigint").alias("ctot"),
        *[
            F.sum(f"tf{i+1}").cast("bigint").alias(f"cf{i+1}")
            for i in range(len(_QL_TERMS))
        ],
    )
    score = None
    for i in range(len(_QL_TERMS)):
        term = F.log(
            (
                F.col(f"tf{i+1}")
                + F.lit(QL_MU) * (F.col(f"cf{i+1}") * F.lit(1.0) / F.col("ctot"))
            )
            / (F.col("dl") + F.lit(QL_MU))
        )
        score = term if score is None else score + term
    return pd.crossJoin(F.broadcast(coll)).select(
        "doc_id", F.round(score, 8).alias("ql_score")
    )
