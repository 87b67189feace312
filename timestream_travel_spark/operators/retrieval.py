"""Keyword retrieval over the documents corpus: BM25 ranking.

Rounds out the text-analysis family (tf-idf top terms in llm_text8,
inverted index in llm_text6) with the scoring function an actual
search / training-data-curation stack runs: Okapi BM25 (Robertson &
Walker, SIGIR'94 — public formula). The reference's domain ships raw
SQL to a hosted engine (cmd/backup.go:240-257); document scoring is
the natural extension of its text surface at corpus scale.

100 TB shape: one corpus scan tokenizes and filters to the query
terms BEFORE the shuffle (the per-(doc,term) aggregate only carries
query-term postings, not the whole vocabulary); corpus statistics
(N, avgdl) and per-term document frequencies are broadcast-sized
one-row / |query|-row aggregates. Final top-k is a
TakeOrderedAndProject, no global sort materialization.

Hash-stability: ln() is not guaranteed identically rounded across
engines, so idf quantizes through DECIMAL(20,8) (the repo's
q_unigram_logprob rule); per-term partial scores quantize through
DECIMAL(20,8) and decimal-sum so the per-doc total is
order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached

BM25_K1 = 1.2
BM25_B = 0.75
QUERY_TERMS = ("join", "vector", "stream")
TOP_K = 20

_TERMS_SQL = "'" + "', '".join(QUERY_TERMS) + "'"

# The CTE block and the final SELECT are separate constants so
# consumers (retrieval3's RM3 oracle) can reuse the scored CTEs
# directly instead of string-slicing the finished oracle — a slice
# anchored on the final SELECT's text silently changes the spliced
# semantics if an alias in the tail is renamed.
_BM25_CTES = f"""
WITH toks AS (
  SELECT doc_id,
         list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                     x -> x <> '') AS ws
  FROM documents
), stats AS (
  SELECT COUNT(*) AS n_docs,
         CAST(SUM(len(ws)) AS DOUBLE) / COUNT(*) AS avgdl
  FROM toks
), tf AS (
  SELECT doc_id, w AS term, COUNT(*) AS tf, any_value(dl) AS dl
  FROM (SELECT doc_id, unnest(ws) AS w, len(ws) AS dl FROM toks)
  WHERE w IN ({_TERMS_SQL})
  GROUP BY doc_id, w
), df AS (
  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
), idf AS (
  SELECT term,
         CAST(ln((stats.n_docs - df + 0.5) / (df + 0.5) + 1.0)
              AS DECIMAL(20,8)) AS idf
  FROM df, stats
), scored AS (
  SELECT tf.doc_id,
         CAST(SUM(CAST(
           CAST(idf.idf AS DOUBLE)
           * (tf.tf * ({BM25_K1} + 1.0))
           / (tf.tf + {BM25_K1} * (1.0 - {BM25_B} + {BM25_B} * tf.dl / stats.avgdl))
           AS DECIMAL(20,8))) AS DOUBLE) AS score
  FROM tf JOIN idf ON tf.term = idf.term, stats
  GROUP BY tf.doc_id
)"""

_BM25_ORACLE = f"""{_BM25_CTES}
SELECT doc_id, score FROM scored
ORDER BY score DESC, doc_id
LIMIT {TOP_K}
"""


# r15 (guide §1.2 step 1 — don't recompute what a dozen plans
# share): the BM25 score table is the spine of the whole ranking/
# eval family (RRF fusion, RM3 feedback, MAP/ERR/RBP/F1/bpref/nDCG/
# PR-curve evals, RBO and Kendall ranker agreement) — before r15
# every one of those queries re-ran the corpus tokenize + postings
# aggregation. Later consumers read the persisted postings-pruned
# table (bounded by docs containing ≥1 query term). q_bm25_topk
# itself keeps the uncached from-scratch plan as the family's
# build-cost flagship.
@session_cached
def bm25_scores_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The persisted (doc_id, score) BM25 table."""
    df = bm25_scores(spark, sf_dir).persist()
    df.count()  # materialize once, eagerly
    return df


def bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, score) BM25 table for QUERY_TERMS — the scored CTE
    shared by q_bm25_topk and the RRF fusion (retrieval2.py); only
    docs containing ≥1 query term appear (postings-pruned)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.filter(
            F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
        ).alias("ws"),
    )
    stats = toks.agg(
        F.count("*").alias("n_docs"),
        (F.sum(F.size("ws")).cast("double") / F.count("*")).alias("avgdl"),
    )
    tf = (
        toks.select(
            "doc_id", F.size("ws").alias("dl"), F.explode("ws").alias("term")
        )
        .filter(F.col("term").isin(*QUERY_TERMS))
        .groupBy("doc_id", "term")
        .agg(F.count("*").alias("tf"), F.any_value("dl").alias("dl"))
    )
    df_tbl = tf.groupBy("term").agg(F.count("*").alias("df"))
    idf = df_tbl.crossJoin(F.broadcast(stats.select("n_docs"))).select(
        "term",
        F.log(
            (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
            + F.lit(1.0)
        )
        .cast("decimal(20,8)")
        .alias("idf"),
    )
    part = (
        F.col("idf").cast("double")
        * (F.col("tf") * F.lit(BM25_K1 + 1.0))
        / (
            F.col("tf")
            + F.lit(BM25_K1)
            * (F.lit(1.0 - BM25_B) + F.lit(BM25_B) * F.col("dl") / F.col("avgdl"))
        )
    ).cast("decimal(20,8)")
    scored = (
        tf.join(F.broadcast(idf), "term")
        .crossJoin(F.broadcast(stats.select("avgdl")))
        .select("doc_id", part.alias("part"))
        .groupBy("doc_id")
        .agg(F.sum("part").cast("double").alias("score"))
    )
    return scored


@query("q_bm25_topk", oracle=_BM25_ORACLE)
def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-k retrieval for a fixed keyword query.

    Plan: one documents scan → tokenize (lower + non-alnum split) →
    explode filtered to QUERY_TERMS (postings pruned before any
    shuffle) → per-(doc, term) tf agg → broadcast the |query|-row df
    table and the 1-row (N, avgdl) stats → decimal-summed per-doc
    score → top-k with doc_id tiebreak.
    """
    return (
        bm25_scores(spark, sf_dir).orderBy(F.desc("score"), "doc_id").limit(TOP_K)
    )


# ------------------------------------------------------ PMI co-occurrence

PMI_MIN_PAIRS = 20  # minimum co-occurring docs for a pair to score
PMI_TOP_K = 30
# Pair generation is restricted to the TOP_V most document-frequent
# terms (deterministic df-then-term cut) BEFORE the within-doc
# self-join — the standard collocation-mining vocabulary restriction.
# Without it a single 10k-distinct-term document contributes 50M
# candidate pairs; with it the per-doc pair fan-out is bounded by
# min(doc_vocab, V)². Applied identically in the DuckDB oracle so
# the pruning is part of the query's definition, not an
# approximation. df/n_docs statistics still come from the FULL token
# table — pruning limits which pairs are scored, not how they score.
PMI_TOP_V = 2000


_PMI_ORACLE = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, w AS term
  FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
                              x -> x <> '')) AS w
    FROM documents
  )
), n_docs AS (
  SELECT COUNT(DISTINCT doc_id) AS n FROM toks
), tc AS (
  SELECT term, COUNT(*) AS df FROM toks GROUP BY term
), topv AS (
  SELECT term FROM tc ORDER BY df DESC, term LIMIT {PMI_TOP_V}
), ptoks AS (
  SELECT t.doc_id, t.term FROM toks t JOIN topv v ON t.term = v.term
), pairs AS (
  SELECT a.term AS term_a, b.term AS term_b, COUNT(*) AS n_ab
  FROM ptoks a JOIN ptoks b ON a.doc_id = b.doc_id AND a.term < b.term
  GROUP BY a.term, b.term
  HAVING COUNT(*) >= {PMI_MIN_PAIRS}
)
SELECT p.term_a, p.term_b, p.n_ab,
       CAST(CAST(ln(CAST(p.n_ab AS DOUBLE) * n_docs.n
                    / (CAST(ta.df AS DOUBLE) * tb.df))
                 AS DECIMAL(20,8)) AS DOUBLE) AS pmi
FROM pairs p
JOIN tc ta ON p.term_a = ta.term
JOIN tc tb ON p.term_b = tb.term
CROSS JOIN n_docs
ORDER BY pmi DESC, term_a, term_b
LIMIT {PMI_TOP_K}
"""


@query("q_pmi_cooccurrence", oracle=_PMI_ORACLE)
def q_pmi_cooccurrence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top document-level token-pair PMI (pointwise mutual
    information, Church & Hanks CL'90 — public formula): which terms
    co-occur in the same documents more than independence predicts.
    The collocation/phrase-mining primitive of a corpus pipeline.

    Plan: one documents scan → per-doc DISTINCT term set → top-V
    vocabulary cut (one bounded df agg + TakeOrdered, broadcast
    semi-joined onto the token table) → within-doc self-join
    (term_a < term_b) over the PRUNED tokens → pair counts with a
    min-support HAVING → two broadcast joins against the FULL
    term-frequency table → decimal-quantized ln ratio → top-k.
    100 TB shape: the within-doc self-join is quadratic in per-doc
    distinct vocabulary, so the top-{PMI_TOP_V} restriction runs
    FIRST — per-doc pair fan-out is bounded by min(vocab, V)² and a
    pathological long document can no longer explode the pair table;
    the min-support HAVING keeps what remains sparse. The pruning is
    in the oracle too (same deterministic df-desc/term cut), so it
    is the query's definition in both engines. ln() quantizes
    through DECIMAL(20,8) (the q_unigram_logprob rule).
    """
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), "[^a-z0-9]+"), lambda x: x != ""
            )
        ).alias("term"),
    ).distinct().localCheckpoint(eager=False)
    n_docs = toks.agg(F.count_distinct("doc_id").alias("n"))
    tc = toks.groupBy("term").agg(F.count("*").alias("df"))
    topv = tc.orderBy(F.desc("df"), F.asc("term")).limit(PMI_TOP_V).select("term")
    ptoks = toks.join(F.broadcast(topv), "term", "left_semi")
    a = ptoks.alias("a")
    b = ptoks.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("a.term") < F.col("b.term")),
        )
        .groupBy(
            F.col("a.term").alias("term_a"), F.col("b.term").alias("term_b")
        )
        .agg(F.count("*").alias("n_ab"))
        .filter(F.col("n_ab") >= PMI_MIN_PAIRS)
    )
    ta = tc.select(F.col("term").alias("term_a"), F.col("df").alias("df_a"))
    tb = tc.select(F.col("term").alias("term_b"), F.col("df").alias("df_b"))
    pmi = (
        F.log(
            F.col("n_ab").cast("double")
            * F.col("n")
            / (F.col("df_a").cast("double") * F.col("df_b"))
        )
        .cast("decimal(20,8)")
        .cast("double")
    )
    return (
        pairs.join(F.broadcast(ta), "term_a")
        .join(F.broadcast(tb), "term_b")
        .crossJoin(F.broadcast(n_docs))
        .select("term_a", "term_b", "n_ab", pmi.alias("pmi"))
        .orderBy(F.desc("pmi"), "term_a", "term_b")
        .limit(PMI_TOP_K)
    )
