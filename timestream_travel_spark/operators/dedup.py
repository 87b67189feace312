"""Deduplication operators (SURVEY.md §2 B.11 / north star):
exact, normalized-fingerprint, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:
- exact/fingerprint dedup is one hash-aggregate shuffle on the key;
- n-gram Jaccard pairs are *blocked* (lang, source) so the quadratic
  term is bounded per block;
- MinHash LSH replaces the all-pairs comparison with a bucket
  self-join on (band_id, band_hash): candidates only — the verify
  step recomputes true Jaccard on candidates. All of it is built-in
  expressions (F.hash / higher-order array fns), no Python per row.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.ops import let_
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table, session_cached


def normalized_text(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.regexp_replace(F.lower(F.trim(c)), r"\s+", " ")


@query(
    "q_dedup_exact",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_unique,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dups
    FROM documents GROUP BY lang
    """,
)
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate accounting per language, keyed on content hash
    (hash first so the shuffle carries 32-byte keys, not documents)."""
    d = load_table(spark, sf_dir, "documents")
    return d.select("lang", F.md5("text").alias("h")).groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.countDistinct("h").alias("n_unique"),
        (F.count("*") - F.countDistinct("h")).alias("n_dups"),
    )


@query(
    "q_dedup_representatives",
    oracle="""
    SELECT MIN(doc_id) AS doc_id
    FROM documents
    GROUP BY md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
    """,
)
def q_dedup_representatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical dedup output: keep min(doc_id) per normalized
    fingerprint — deterministic representative selection (vs
    dropDuplicates' arbitrary first-seen row, which isn't stable
    across engines or reruns)."""
    d = load_table(spark, sf_dir, "documents")
    return (
        d.select("doc_id", F.md5(normalized_text("text")).alias("fp"))
        .groupBy("fp")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )


def word_shingles(text: Column | str, k: int = 3) -> Column:
    """Distinct k-word shingles via sequence+transform — JVM-side,
    no explode needed (the array stays inside the row). The split
    word array is let_-bound so the per-shingle lambda references it
    instead of re-splitting per index (ops.let_)."""

    def body(words: Column) -> Column:
        n = F.size(words)
        idx = F.sequence(F.lit(0), F.greatest(n - k, F.lit(0)))
        shingle = lambda i: F.array_join(F.slice(words, i + 1, k), " ")  # noqa: E731
        return F.array_distinct(
            F.when(n >= k, F.transform(idx, shingle)).otherwise(
                F.array(F.array_join(words, " "))
            )
        )

    return let_(F.split(normalized_text(text), " "), body)


@query(
    "q_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id, lang, source,
             list_distinct(list_transform(
               generate_series(1, greatest(len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) - 2, 1)),
               i -> array_to_string(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM sh a JOIN sh b
      ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.1
    """,
)
def q_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate pairs by exact 3-gram Jaccard, blocked on
    (lang, source): the block join bounds candidate pairs, the
    Jaccard evaluates via array_intersect sizes, no explode."""
    d = load_table(spark, sf_dir, "documents")
    d2 = load_table(spark, sf_dir, "documents")
    a = d.select(F.col("doc_id").alias("doc_a"), "lang", "source", word_shingles("text").alias("sh_a"))
    b = d2.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lang_b"),
        F.col("source").alias("source_b"),
        word_shingles("text").alias("sh_b"),
    )
    joined = a.join(
        b,
        (a.lang == b.lang_b) & (a.source == b.source_b) & (a.doc_a < b.doc_b),
    )
    inter = F.size(F.array_intersect("sh_a", "sh_b")).cast("double")
    union = F.size("sh_a") + F.size("sh_b") - F.size(F.array_intersect("sh_a", "sh_b"))
    jac = inter / union
    return joined.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")).filter(
        (inter / union) >= 0.1
    )


# ---------------------------------------------------------------- MinHash+LSH

N_HASHES = 24
N_BANDS = 8  # rows per band r = 3; catches jaccard ≳ 0.3 with high prob


def minhash_signature(shingles: Column, n_hashes: int = N_HASHES) -> Column:
    """n_hashes-wide MinHash signature: per permutation i, min over
    shingles of murmur3(shingle, i). Seeded F.hash variants stand in
    for independent permutations — standard practice, engine-specific
    (hence rows-only oracle for anything exposing raw hash values)."""
    # Single pass over the shingle array: each shingle expands to its
    # n_hashes seeded hashes, folded with an elementwise min. The
    # shingle-construction subtree appears exactly once in the plan —
    # the naive per-seed formulation (n_hashes × array_min(transform))
    # re-evaluates shingling n_hashes times after projection collapse.
    per_shingle = F.transform(
        shingles, lambda s: F.array(*[F.hash(s, F.lit(i)) for i in range(n_hashes)])
    )
    init = F.array_repeat(F.lit(2147483647), n_hashes)
    return F.aggregate(per_shingle, init, lambda acc, h: F.zip_with(acc, h, lambda a, b: F.least(a, b)))


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """(id, sig) signature table — the REUSABLE dedup index. On a
    cluster this is written to parquet once (build_minhash_index) and
    read by every subsequent dedup/verify/bench run instead of
    re-shingling the corpus."""
    # repartition first: a single parquet split must not serialize the
    # CPU-bound signature computation onto one core.
    par = docs.sparkSession.sparkContext.defaultParallelism
    return docs.repartition(par).select(
        F.col(id_col).alias("id"), minhash_signature(word_shingles(text_col), n_hashes).alias("sig")
    )


def build_minhash_index(
    docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_HASHES,
) -> None:
    """Materialize the signature table to parquet keyed by doc id."""
    minhash_signatures(docs, id_col, text_col, n_hashes).write.mode("overwrite").parquet(path)


def minhash_candidates_from_index(
    spark: SparkSession, path: str, n_hashes: int = N_HASHES, n_bands: int = N_BANDS
) -> DataFrame:
    """Candidate pairs from a pre-built signature index — skips the
    shingle+minhash computation entirely (the expensive 40%+ of the
    flow; the bench reports the delta)."""
    return _candidates_from_sig(spark.read.parquet(path), n_hashes, n_bands)


def minhash_candidates(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_HASHES, n_bands: int = N_BANDS,
) -> DataFrame:
    """LSH banding: split the signature into bands, hash each band,
    self-join on (band, band_hash) buckets → candidate pairs.
    The join is equi-keyed on the bucket — at 100 TB this is the only
    near-dup strategy that avoids the quadratic all-pairs shuffle.

    The signature table is persisted before fan-out: without the
    materialization barrier, Catalyst's projection collapse inlines
    the whole shingle+minhash expression tree into every band hash
    and both self-join sides (~100× recompute; measured 143s→<2s at
    sf0.1). On a cluster the parquet index (build_minhash_index)
    replaces the in-memory persist."""
    sig = minhash_signatures(docs, id_col, text_col, n_hashes).persist()
    return _candidates_from_sig(sig, n_hashes, n_bands)


def _candidates_from_sig(sig: DataFrame, n_hashes: int, n_bands: int) -> DataFrame:
    r = n_hashes // n_bands
    bands = sig.select(
        "id",
        F.posexplode(
            F.array(*[F.hash(F.slice("sig", b * r + 1, r)) for b in range(n_bands)])
        ).alias("band", "bh"),
    )
    left = bands.alias("l")
    right = bands.alias("r")
    pairs = (
        left.join(
            right,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bh") == F.col("r.bh"))
            & (F.col("l.id") < F.col("r.id")),
        )
        .select(F.col("l.id").alias("doc_a"), F.col("r.id").alias("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
    )
    sig_a = sig.select(F.col("id").alias("doc_a"), F.col("sig").alias("sig_a"))
    sig_b = sig.select(F.col("id").alias("doc_b"), F.col("sig").alias("sig_b"))
    est = (
        F.size(F.filter(F.zip_with("sig_a", "sig_b", lambda x, y: x == y), lambda v: v)).cast("double")
        / F.lit(float(n_hashes))
    )
    return (
        pairs.join(sig_a, "doc_a")
        .join(sig_b, "doc_b")
        .select("doc_a", "doc_b", F.round(est, 4).alias("est_jaccard"))
    )


@query("q_minhash_lsh_candidates")
def q_minhash_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup candidate pairs with signature-estimated
    Jaccard. Rows-only oracle (murmur3 seeds are engine-specific);
    pytest verifies recall against exact Jaccard on the fixture."""
    d = load_table(spark, sf_dir, "documents")
    return q_minhash_lsh_candidates_impl(d)


def q_minhash_lsh_candidates_impl(docs: DataFrame) -> DataFrame:
    return minhash_candidates(docs)


def lsh_verified_pairs(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", threshold: float = 0.5
) -> DataFrame:
    """The 100 TB near-dup flow: LSH candidates → exact Jaccard on
    candidate pairs ONLY. No all-pairs or block self-join of the
    corpus anywhere in the plan — the only corpus-sized shuffles are
    the LSH bucket join (equi-keyed) and two id-equi joins attaching
    shingle sets to the (tiny) candidate list.

    The blocked-exact q_ngram_jaccard_pairs stays as the small-SF
    verify twin; this is the plan that survives a hot (lang, source)
    block.

    Verification cost model: the candidate list is tiny relative to
    the corpus (that's the point of LSH), so it BROADCASTS into two
    joins against the raw text and shingles are recomputed ONLY for
    matched rows — the corpus is never shuffled carrying shingle
    arrays, and full-corpus shingling happens exactly once (inside
    the signature pass)."""
    cand = minhash_candidates(docs, id_col, text_col).select("doc_a", "doc_b")
    a = docs.select(F.col(id_col).alias("doc_a"), F.col(text_col).alias("__text_a"))
    b = docs.select(F.col(id_col).alias("doc_b"), F.col(text_col).alias("__text_b"))
    joined = b.join(F.broadcast(a.join(F.broadcast(cand), "doc_a")), "doc_b")
    sh_a = word_shingles(F.col("__text_a"))
    sh_b = word_shingles(F.col("__text_b"))
    inter = F.size(F.array_intersect(sh_a, sh_b)).cast("double")
    union = F.size(sh_a) + F.size(sh_b) - F.size(F.array_intersect(sh_a, sh_b))
    jac = inter / union
    return joined.select("doc_a", "doc_b", F.round(jac, 4).alias("jaccard")).filter(
        (inter / union) >= threshold
    )


@session_cached
def lsh_verified_pairs_cached(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical verified pair list (documents table, threshold 0.5)
    — the shared INPUT of the near-dup cluster family
    (q_dedup_clusters, q_dedup_keep_best, q_dedup_representatives,
    q_cluster_medoid, q_editdist_neardups), each of which re-ran the
    whole signature → candidates → exact-verify pipeline (r16). The
    family flagship q_lsh_verified_jaccard keeps its uncached
    from-scratch plan."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_verified_pairs(d, threshold=0.5).localCheckpoint(eager=True)


@query(
    "q_lsh_verified_jaccard",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             list_distinct(list_transform(
               generate_series(1, greatest(len(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')) - 2, 1)),
               i -> array_to_string(regexp_split_to_array(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'), ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
                 / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))), 4)
             AS jaccard
    FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / (len(a.shingles) + len(b.shingles) - len(list_intersect(a.shingles, b.shingles))) >= 0.5
    """,
)
def q_lsh_verified_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs ≥ 0.5 true Jaccard, found via MinHash-LSH
    candidates and verified exactly on the candidate set. The oracle
    is the unblocked all-pairs SQL — equality holds because the
    fixture's duplicate pairs sit at j ≈ 0.97 where 8-band/3-row LSH
    recall is 1 − (1 − 0.97³)⁸ ≈ 1 − 3·10⁻⁹; no fixture pair lands in
    (0.067, 0.9) where recall could flake (measured at sf0.001/0.01)."""
    d = load_table(spark, sf_dir, "documents")
    return lsh_verified_pairs(d, threshold=0.5)


# ------------------------------------------------------------------- SimHash


def simhash64(text: Column | str, bits: int = 32) -> Column:
    """SimHash over word features: per bit b, sum ±1 votes from each
    word's murmur3 hash bit, sign → bit. Expressed with higher-order
    fns; 32-bit variant keeps the vote arrays compact."""
    words = F.array_distinct(F.split(normalized_text(text), " "))
    hashes = F.transform(words, lambda w: F.hash(w))

    def vote(b: int):
        return lambda acc, h: acc + F.when(
            F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1
        ).otherwise(-1)

    bit_votes = F.array(*[F.aggregate(hashes, F.lit(0), vote(b)) for b in range(bits)])
    # 2^b via pow (exact for b < 53); shiftleft needs a literal int,
    # which isn't available inside the lambda.
    return F.aggregate(
        F.zip_with(
            bit_votes,
            F.sequence(F.lit(0), F.lit(bits - 1)),
            lambda v, b: F.when(v > 0, F.pow(F.lit(2.0), b.cast("double")).cast("bigint")).otherwise(
                F.lit(0).cast("bigint")
            ),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, x: acc + x,
    )


@query("q_simhash_buckets")
def q_simhash_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash fingerprints + 16-bit prefix buckets (the blocking key
    for hamming-distance candidate search). Rows-only oracle."""
    d = load_table(spark, sf_dir, "documents")
    sh = d.select("doc_id", simhash64("text").alias("simhash"))
    return sh.select(
        "doc_id", "simhash", F.shiftright("simhash", 16).cast("int").alias("bucket")
    )


def update_minhash_index(
    new_docs: DataFrame, path: str, id_col: str = "doc_id", text_col: str = "text",
    n_hashes: int = N_HASHES,
) -> int:
    """Incremental index maintenance: append signatures for NEW
    documents only (ids not already indexed) — the 100 TB index is
    never rebuilt for an ingest batch. The existing index is read
    only for its id column (column pruning keeps the signature
    arrays on disk); the anti-join is batch-sized; the append is a
    parquet partition add. Returns the number of rows appended."""
    spark = new_docs.sparkSession
    existing_ids = spark.read.parquet(path).select(F.col("id").alias(id_col))
    fresh = new_docs.join(existing_ids, id_col, "left_anti")
    sigs = minhash_signatures(fresh, id_col, text_col, n_hashes).persist()
    n = sigs.count()
    if n:
        sigs.write.mode("append").parquet(path)
    sigs.unpersist()
    return n
