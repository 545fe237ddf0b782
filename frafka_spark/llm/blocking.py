"""Phonetic-key blocking — the classic entity-resolution candidate
generator, completing the dedup family's blocking spectrum:

    minhash-LSH (set overlap) · simhash (bit proximity) ·
    fuzzy prefix join (character n-grams) · PHONETIC KEY (sound)

A simplified Soundex-class consonant skeleton (vowels/h/w/y dropped,
consonants mapped to the six Soundex classes, runs collapsed) buckets
words that *sound* alike; only same-bucket pairs pay an edit-distance
verification. Both engines compute the key with the SAME regex chain
(RE2-safe: run-collapse via ``d+ → d`` per digit, no backreferences)
and both have a built-in ``levenshtein``, so the whole relation is
hash-checked exactly — no float anywhere.

Classic Soundex differs in two documented ways: it preserves the
first LETTER unconverted and collapses same-class consonants across
a dropped h/w; this skeleton converts every consonant and collapses
only adjacent runs — simpler, deterministic, and identical on both
engines, which is what a blocking key needs (recall comes from the
verify step, not key fidelity).
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up, sql_half_up
from frafka_spark.io import table
from frafka_spark.registry import query

# (pattern, replacement) chain: drop silents, map Soundex classes,
# collapse runs. Applied left-to-right on BOTH engines.
_PHONETIC_STEPS = (
    ("[aeiouhwy]", ""),
    ("[bfpv]", "1"),
    ("[cgjkqsxz]", "2"),
    ("[dt]", "3"),
    ("l", "4"),
    ("[mn]", "5"),
    ("r", "6"),
    ("1+", "1"),
    ("2+", "2"),
    ("3+", "3"),
    ("4+", "4"),
    ("5+", "5"),
    ("6+", "6"),
)

BLOCK_CAP = 256  # max words per phonetic block before pairing
MATCH_MAX_LEV = 2


def phonetic_key(col: Column) -> Column:
    """Consonant-class skeleton of a lowercase word (Spark side)."""
    return reduce(
        lambda c, step: F.regexp_replace(c, step[0], step[1]),
        _PHONETIC_STEPS,
        col,
    )


def _sql_phonetic_key(expr: str) -> str:
    """Identical chain in DuckDB SQL ('g' = replace-all, RE2 engine)."""
    out = expr
    for pat, rep in _PHONETIC_STEPS:
        out = f"regexp_replace({out}, '{pat}', '{rep}', 'g')"
    return out


@query(
    "q_llm_phonetic_block",
    oracle=f"""
    WITH vocab AS (
        SELECT DISTINCT w FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS w
            FROM documents
            UNION ALL
            SELECT unnest(string_split(lower(p_name), ' ')) FROM part
        ) WHERE length(w) > 0
    ),
    keyed AS (
        SELECT w, {_sql_phonetic_key('w')} AS pkey FROM vocab
    ),
    capped AS (
        SELECT w, pkey FROM (
            SELECT w, pkey,
                   row_number() OVER (PARTITION BY pkey ORDER BY w ASC)
                       AS rn
            FROM keyed
        ) WHERE rn <= {BLOCK_CAP}
    )
    SELECT a.pkey, a.w AS w1, b.w AS w2,
           CAST(levenshtein(a.w, b.w) AS INT) AS lev,
           (levenshtein(a.w, b.w) <= {MATCH_MAX_LEV}) AS is_match
    FROM capped a JOIN capped b ON a.pkey = b.pkey AND a.w < b.w
    """,
)
def q_llm_phonetic_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phonetic blocking join over the corpus vocabulary (documents
    words ∪ part-name words): words sharing a consonant-class skeleton
    become candidate pairs; ``levenshtein ≤ 2`` is the verify step
    that separates true fuzzy matches (red/rod, blue/value) from
    same-sounding non-matches. Emitting candidates WITH their verdict
    (not just survivors) makes the blocking quality itself auditable —
    candidates ≪ all-pairs is the entire point of blocking.

    Scale shape: the corpus collapses to its DISTINCT vocabulary
    first (partial-agg; vocabulary grows ~Heaps-law sublinearly, not
    with corpus size), the key is one chain of constant regex maps,
    and pairing happens only INSIDE key blocks via an equi-join on
    pkey — never all-pairs. Pathological blocks (phonetics is lossy:
    every vowel-only word keys to '') are rank-capped at
    {BLOCK_CAP} words (alphabetical, the near_capped discipline), so
    per-block fan-out is bounded by a code constant at any scale.
    """
    docs = table(spark, sf_dir, "documents").select(
        F.explode(F.split(F.lower("text"), " ")).alias("w")
    )
    parts = table(spark, sf_dir, "part").select(
        F.explode(F.split(F.lower("p_name"), " ")).alias("w")
    )
    vocab = (
        docs.unionAll(parts).filter(F.length("w") > 0).distinct()
    )
    keyed = vocab.select("w", phonetic_key(F.col("w")).alias("pkey"))
    from pyspark.sql import Window

    w_blk = Window.partitionBy("pkey").orderBy(F.asc("w"))
    capped = (
        keyed.withColumn("rn", F.row_number().over(w_blk))
        .filter(F.col("rn") <= BLOCK_CAP)
        .select("w", "pkey")
    )
    a = capped.select(F.col("pkey"), F.col("w").alias("w1"))
    b = capped.select(F.col("pkey").alias("pkey_b"), F.col("w").alias("w2"))
    lev = F.levenshtein("w1", "w2")
    return (
        a.join(
            b,
            (F.col("pkey") == F.col("pkey_b")) & (F.col("w1") < F.col("w2")),
        )
        .select(
            "pkey",
            "w1",
            "w2",
            lev.cast("int").alias("lev"),
            (lev <= MATCH_MAX_LEV).alias("is_match"),
        )
    )


SPARSE_DF_DEN = 5  # prune words present in more than 1/DEN of the corpus
SPARSE_COS_MIN = 0.5  # emitted-pair cosine floor


def _sparse_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, word, tf) pruned posting lists — CACHED, session-shared.

    Three consumers inside ``q_llm_sparse_cosine`` alone (norms + both
    self-join sides), and repeated suite runs re-invoke the query
    constructor — building the cached relation through
    ``session_artifact`` means ONE InMemoryRelation per (session,
    sf_dir), never leaked per-invocation (a raw ``.cache()`` here
    accumulated a fresh cache entry per construction across the
    300-query suite)."""
    return session_artifact(
        spark,
        sf_dir,
        "sparse_postings",
        lambda: _sparse_postings_plan(spark, sf_dir),
    )


def _sparse_postings_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = table(spark, sf_dir, "documents")
    words = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("word")
    )
    tf = words.groupBy("doc_id", "word").agg(
        F.count("*").cast("bigint").alias("tf")
    )
    dfreq = tf.groupBy("word").agg(
        F.count("*").cast("bigint").alias("df")
    )
    nn = docs.agg(F.count("*").cast("bigint").alias("n_docs"))
    return (
        tf.join(dfreq, "word")
        .crossJoin(F.broadcast(nn))
        .filter(F.col("df") * SPARSE_DF_DEN <= F.col("n_docs"))
        .select("doc_id", "word", "tf")
        .cache()
    )


@query(
    "q_llm_sparse_cosine",
    oracle=f"""
    WITH tf AS (
        SELECT doc_id, word, CAST(count(*) AS BIGINT) AS tf
        FROM (
            SELECT doc_id, unnest(string_split(text, ' ')) AS word
            FROM documents
        )
        GROUP BY doc_id, word
    ),
    dfreq AS (
        SELECT word, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY word
    ),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents),
    kept AS MATERIALIZED (
        SELECT t.doc_id, t.word, t.tf
        FROM tf t JOIN dfreq f ON f.word = t.word
        CROSS JOIN nn
        WHERE f.df * {{DF_DEN}} <= nn.n_docs
    ),
    norms AS MATERIALIZED (
        SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
        FROM kept GROUP BY doc_id
    ),
    dots AS (
        SELECT a.doc_id AS doc1, b.doc_id AS doc2,
               CAST(sum(a.tf * b.tf) AS BIGINT) AS dot
        FROM kept a
        JOIN kept b ON b.word = a.word AND a.doc_id < b.doc_id
        GROUP BY doc1, doc2
    )
    SELECT d.doc1, d.doc2, d.dot,
           {{COS}} AS cosine
    FROM dots d
    JOIN norms na ON na.doc_id = d.doc1
    JOIN norms nb ON nb.doc_id = d.doc2
    WHERE CAST(d.dot AS DOUBLE)
              / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) >= {{COS_MIN}}
    """.replace("{DF_DEN}", str(SPARSE_DF_DEN))
    .replace("{COS_MIN}", str(SPARSE_COS_MIN))
    .replace(
        "{COS}",
        sql_half_up(
            "CAST(d.dot AS DOUBLE) / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2)", 6
        ),
    ),
)
def q_llm_sparse_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT sparse cosine similarity over token-count vectors via an
    inverted-index join — the deterministic member of the near-dup
    spectrum (MinHash estimates Jaccard, SimHash estimates angle;
    this computes the angle exactly on the df-capped vocabulary).
    Candidate pairs materialize only through shared posting lists:
    dot(a,b) = Σ_word tf_a·tf_b aggregated from per-word partial
    products, norms from one per-doc pass, and pairs below the
    cosine floor are never emitted.

    The df cap is the candidate-budget knob (the
    ``q_llm_dedup_near_capped`` stop-shingle discipline applied to
    posting lists), and it is CORPUS-RELATIVE: a word present in
    more than 1/{DEN} of all documents is boilerplate for similarity
    purposes and would contribute a df² pair fan-out — pruning it
    bounds the join while leaving discriminative terms untouched at
    every corpus size (a fixed absolute cap pruned the whole vocab
    at 10× scale — tri-scale testing caught it). The comparison is
    pure integer arithmetic (``df·DEN ≤ n_docs``) against a 1-row
    corpus count, identical on both engines. Cosine is over the
    PRUNED vector space on both sides of the differential, so the
    check is exact, not approximate.

    Exactness: tf, df, dot products, and squared norms are integers
    end-to-end; the cosine is ONE double chain
    ``dot / sqrt(double(n2_a) · n2_b)`` (IEEE sqrt is correctly
    rounded — bit-identical cross-engine), displayed through the
    pinned half-up; the floor compares the unrounded chain.

    Scale shape: two hash aggregates (tf, df), one equi-join to
    prune, one posting-list self-join keyed on word whose fan-out
    the cap bounds, then a pair-keyed partial aggregate. No
    broadcast hints anywhere — every relation is O(corpus) and the
    join keys carry the distribution (plan-asserted hint-free, the
    dedup_near discipline).
    """
    kept = _sparse_postings(spark, sf_dir)
    norms = kept.groupBy("doc_id").agg(
        F.sum(F.col("tf") * F.col("tf")).cast("bigint").alias("n2")
    )
    a = kept.select(
        "word", F.col("doc_id").alias("doc1"), F.col("tf").alias("tf1")
    )
    b = kept.select(
        "word", F.col("doc_id").alias("doc2"), F.col("tf").alias("tf2")
    )
    dots = (
        a.join(b, "word")
        .filter(F.col("doc1") < F.col("doc2"))
        .groupBy("doc1", "doc2")
        .agg(F.sum(F.col("tf1") * F.col("tf2")).cast("bigint").alias("dot"))
    )
    cos = F.col("dot").cast("double") / F.sqrt(
        F.col("na").cast("double") * F.col("nb")
    )
    return (
        dots.join(norms.select(F.col("doc_id").alias("doc1"),
                               F.col("n2").alias("na")), "doc1")
        .join(norms.select(F.col("doc_id").alias("doc2"),
                           F.col("n2").alias("nb")), "doc2")
        .filter(cos >= F.lit(SPARSE_COS_MIN))
        .select("doc1", "doc2", "dot", half_up(cos, 6).alias("cosine"))
    )
