"""Corpus curation operators — per-source quota capping and
train/eval split-leakage measurement.

Round-6 additions to the training-data family (beyond SURVEY §2, in
the spirit of the B10-ext rows): both are standard pre-training
hygiene steps — cap over-represented sources so one crawl domain
cannot dominate the mixture, and measure n-gram leakage from the
training split into val/test before trusting an eval number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.functions.determinism import half_up
from frafka_spark.io import table
from frafka_spark.llm.dedup import _shingle_sql, _shingles
from frafka_spark.registry import query

CAP_PER_SOURCE = 15


@query(
    "q_llm_source_cap",
    oracle=f"""
    WITH ranked AS (
        SELECT doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY source
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT doc_id, source, n_chars, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {CAP_PER_SOURCE}
    """,
)
def q_llm_source_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quota: keep at most ``CAP_PER_SOURCE`` docs per
    source, chosen deterministically by id-hash order — the mixture
    rebalancing step that stops one domain dominating training data.

    Hash order (not "first N ingested") makes the kept set a uniform
    sample of the source, reproducible on any cluster, and stable
    under re-ingestion order. Exact-quota selection is a per-source
    ``row_number`` — one shuffle on source, rank, filter.

    Scale: a mega-source serializes its rank into one task. The
    scale path prunes first — keep docs with hash below
    ~cap×slack/count(source) (one cheap count aggregate), then
    exact-rank the ~cap×slack survivors. The prune is probabilistic,
    so an exact engine must fall back to the unpruned rank for any
    source whose pruned survivor count < cap (possible at small
    per-source thresholds); at fixture scale (25 docs/source) the
    direct rank IS the right plan, so the prune is documented, not
    paid.
    """
    d = table(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select(
            "doc_id",
            "source",
            "n_chars",
            F.row_number().over(w).cast("bigint").alias("rk"),
        )
        .filter(F.col("rk") <= CAP_PER_SOURCE)
    )


# Split thresholds — identical rule to q_llm_split (llm/text.py): the
# first 16 md5 bits of the id carve ~80/10/10.
_TRAIN_HI = "cccd"
_VAL_HI = "e666"

LEAK_MIN_SHARED = 5  # shared distinct shingles before a doc is flagged


@query(
    "q_llm_split_leakage",
    oracle=f"""
    WITH shingles AS ({_shingle_sql()}),
    labeled AS (
        SELECT doc_id, sh,
               CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                         < '{_TRAIN_HI}' THEN 'train'
                    WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                         < '{_VAL_HI}' THEN 'val'
                    ELSE 'test' END AS split
        FROM shingles
    ),
    train_sh AS (SELECT DISTINCT sh FROM labeled WHERE split = 'train'),
    eval_docs AS (
        SELECT doc_id, split,
               count(*) AS n_shingles,
               count(*) FILTER (WHERE sh IN (SELECT sh FROM train_sh))
                   AS n_shared
        FROM labeled WHERE split <> 'train'
        GROUP BY doc_id, split
    )
    SELECT doc_id, split,
           CAST(n_shingles AS BIGINT) AS n_shingles,
           CAST(n_shared AS BIGINT) AS n_shared,
           floor(n_shared / n_shingles * 10000.0 + 0.5) / 10000.0
               AS leak_ratio,
           (n_shared >= {LEAK_MIN_SHARED}) AS flagged
    FROM eval_docs
    """,
)
def q_llm_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit: for every val/test document, how much of
    its distinct-3-gram mass also occurs in the training split —
    the check that must pass before an eval number means anything
    (companion to ``q_llm_decontaminate``, which drops *training*
    docs contaminated by a fixed eval list; this measures the other
    direction against the declared hash split of ``q_llm_split``).

    Scale shape: the train shingle set is the BIG side (~80% of the
    corpus) — never broadcast. The match is a LEFT OUTER join against
    the DISTINCT train-shingle set (inverted-index shape, hint-free):
    distinctness keeps each eval (doc, shingle) row at multiplicity
    ≤1 no matter how many train docs contain the shingle, so
    boilerplate shingles cannot fan out (the hazard the capped-LSH op
    mitigates for pair-joins never arises), and the carried match
    marker lets ONE (doc_id, split) aggregate produce both the total
    and the shared count — one join + one grouping total (the r6
    first cut ran a separate totals aggregate, a semi join, a shared
    aggregate, and a re-join: two more exchanges for the same rows).
    """
    sh = _shingles(spark, sf_dir)
    hk = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    split = (
        F.when(hk < _TRAIN_HI, "train").when(hk < _VAL_HI, "val").otherwise("test")
    )
    labeled = sh.select("doc_id", "sh", split.alias("split"))
    eval_side = labeled.filter(F.col("split") != "train")
    train_sh = (
        labeled.filter(F.col("split") == "train")
        .select("sh")
        .distinct()
        .withColumn("m", F.lit(1))
    )
    n_shared = F.sum(F.when(F.col("m").isNotNull(), 1).otherwise(0))
    return (
        eval_side.join(train_sh, "sh", "left")
        .groupBy("doc_id", "split")
        .agg(
            F.count("*").alias("n_shingles"),
            n_shared.cast("bigint").alias("n_shared"),
            half_up(
                n_shared / F.count("*").cast("double"), 4
            ).alias("leak_ratio"),
            (n_shared >= LEAK_MIN_SHARED).alias("flagged"),
        )
    )


TRIM_LO, TRIM_HI = 0.1, 0.9


@query(
    "q_llm_length_trim",
    oracle=f"""
    WITH cuts AS (
        SELECT lang,
               quantile_cont(n_chars, {TRIM_LO}) AS lo,
               quantile_cont(n_chars, {TRIM_HI}) AS hi
        FROM documents GROUP BY lang
    )
    SELECT d.lang,
           floor(c.lo * 10000.0 + 0.5) / 10000.0 AS lo,
           floor(c.hi * 10000.0 + 0.5) / 10000.0 AS hi,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE d.n_chars < c.lo) AS BIGINT) AS n_low,
           CAST(count(*) FILTER (WHERE d.n_chars > c.hi) AS BIGINT) AS n_high,
           CAST(count(*) FILTER (
               WHERE d.n_chars >= c.lo AND d.n_chars <= c.hi
           ) AS BIGINT) AS n_kept
    FROM documents d JOIN cuts c ON d.lang = c.lang
    GROUP BY d.lang, c.lo, c.hi
    """,
)
def q_llm_length_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile length trim: compute each language's
    p10/p90 document-length cut points and report how many documents
    each tail would drop — the outlier-length filter (truncated
    boilerplate at the short end, concatenation accidents at the
    long end) applied per language because length distributions are
    language-specific.

    Exact interpolated percentiles on both engines (Spark
    ``percentile`` ≡ DuckDB ``quantile_cont``, both linear at rank
    p·(n−1)); the cut table is one row per language — broadcast by
    construction — so the classifying pass is a broadcast join +
    single conditional aggregate, no second shuffle of the corpus.
    At 100 TB swap the exact percentile for ``percentile_approx``
    (mergeable KLL-style sketch) if a language's values overflow one
    aggregation buffer; the fixture declares the exact variant so
    the oracle can hash-match.
    """
    d = table(spark, sf_dir, "documents")
    cuts = d.groupBy(F.col("lang").alias("c_lang")).agg(
        F.percentile("n_chars", F.lit(TRIM_LO)).alias("lo"),
        F.percentile("n_chars", F.lit(TRIM_HI)).alias("hi"),
    )
    return (
        d.join(F.broadcast(cuts), d["lang"] == cuts["c_lang"])
        .groupBy("lang", "lo", "hi")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            F.sum(F.when(F.col("n_chars") < F.col("lo"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_low"),
            F.sum(F.when(F.col("n_chars") > F.col("hi"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_high"),
            F.sum(
                F.when(
                    (F.col("n_chars") >= F.col("lo"))
                    & (F.col("n_chars") <= F.col("hi")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_kept"),
        )
        .select(
            "lang",
            half_up(F.col("lo"), 4).alias("lo"),
            half_up(F.col("hi"), 4).alias("hi"),
            "n_docs",
            "n_low",
            "n_high",
            "n_kept",
        )
    )


# ---------------------------------------------------------------------------
# CCNet-style perplexity bucketing: rank documents by their language-
# model score and cut the ranking into head / middle / tail terciles.
# CCNet's pipeline does exactly this with a KenLM perplexity per
# paragraph; here the in-engine bigram NLL (q_llm_doc_nll) is the
# score, which keeps the whole pass — LM training, scoring, ranking —
# inside the engine with no external model artifact.
# ---------------------------------------------------------------------------

PPL_BUCKETS = 3
_PPL_NAMES = "CASE nt WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END"


def _ppl_bucket_oracle() -> str:
    # curation imports before text in load_all(); the composed oracle
    # needs text's q_llm_doc_nll registration, so force it first
    # (no cycle: text never imports curation)
    import frafka_spark.llm.text  # noqa: F401
    from frafka_spark.registry import QUERIES

    return f"""
    WITH nll AS ({QUERIES['q_llm_doc_nll'].oracle}),
    ranked AS (
        SELECT doc_id, n_bigrams, avg_nll,
               ntile({PPL_BUCKETS}) OVER (
                   ORDER BY avg_nll ASC, doc_id ASC) AS nt
        FROM nll
    )
    SELECT doc_id, n_bigrams, avg_nll,
           CAST(nt AS INT) AS bucket,
           {_PPL_NAMES} AS bucket_name
    FROM ranked
    """


@query("q_llm_ppl_bucket", oracle=_ppl_bucket_oracle())
def q_llm_ppl_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style language-model bucketing: rank every document by
    its in-engine bigram NLL (``q_llm_doc_nll`` — lower = more
    fluent under the corpus's own LM) and cut the ranking into
    head / middle / tail terciles. CCNet trains on head+middle and
    drops (or down-weights) tail; the bucket column is the artifact
    that decision consumes.

    Exactness: the NLL is the integer-micro-unit score the composed
    key already hash-matches; the tercile cut is ``ntile`` over a
    TOTAL order (score, then doc_id) so bucket boundaries cannot
    differ between engines even on tied scores.

    Scale shape: the score is one corpus join against the bigram
    model (q_llm_doc_nll's shape); the global ranking is the one
    genuinely serial step — a single-partition sort of (score,
    doc_id) pairs, ~16 bytes/doc, fine to 10⁹ docs. A 100-TB
    pipeline that cannot afford it swaps ntile for fixed score
    thresholds learned from a sample (CCNet itself uses per-shard
    cutoffs), changing this plan only in the last projection.
    """
    from frafka_spark.registry import QUERIES

    nll = QUERIES["q_llm_doc_nll"].fn(spark, sf_dir)
    w = Window.orderBy(F.col("avg_nll").asc(), F.col("doc_id").asc())
    nt = F.ntile(PPL_BUCKETS).over(w)
    return nll.select(
        "doc_id",
        "n_bigrams",
        "avg_nll",
        nt.cast("int").alias("bucket"),
    ).withColumn(
        "bucket_name",
        F.when(F.col("bucket") == 1, "head")
        .when(F.col("bucket") == 2, "middle")
        .otherwise("tail"),
    )
