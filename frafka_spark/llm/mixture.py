"""Training-mixture operators — temperature-scaled source sampling
weights and top-K vocabulary coverage (OOV rate).

Round-6 additions to the training-data family (beyond SURVEY §2, in
the spirit of the B10-ext rows). Both are standard pre-training
curation steps:

- **Mixture weights**: given per-source corpus sizes, compute the
  sampling weight each source gets under temperature scaling
  ``w_s ∝ n_s^α`` (α < 1 up-weights small sources — the multilingual
  /multi-domain rebalancing rule used by every major pre-training
  recipe), plus the effective number of epochs each source runs at a
  fixed token budget — the number that warns "this source will repeat
  40× before the budget is spent".
- **Vocabulary coverage**: build the top-K vocabulary by global word
  frequency and report each document's out-of-vocabulary token rate —
  the quick tokenizer-fit / domain-shift diagnostic run before
  committing to a vocab.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.functions.determinism import half_up
from frafka_spark.io import table
from frafka_spark.registry import query

MIX_ALPHA = 0.5  # temperature exponent: w ∝ n^α
TOKEN_BUDGET = 1_000_000  # chars, the token proxy used repo-wide
VOCAB_K = 500  # vocabulary size for the coverage report


@query(
    "q_llm_mixture_weights",
    oracle=f"""
    WITH per_source AS (
        SELECT source,
               count(*) AS n_docs,
               sum(n_chars) AS n_chars
        FROM documents GROUP BY source
    ),
    tot AS (
        SELECT sum(pow(n_docs, {MIX_ALPHA})) AS z,
               sum(n_docs) AS total_docs
        FROM per_source
    )
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(n_chars AS BIGINT) AS n_chars,
           floor(CAST(n_docs AS DOUBLE) / total_docs * 10000.0 + 0.5)
               / 10000.0 AS natural_share,
           floor(pow(n_docs, {MIX_ALPHA}) / z * 10000.0 + 0.5) / 10000.0
               AS mix_weight,
           floor(pow(n_docs, {MIX_ALPHA}) / z * {TOKEN_BUDGET} / n_chars
                 * 10000.0 + 0.5) / 10000.0 AS effective_epochs
    FROM per_source, tot
    """,
)
def q_llm_mixture_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source sampling weights: ``w_s ∝ n_s^0.5``
    normalized over sources, vs each source's natural share, plus the
    effective epochs the source runs when ``TOKEN_BUDGET`` chars are
    drawn under the mixture (epochs = w·B / chars_s — >1 means the
    source repeats before the budget is spent).

    Scale shape: one hash aggregate collapses the corpus to one row
    per source (map-side partials make the shuffle ∝ sources ×
    partitions), then the normalizer is a 1-row aggregate cross-joined
    back — the broadcast-of-a-scalar idiom used across this repo; no
    second pass over the data. Determinism: counts are exact longs;
    ``pow``/division are double ops on identical inputs in identical
    order on both engines, and the one order-sensitive term (the sum
    of ``n^α`` over sources) feeds only 4-decimal-rounded outputs with
    ~1e-15 relative accumulation skew — far inside the rounding slack.
    """
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("n_chars"),
    )
    tot = per_source.agg(
        F.sum(F.pow("n_docs", F.lit(MIX_ALPHA))).alias("z"),
        F.sum("n_docs").alias("total_docs"),
    )
    raw_w = F.pow("n_docs", F.lit(MIX_ALPHA)) / F.col("z")
    return per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        "n_docs",
        "n_chars",
        half_up(
            F.col("n_docs").cast("double") / F.col("total_docs"), 4
        ).alias("natural_share"),
        half_up(raw_w, 4).alias("mix_weight"),
        half_up(raw_w * TOKEN_BUDGET / F.col("n_chars"), 4).alias(
            "effective_epochs"
        ),
    )


@query(
    "q_llm_vocab_coverage",
    oracle=f"""
    WITH words AS (
        SELECT doc_id, lang, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    vocab AS (
        SELECT word FROM (
            SELECT word, count(*) AS cnt FROM words GROUP BY word
        ) ORDER BY cnt DESC, word LIMIT {VOCAB_K}
    )
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(count(*) FILTER (
               WHERE word NOT IN (SELECT word FROM vocab)
           ) AS BIGINT) AS n_oov,
           floor(CAST(count(*) FILTER (
               WHERE word NOT IN (SELECT word FROM vocab)
           ) AS DOUBLE) / count(*) * 10000.0 + 0.5) / 10000.0 AS oov_ratio
    FROM words
    GROUP BY lang
    """,
)
def q_llm_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-``VOCAB_K`` vocabulary coverage: build the vocab by global
    word frequency (ties broken lexicographically so the cut is
    deterministic), then report per-language token counts and
    out-of-vocabulary rates — the tokenizer-fit / domain-shift
    diagnostic run before freezing a vocab.

    Scale shape: the vocab build rides the REPO-WIDE CACHED word
    projection (``dedup._words`` — the same materialized token table
    tfidf/heavy-hitters consume, so at suite level this pass is
    already paid for): a word hash-aggregate (map-side partials
    bound the shuffle by distinct words, not tokens) followed by
    ``orderBy().limit(K)`` — Catalyst plans TakeOrderedAndProject,
    a per-partition top-K + driver merge of K-row heaps, never a
    global sort. The scoring side explodes the corpus ONCE with its
    lang column and joins the broadcast K-row vocab into one (lang)
    aggregate — so the corpus pays a single token pass here, not the
    two an inline vocab subtree would cost. For web-scale vocabs
    where even distinct words overflow a single aggregate, swap the
    exact count for ``q_llm_heavy_hitters``'s count-min summary —
    same downstream join.
    """
    from frafka_spark.llm.dedup import _words

    d = table(spark, sf_dir, "documents")
    words = d.select(
        "doc_id", "lang", F.explode(F.split("text", " ")).alias("word")
    )
    vocab = (
        _words(spark, sf_dir)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("word"))
        .limit(VOCAB_K)
        .select("word")
    )
    flagged = words.join(
        F.broadcast(vocab.withColumn("in_vocab", F.lit(1))), "word", "left"
    )
    n_oov = F.sum(F.when(F.col("in_vocab").isNull(), 1).otherwise(0))
    return flagged.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_tokens"),
        n_oov.cast("bigint").alias("n_oov"),
        half_up(n_oov.cast("double") / F.count("*"), 4).alias("oov_ratio"),
    )


@query(
    "q_llm_fertility",
    oracle=f"""
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_words,
           CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
                AS BIGINT) AS n_tokens_bpe,
           floor(CAST(sum(len(regexp_extract_all(text,
                         '[a-z]+|[0-9]+|[^a-z0-9 ]'))) AS DOUBLE)
                 / sum(len(string_split(text, ' ')))
                 * 10000.0 + 0.5) / 10000.0 AS fertility
    FROM documents
    GROUP BY lang
    """,
)
def q_llm_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish tokens per whitespace
    word — the metric that decides whether a tokenizer is fair to a
    language (fertility ≫ 1 means the language pays more compute per
    word; the standard multilingual-tokenizer audit, aggregated from
    the same per-doc counters ``q_llm_text_stats`` reports).

    Pure projection + one langs-sized hash aggregate (map-side
    partials); both counts are integers, so the ratio is the same
    double on both engines before the one rounding.
    """
    from frafka_spark.llm.text import BPE_RE

    d = table(spark, sf_dir, "documents")
    n_words = F.sum(F.size(F.split("text", " ")))
    n_bpe = F.sum(F.size(F.regexp_extract_all("text", F.lit(BPE_RE), 0)))
    return d.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        n_words.cast("bigint").alias("n_words"),
        n_bpe.cast("bigint").alias("n_tokens_bpe"),
        half_up(n_bpe.cast("double") / n_words, 4).alias("fertility"),
    )


@query(
    "q_llm_resample_mix",
    oracle=f"""
    WITH per_source AS (
        SELECT source, count(*) AS n_docs, sum(n_chars) AS n_chars
        FROM documents GROUP BY source
    ),
    tot AS (SELECT sum(pow(n_docs, {MIX_ALPHA})) AS z FROM per_source),
    rates AS (
        SELECT source,
               least(1.0, pow(n_docs, {MIX_ALPHA}) / z * {TOKEN_BUDGET}
                          / n_chars) AS rate
        FROM per_source, tot
    ),
    kept AS (
        SELECT d.doc_id, d.source, d.n_chars, r.rate
        FROM documents d JOIN rates r ON d.source = r.source
        WHERE CAST(('0x' || substring(md5(CAST(d.doc_id AS VARCHAR)), 1, 4))
                   AS BIGINT) < CAST(floor(r.rate * 65536) AS BIGINT)
    )
    SELECT source,
           floor(rate * 10000.0 + 0.5) / 10000.0 AS rate,
           CAST(count(*) AS BIGINT) AS n_kept,
           CAST(sum(n_chars) AS BIGINT) AS chars_kept
    FROM kept GROUP BY source, rate
    """,
)
def q_llm_resample_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize the temperature mixture: sample each source at the
    rate its ``q_llm_mixture_weights`` share implies for the token
    budget (``rate = min(1, w·B / chars)``), using content-
    independent 16-bit hash acceptance — the step that turns the
    mixture *report* into an actual training corpus draw,
    reproducible on any engine, run, or cluster, and stable under
    corpus growth (a doc's accept/reject never changes when other
    docs arrive). Sources whose rate clamps at 1.0 need repetition
    (epochs > 1) to honor the mixture — that diagnostic is
    ``q_llm_mixture_weights.effective_epochs``.

    Scale shape: the rate table is one row per source (broadcast by
    construction); acceptance is a pushdown-friendly projection
    filter; one langs…err sources-sized aggregate summarizes. The
    corpus never shuffles.
    """
    d = table(spark, sf_dir, "documents")
    per_source = d.groupBy("source").agg(
        F.count("*").alias("n_docs"), F.sum("n_chars").alias("n_chars")
    )
    tot = per_source.agg(F.sum(F.pow("n_docs", F.lit(MIX_ALPHA))).alias("z"))
    rates = per_source.crossJoin(F.broadcast(tot)).select(
        "source",
        F.least(
            F.lit(1.0),
            F.pow("n_docs", F.lit(MIX_ALPHA))
            / F.col("z")
            * TOKEN_BUDGET
            / F.col("n_chars"),
        ).alias("rate"),
    )
    hk = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string").cast("binary")), 1, 4),
        16,
        10,
    ).cast("bigint")
    return (
        d.join(F.broadcast(rates), "source")
        .filter(hk < F.floor(F.col("rate") * 65536).cast("bigint"))
        .groupBy("source", half_up(F.col("rate"), 4).alias("rate"))
        .agg(
            F.count("*").cast("bigint").alias("n_kept"),
            F.sum("n_chars").cast("bigint").alias("chars_kept"),
        )
    )


@query(
    "q_llm_source_kl",
    oracle="""
    WITH words AS (
        SELECT source, unnest(string_split(text, ' ')) AS word
        FROM documents
    ),
    per_sw AS (
        SELECT source, word, count(*) AS c
        FROM words GROUP BY source, word
    ),
    corpus AS (
        SELECT word, sum(c) AS cc FROM per_sw GROUP BY word
    ),
    tot AS (SELECT sum(cc) AS n FROM corpus),
    src_tot AS (SELECT source, sum(c) AS ns FROM per_sw GROUP BY source),
    terms AS (
        SELECT s.source, s.word,
               CAST(s.c AS DOUBLE) / st.ns AS q,
               CAST(c.cc AS DOUBLE) / t.n AS p
        FROM per_sw s
        JOIN corpus c ON c.word = s.word
        JOIN src_tot st ON st.source = s.source, tot t
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_terms,
           floor(list_reduce(
               list(q * ln(q / p) ORDER BY word), (a, b) -> a + b)
                 * 10000.0 + 0.5) / 10000.0 AS kl_nats
    FROM terms GROUP BY source
    """,
)
def q_llm_source_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source KL divergence from the corpus word distribution —
    the domain-shift number behind mixture design: a source whose
    unigram distribution diverges hard from the corpus is either a
    valuable diversity source or contamination, and either way its
    ``q_llm_mixture_weights`` row deserves a human look. (KL(Q‖P) is
    finite here by construction: every source word occurs in the
    corpus distribution.)

    Determinism by ordered-fold parity (see ``q_events_ema``): each
    source's ``q·ln(q/p)`` terms fold in lexicographic word order on
    both engines — bit-identical pre-rounding where a plain ``sum()``
    is accumulation-order-unstable. Scale shape: (source, word)
    aggregate with map-side partials; the corpus distribution joins
    back on the word hash (inverted-index discipline — P is
    corpus-sized, never broadcast-hinted); per-source fold state is
    the source's distinct-word term list (fixture-fine — at web
    scale, chunk the fold by word-hash range and sum the ≤256
    partial folds in bucket order: same determinism, bounded state).
    """
    d = table(spark, sf_dir, "documents")
    per_sw = (
        d.select("source", F.explode(F.split("text", " ")).alias("word"))
        .groupBy("source", "word")
        .agg(F.count("*").alias("c"))
    )
    corpus = per_sw.groupBy("word").agg(F.sum("c").alias("cc"))
    tot = corpus.agg(F.sum("cc").alias("n"))
    src_tot = per_sw.groupBy("source").agg(F.sum("c").alias("ns"))
    terms = (
        per_sw.join(corpus, "word")
        .join(src_tot, "source")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "word",
            (F.col("c").cast("double") / F.col("ns")).alias("q"),
            (F.col("cc").cast("double") / F.col("n")).alias("p"),
        )
    )
    term = (F.col("q") * F.log(F.col("q") / F.col("p"))).alias("t")
    folded = terms.select("source", "word", term).groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_terms"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("word", F.col("t").alias("t")))),
            lambda s: s["t"],
        ).alias("ts"),
    )
    return folded.select(
        "source",
        "n_terms",
        half_up(
            F.aggregate("ts", F.lit(0.0), lambda a, b: a + b), 4
        ).alias("kl_nats"),
    )


# ---------------------------------------------------------------------------
# DoReMi-style domain reweighting (Xie et al. 2023): up-weight the
# domains the proxy model finds HARD (excess loss over the best
# domain) with one exponentiated-gradient step, then smooth toward
# uniform. The published recipe's proxy-model loss is approximated by
# the in-engine bigram NLL (the same substitution q_llm_ppl_bucket
# makes for CCNet), which keeps the whole step — loss measurement,
# EG update, smoothing — inside the engine.
# ---------------------------------------------------------------------------

DOREMI_ETA = 1.0  # EG step size on the excess loss
DOREMI_SMOOTH = 0.2  # uniform-mixture smoothing weight


def _doremi_oracle() -> str:
    import frafka_spark.llm.text  # noqa: F401  (load order: mixture < text)
    from frafka_spark.llm.text import _bigram_sql

    return f"""
    WITH bi AS ({_bigram_sql()}),
    counts AS (
        SELECT w1, w2, CAST(count(*) AS BIGINT) AS n
        FROM bi GROUP BY w1, w2
    ),
    firsts AS (
        SELECT w1, CAST(sum(n) AS BIGINT) AS n_first FROM counts GROUP BY w1
    ),
    probs AS (
        SELECT c.w1, c.w2,
               CAST(floor(-ln(CAST(c.n AS DOUBLE) / f.n_first) * 10000 + 0.5)
                    AS BIGINT) AS nll_e4
        FROM counts c JOIN firsts f ON f.w1 = c.w1
    ),
    per AS (
        SELECT s.source,
               CAST(count(*) AS BIGINT) AS n_bigrams,
               CAST(sum(p.nll_e4) AS BIGINT) AS sum_e4
        FROM bi d
        JOIN probs p ON p.w1 = d.w1 AND p.w2 = d.w2
        JOIN (SELECT doc_id, source FROM documents) s ON s.doc_id = d.doc_id
        GROUP BY s.source
    ),
    scored AS (
        SELECT source, n_bigrams,
               CAST((2 * sum_e4 + n_bigrams) // (2 * n_bigrams) AS BIGINT)
                   AS avg_e4
        FROM per
    ),
    m AS (
        SELECT CAST(min(avg_e4) AS BIGINT) AS min_e4,
               CAST(count(*) AS BIGINT) AS n_src
        FROM scored
    ),
    raws AS (
        SELECT source, n_bigrams, avg_e4, min_e4, n_src,
               CAST(floor(exp({DOREMI_ETA} * (avg_e4 - min_e4) / 10000.0)
                          * 1000000 + 0.5) AS BIGINT) AS raw_e6
        FROM scored, m
    ),
    z AS (SELECT CAST(sum(raw_e6) AS BIGINT) AS z6 FROM raws)
    SELECT source, n_bigrams,
           CAST(avg_e4 AS DOUBLE) / 10000.0 AS avg_nll,
           CAST(avg_e4 - min_e4 AS DOUBLE) / 10000.0 AS excess_nll,
           floor(1.0 / n_src * 1000000 + 0.5) / 1000000.0 AS weight_uniform,
           floor(((1.0 - {DOREMI_SMOOTH}) * raw_e6 / z6
                  + {DOREMI_SMOOTH} / n_src) * 1000000 + 0.5) / 1000000.0
               AS weight_doremi
    FROM raws, z
    """


@query("q_llm_doremi_step", oracle=_doremi_oracle())
def q_llm_doremi_step(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One DoReMi domain-reweighting step: per-source excess bigram
    NLL over the easiest source, exponentiated-gradient update
    ``raw ∝ exp(η·excess)``, normalization, and uniform smoothing
    ``α = (1−c)·w + c/n`` — the mixture a group-DRO run would feed
    the next proxy epoch, here collapsed to the one deterministic
    step a fixed loss vector admits (k identical-loss EG steps equal
    one with k·η, so a fixed η IS the fixed-iteration-count trick).

    Exactness: the loss is the e4-integer NLL chain q_llm_doc_nll
    pins (order-free long sums, integer half-up mean); the excess is
    a difference of exact e4 ints; ``exp`` is quantized to an e6
    LONG per source immediately (one ulp-sensitive libm call per
    SOURCE, absorbed by half-up like the ln discipline), so the
    normalizer is an exact integer sum — no cross-row float fold
    anywhere — and every output ratio is a deterministic double of
    two exact longs, rounded once.

    Scale shape: the corpus collapses to |sources| rows via the
    cached bigram relation and one (w1,w2)-keyed model join (the
    doc_nll plan) plus a doc_id-keyed source join; the EG step runs
    on the |sources|-row result with two broadcast scalars (min,
    normalizer). At 100 TB only the loss measurement touches data —
    exactly how DoReMi runs (per-domain losses stream out of the
    proxy training job; the reweighting arithmetic is trivial).
    """
    import frafka_spark.llm.text  # noqa: F401
    from frafka_spark.llm.text import _doc_nll_agg

    # Per-source loss = Σ of the per-doc (n_bigrams, sum_e4) partials
    # from the shared _doc_nll_agg leg — exact long sums regrouped by
    # a coarser key, so the corpus-sized (w1,w2) model join runs once
    # per session instead of once per consumer (guide §2.4), and this
    # query's own work is one doc_id equi-join plus a |sources|-row
    # aggregate.
    perdoc = _doc_nll_agg(spark, sf_dir)
    src = table(spark, sf_dir, "documents").select("doc_id", "source")
    per = (
        perdoc.join(src, "doc_id")
        .groupBy("source")
        .agg(
            F.sum("n_bigrams").cast("bigint").alias("n_bigrams"),
            F.sum("sum_e4").cast("bigint").alias("sum_e4"),
        )
    )
    scored = per.select(
        "source",
        "n_bigrams",
        F.expr("(2 * sum_e4 + n_bigrams) div (2 * n_bigrams)")
        .cast("bigint")
        .alias("avg_e4"),
    )
    m = scored.agg(
        F.min("avg_e4").cast("bigint").alias("min_e4"),
        F.count("*").cast("bigint").alias("n_src"),
    )
    raws = scored.crossJoin(F.broadcast(m)).withColumn(
        "raw_e6",
        F.floor(
            F.exp(
                F.lit(DOREMI_ETA)
                * (F.col("avg_e4") - F.col("min_e4"))
                / 10000.0
            )
            * 1000000
            + F.lit(0.5)
        ).cast("bigint"),
    )
    z = raws.agg(F.sum("raw_e6").cast("bigint").alias("z6"))
    return raws.crossJoin(F.broadcast(z)).select(
        "source",
        "n_bigrams",
        (F.col("avg_e4").cast("double") / 10000.0).alias("avg_nll"),
        ((F.col("avg_e4") - F.col("min_e4")).cast("double") / 10000.0).alias(
            "excess_nll"
        ),
        (
            F.floor(1.0 / F.col("n_src") * 1000000 + F.lit(0.5)) / 1000000.0
        ).alias("weight_uniform"),
        (
            F.floor(
                (
                    F.lit(1.0 - DOREMI_SMOOTH)
                    * F.col("raw_e6")
                    / F.col("z6")
                    + F.lit(DOREMI_SMOOTH) / F.col("n_src")
                )
                * 1000000
                + F.lit(0.5)
            )
            / 1000000.0
        ).alias("weight_doremi"),
    )
