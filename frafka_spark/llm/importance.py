"""Importance-based data selection — DSIR weights/resampling and MMR
diverse top-k (round-12 additions to the training-data family, beyond
SURVEY §2 in the spirit of the B10-ext rows).

- **DSIR** (Data Selection via Importance Resampling — Xie et al.
  2023, arXiv:2302.03169, public): score every raw document by how
  much it looks like a TARGET domain, using hashed n-gram bucket
  distributions. ``log w(d) = Σ_tokens log(p_target(b)/p_raw(b))``
  with add-1 smoothing over ``DSIR_BUCKETS`` buckets. The fixture's
  target is ``lang = 'en'`` (the majority/high-resource slice); in a
  real pipeline the target counts come from the trusted corpus
  (Wikipedia/books) and the raw side from the crawl.
- **MMR** (Maximal Marginal Relevance — Carbonell & Goldstein 1998,
  public): greedy diverse top-k per label over the embedding table —
  each step picks ``argmax λ·rel(c) − (1−λ)·max_{s∈S} sim(c, s)``,
  the canonical redundancy-penalized selection used to pick diverse
  exemplars / dedup retrieval results.

Scale shapes:

- DSIR is two hash aggregates and a 256-row broadcast: the token
  explode collapses to per-bucket counts (ONE aggregate computes the
  raw and target counts together via a conditional sum — map-side
  partials, shuffle ∝ 256 × partitions), the log-ratio table is 256
  rows broadcast back onto the token stream, and the per-doc sum is
  one more hash aggregate on doc_id. No vocabulary is ever built:
  the bucket space is fixed, which is the entire point of the
  hashing trick at 100 TB.
- MMR's greedy loop is inherently sequential IN k, so it runs per
  label group executor-side (``applyInPandas``: one shuffle on
  label, then an O(|group|·k) loop — no driver state). At 100 TB the
  label is an IVF cell / shard key so every group is bounded; k and
  λ are knobs. Dot products accumulate dim-sequentially (left-to-
  right, matching DuckDB's ``list_dot_product``) so scores are
  bitwise-identical to the oracle and ranking needs no float slack.

Determinism: bucket = first 2 hex chars of md5(word) on both engines;
counts are exact; per-bucket log-ratios are pure functions of exact
ints (libm log may differ by 1 ulp — the per-doc sums feed 4-decimal
half-up rounding, leaving ~1e-10 headroom). The MMR oracle unrolls
the k=4 greedy recursion into four windowed argmax layers (same trick
family as q_llm_pack's recursive-CTE replay; unrolling keeps every
layer a plain QUALIFY).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up
from frafka_spark.io import table
from frafka_spark.registry import query

DSIR_BUCKETS = 256  # 2 hex digits of md5(word)
DSIR_TARGET_LANG = "en"  # fixture stand-in for the trusted corpus
DSIR_TOP = 20  # report size for the weights query
MMR_K = 4  # selections per label
MMR_LAM = 0.7  # relevance weight λ
MMR_MU = 0.3  # diversity weight (1−λ), a SEPARATE literal so both
# engines parse the identical decimal instead of computing 1−0.7


def _dsir_log_weights_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, n_tokens, log_w) for every document — the full logical
    plan BEFORE lineage truncation (consumers go through
    ``_dsir_log_weights``).

    Shares the cached ``_words`` token table with tfidf/simhash (the
    explode is the expensive pass; everything after is per-bucket).
    The fixture recovers each token's lang via a doc_id join against
    the documents projection — a co-partitioned join on the natural
    key; a production pipeline carries lang through the explode.
    """
    from frafka_spark.llm.dedup import _words

    toks = _words(spark, sf_dir).select(
        "doc_id", F.substring(F.md5("word"), 1, 2).alias("b")
    )
    lang = table(spark, sf_dir, "documents").select("doc_id", "lang")
    tb = toks.join(lang, "doc_id")
    counts = tb.groupBy("b").agg(
        F.count("*").alias("c_raw"),
        F.sum(
            F.when(F.col("lang") == DSIR_TARGET_LANG, 1).otherwise(0)
        ).alias("c_tgt"),
    )
    totals = counts.agg(
        F.sum("c_raw").alias("n_raw"), F.sum("c_tgt").alias("n_tgt")
    )
    lr = counts.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("c_tgt") + 1.0) / (F.col("n_tgt") + float(DSIR_BUCKETS)))
            - F.log((F.col("c_raw") + 1.0) / (F.col("n_raw") + float(DSIR_BUCKETS)))
        ).alias("lr"),
    )
    return toks.join(F.broadcast(lr), "b").groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"), F.sum("lr").alias("log_w")
    )


def _dsir_log_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized DSIR per-doc weight table (guide §2.4): four
    consumers (the weights report, the selection stage, the LR
    feature builder, the resampling mix) each re-ran the token-stream
    aggregate before this leg existed. localCheckpoint truncates the
    lineage so composing queries carry an O(1)-node leaf instead of a
    copy of the bucket-model subtree per reference; eager=False keeps
    plan construction job-free (the queries() contract). O(n_docs)
    rows of three scalars — cache-safe at corpus scale."""
    return session_artifact(
        spark,
        sf_dir,
        "dsir_log_weights",
        lambda: _dsir_log_weights_plan(spark, sf_dir).localCheckpoint(eager=False),
    )


# Shared oracle CTE: per-doc DSIR log-weights (mirrors _dsir_log_weights).
_DSIR_W_SQL = f"""
    toks AS MATERIALIZED (
        SELECT doc_id, substring(md5(word), 1, 2) AS b
        FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS word
              FROM documents)
    ),
    counts AS (
        SELECT t.b,
               count(*) AS c_raw,
               sum(CASE WHEN d.lang = '{DSIR_TARGET_LANG}' THEN 1 ELSE 0 END)
                   AS c_tgt
        FROM toks t JOIN documents d USING (doc_id)
        GROUP BY t.b
    ),
    totals AS (
        SELECT sum(c_raw) AS n_raw, sum(c_tgt) AS n_tgt FROM counts
    ),
    lr AS (
        SELECT b,
               ln((c_tgt + 1.0) / (n_tgt + {DSIR_BUCKETS}.0))
             - ln((c_raw + 1.0) / (n_raw + {DSIR_BUCKETS}.0)) AS lr
        FROM counts, totals
    ),
    dsir_w AS MATERIALIZED (
        SELECT t.doc_id, count(*) AS n_tokens, sum(l.lr) AS log_w
        FROM toks t JOIN lr l ON t.b = l.b
        GROUP BY t.doc_id
    )
"""


@query(
    "q_llm_dsir_weights",
    oracle=f"""
    WITH {_DSIR_W_SQL}
    SELECT d.doc_id, d.source, d.lang,
           CAST(w.n_tokens AS BIGINT) AS n_tokens,
           floor(w.log_w * 10000.0 + 0.5) / 10000.0 AS log_weight,
           floor(w.log_w / w.n_tokens * 1000000.0 + 0.5) / 1000000.0
               AS log_weight_per_tok
    FROM dsir_w w JOIN documents d USING (doc_id)
    ORDER BY w.log_w DESC, d.doc_id
    LIMIT {DSIR_TOP}
    """,
)
def q_llm_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-{DSIR_TOP} most target-like documents by DSIR log importance
    weight (hashed unigram buckets, add-1 smoothing) — the ranking a
    quality-focused crawl selection sorts by. Ranking uses the raw
    double sums (distinct docs are never within float skew of each
    other); display values are half-up rounded."""
    w = _dsir_log_weights(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "source", "lang")
    return (
        w.join(d, "doc_id")
        .orderBy(F.col("log_w").desc(), "doc_id")
        .limit(DSIR_TOP)
        .select(
            "doc_id",
            "source",
            "lang",
            "n_tokens",
            half_up(F.col("log_w"), 4).alias("log_weight"),
            half_up(F.col("log_w") / F.col("n_tokens"), 6).alias(
                "log_weight_per_tok"
            ),
        )
    )


@query(
    "q_llm_dsir_select",
    oracle=f"""
    WITH {_DSIR_W_SQL},
    ranked AS (
        SELECT d.source, w.log_w,
               row_number() OVER (
                   PARTITION BY d.source
                   ORDER BY w.log_w DESC, w.doc_id
               ) AS rn,
               count(*) OVER (PARTITION BY d.source) AS n
        FROM dsir_w w JOIN documents d USING (doc_id)
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE rn <= (n + 1) // 2) AS BIGINT)
               AS n_keep,
           floor(avg(log_w) FILTER (WHERE rn <= (n + 1) // 2)
                 * 10000.0 + 0.5) / 10000.0 AS kept_avg_logw,
           floor(avg(log_w) FILTER (WHERE rn > (n + 1) // 2)
                 * 10000.0 + 0.5) / 10000.0 AS dropped_avg_logw
    FROM ranked
    GROUP BY source
    """,
)
def q_llm_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR selection stage: within each source keep the top half of
    documents by importance weight (a fixed per-source budget — the
    deterministic stand-in for gumbel-top-k resampling, which no SQL
    oracle could replay) and report the kept/dropped weight split.

    One window over the per-doc weights (partitioned by source — no
    global sort) feeding one per-source aggregate; at 100 TB both
    stages shuffle on source, the same key, so AQE coalesces them."""
    from pyspark.sql import Window

    w = _dsir_log_weights(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    win = Window.partitionBy("source").orderBy(
        F.col("log_w").desc(), F.col("doc_id")
    )
    ranked = (
        w.join(d, "doc_id")
        .withColumn("rn", F.row_number().over(win))
        .withColumn("n", F.count("*").over(Window.partitionBy("source")))
        .withColumn("kept", F.col("rn") <= (F.col("n") + 1) / 2)
    )
    return ranked.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("kept"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_keep"),
        half_up(
            F.avg(F.when(F.col("kept"), F.col("log_w"))), 4
        ).alias("kept_avg_logw"),
        half_up(
            F.avg(F.when(~F.col("kept"), F.col("log_w"))), 4
        ).alias("dropped_avg_logw"),
    )


_MMR_OUT = "label int, rank int, vec_id bigint, score double"


def _make_mmr(k: int, lam: float, mu: float):
    """Greedy MMR over one label group, anchor-relevance.

    Dot products accumulate dim-by-dim left-to-right (vectorized
    ACROSS rows, sequential ACROSS dims) so every score is bitwise
    what DuckDB's list_dot_product produces — ranking ties are then
    genuinely vec_id ties on both engines."""
    import numpy as np

    def _seq_dot(mat: "np.ndarray", v: "np.ndarray") -> "np.ndarray":
        acc = np.zeros(mat.shape[0], dtype=np.float64)
        for d in range(mat.shape[1]):
            acc = acc + mat[:, d] * v[d]
        return acc

    def _mmr_group(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("vec_id").reset_index(drop=True)
        label = int(pdf["label"].iloc[0])
        ids = pdf["vec_id"].to_numpy()
        mat = np.array(list(pdf["emb"]), dtype=np.float64)
        norms = np.array(
            [np.sqrt(_seq_dot(row[None, :], row)[0]) for row in mat]
        )
        a = 0  # anchor = min vec_id (sorted above)
        rel = _seq_dot(mat, mat[a]) / (norms * norms[a])
        selected: list[int] = []
        maxsim = np.full(len(ids), -np.inf)
        out = []
        for rank in range(1, min(k, len(ids)) + 1):
            if rank == 1:
                score = rel.copy()
            else:
                score = lam * rel - mu * maxsim
            score[selected] = -np.inf
            # argmax with vec_id tiebreak: ids are sorted ascending,
            # np.argmax returns the FIRST max — exactly the tiebreak.
            pick = int(np.argmax(score))
            out.append((label, rank, int(ids[pick]), float(score[pick])))
            selected.append(pick)
            sim = _seq_dot(mat, mat[pick]) / (norms * norms[pick])
            maxsim = np.maximum(maxsim, sim)
        return pd.DataFrame(
            out, columns=["label", "rank", "vec_id", "score"]
        )

    return _mmr_group


@query(
    "q_llm_mmr",
    oracle=f"""
    WITH vecs AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    avec AS (
        SELECT v.label, v.emb AS aemb, v.norm AS anorm
        FROM vecs v
        JOIN (SELECT label, min(vec_id) AS aid FROM vecs GROUP BY label) a
          ON v.vec_id = a.aid
    ),
    cand AS (
        SELECT v.label, v.vec_id, v.emb, v.norm,
               list_dot_product(v.emb, a.aemb) / (v.norm * a.anorm) AS rel
        FROM vecs v JOIN avec a ON v.label = a.label
    ),
    s1 AS (
        SELECT label, vec_id, emb, norm, rel, rel AS score1 FROM cand
        QUALIFY row_number() OVER (
            PARTITION BY label ORDER BY rel DESC, vec_id) = 1
    ),
    s2 AS (
        SELECT c.label, c.vec_id, c.emb, c.norm, c.rel,
               {MMR_LAM} * c.rel - {MMR_MU} *
                   (list_dot_product(c.emb, s.emb) / (c.norm * s.norm))
                   AS score2
        FROM cand c JOIN s1 s ON c.label = s.label
        WHERE c.vec_id <> s.vec_id
        QUALIFY row_number() OVER (
            PARTITION BY c.label ORDER BY score2 DESC, c.vec_id) = 1
    ),
    s3 AS (
        SELECT c.label, c.vec_id, c.emb, c.norm, c.rel,
               {MMR_LAM} * c.rel - {MMR_MU} * greatest(
                   list_dot_product(c.emb, s1.emb) / (c.norm * s1.norm),
                   list_dot_product(c.emb, s2.emb) / (c.norm * s2.norm))
                   AS score3
        FROM cand c
        JOIN s1 ON c.label = s1.label
        JOIN s2 ON c.label = s2.label
        WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id)
        QUALIFY row_number() OVER (
            PARTITION BY c.label ORDER BY score3 DESC, c.vec_id) = 1
    ),
    s4 AS (
        SELECT c.label, c.vec_id, c.rel,
               {MMR_LAM} * c.rel - {MMR_MU} * greatest(
                   list_dot_product(c.emb, s1.emb) / (c.norm * s1.norm),
                   list_dot_product(c.emb, s2.emb) / (c.norm * s2.norm),
                   list_dot_product(c.emb, s3.emb) / (c.norm * s3.norm))
                   AS score4
        FROM cand c
        JOIN s1 ON c.label = s1.label
        JOIN s2 ON c.label = s2.label
        JOIN s3 ON c.label = s3.label
        WHERE c.vec_id NOT IN (s1.vec_id, s2.vec_id, s3.vec_id)
        QUALIFY row_number() OVER (
            PARTITION BY c.label ORDER BY score4 DESC, c.vec_id) = 1
    )
    SELECT label, rank, vec_id,
           floor(score * 1000000.0 + 0.5) / 1000000.0 AS score
    FROM (
        SELECT label, 1 AS rank, vec_id, score1 AS score FROM s1
        UNION ALL SELECT label, 2, vec_id, score2 FROM s2
        UNION ALL SELECT label, 3, vec_id, score3 FROM s3
        UNION ALL SELECT label, 4, vec_id, score4 FROM s4
    )
    """,
)
def q_llm_mmr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MMR diverse top-{MMR_K} per label: rank 1 is the label's anchor
    (min vec_id — the stand-in query vector), each later rank is
    ``argmax λ·cos(c, anchor) − (1−λ)·max_sel cos(c, s)``.

    The engine side is the GENERAL greedy loop (any k) per label
    group; the oracle unrolls k={MMR_K} into four windowed-argmax
    layers — same replay-the-recurrence discipline as q_llm_pack."""
    e = table(spark, sf_dir, "embeddings").select(
        "vec_id", "label", F.col("embedding").cast("array<double>").alias("emb")
    )
    out = e.groupBy("label").applyInPandas(
        _make_mmr(MMR_K, MMR_LAM, MMR_MU), _MMR_OUT
    )
    return out.select(
        "label", "rank", "vec_id", half_up(F.col("score"), 6).alias("score")
    )


# ---------------------------------------------------------------------------
# In-engine quality-classifier TRAINING: full-batch logistic
# regression by a FIXED number of gradient steps — the other canonical
# selection method next to DSIR (a fasttext-style quality filter
# trained on "does this look like the target domain"), expressed as
# pure aggregates so the oracle can replay training step-for-step.
# ---------------------------------------------------------------------------

LR_STEPS = 8  # fixed GD steps (the deterministic-oracle trick);
# converged at 4 decimals — 16 steps reproduce the same report
LR_RATE = 2.0  # learning rate literal, identical on both engines
LR_W_SCALE = 100.0  # puts the DSIR per-token weight on a ±1-ish scale


def _lr_feats_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(lang, y, x0, x1, x2) per document: x1 is the DSIR per-token
    log importance weight — the discriminative signal, so the trained
    filter is the STACKED model a real pipeline runs (hashed-ngram
    importance features → logistic head); x2 = ln(1+tokens), the
    length confound the head must learn to ignore; y = target-domain
    label (lang = en). Both features are z-SCORED (two-pass: mean,
    then sqrt of mean squared deviation — the identical arithmetic in
    the oracle) so full-batch GD is stable; unstandardized, the
    length scale makes the fixed-rate steps oscillate."""
    w = _dsir_log_weights(spark, sf_dir)
    lang = table(spark, sf_dir, "documents").select("doc_id", "lang")
    f0 = w.join(lang, "doc_id").select(
        "lang",
        F.when(F.col("lang") == DSIR_TARGET_LANG, 1.0).otherwise(0.0).alias("y"),
        (F.col("log_w") / F.col("n_tokens") * LR_W_SCALE).alias("x1r"),
        F.log(F.lit(1.0) + F.col("n_tokens").cast("double")).alias("x2r"),
    )
    m = f0.agg(F.avg("x1r").alias("m1"), F.avg("x2r").alias("m2"))
    f0m = f0.crossJoin(F.broadcast(m))
    s = f0m.agg(
        F.sqrt(
            F.avg((F.col("x1r") - F.col("m1")) * (F.col("x1r") - F.col("m1")))
        ).alias("s1"),
        F.sqrt(
            F.avg((F.col("x2r") - F.col("m2")) * (F.col("x2r") - F.col("m2")))
        ).alias("s2"),
        F.first("m1").alias("m1"),
        F.first("m2").alias("m2"),
    )
    return f0.crossJoin(F.broadcast(s)).select(
        "lang",
        "y",
        F.lit(1.0).alias("x0"),
        ((F.col("x1r") - F.col("m1")) / F.col("s1")).alias("x1"),
        ((F.col("x2r") - F.col("m2")) / F.col("s2")).alias("x2"),
    )


def _lr_feats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session-memoized, lineage-truncated LR feature table.

    The unrolled gradient-descent chain references this relation
    2·LR_STEPS+1 times; with a full lineage each reference expands
    into a copy of the ~150-node feature subtree, so the composed
    plan was O(steps² · |feats|) nodes — measured ~1.4 s of DRIVER
    analysis per construction and a matching AQE replanning tax at
    run time (guide §3.3: very wide plans make planning itself the
    bottleneck; materialise/truncate). localCheckpoint collapses the
    leg to one leaf; eager=False keeps construction job-free. Rows
    are (lang, y, x0, x1, x2) per doc — O(n_docs) scalars."""
    return session_artifact(
        spark,
        sf_dir,
        "lr_feats",
        lambda: _lr_feats_plan(spark, sf_dir).localCheckpoint(eager=False),
    )


_LR_FEATS_SQL = f"""
    {_DSIR_W_SQL},
    feats0 AS MATERIALIZED (
        SELECT d.lang,
               CASE WHEN d.lang = '{DSIR_TARGET_LANG}' THEN 1.0 ELSE 0.0 END
                   AS y,
               w.log_w / w.n_tokens * {LR_W_SCALE} AS x1r,
               ln(1.0 + CAST(w.n_tokens AS DOUBLE)) AS x2r
        FROM dsir_w w JOIN documents d USING (doc_id)
    ),
    fm AS (SELECT avg(x1r) AS m1, avg(x2r) AS m2 FROM feats0),
    fs AS (
        SELECT sqrt(avg((x1r - m1) * (x1r - m1))) AS s1,
               sqrt(avg((x2r - m2) * (x2r - m2))) AS s2,
               any_value(m1) AS m1, any_value(m2) AS m2
        FROM feats0, fm
    ),
    feats AS MATERIALIZED (
        SELECT lang, y, 1.0 AS x0,
               (x1r - m1) / s1 AS x1,
               (x2r - m2) / s2 AS x2
        FROM feats0, fs
    )
"""


def _lr_train_sql() -> str:
    """w0 = 0; step k: w += LR_RATE · avg(x·(y − σ(x·w))) — unrolled
    LR_STEPS times (σ(0) = 0.5 makes step 1 a plain centering)."""
    ctes = []
    prev = None
    for k in range(1, LR_STEPS + 1):
        if prev is None:
            sig = "0.5"
            frm = "feats"
        else:
            sig = (
                f"1.0 / (1.0 + exp(-({prev}.w0 * feats.x0 + {prev}.w1 *"
                f" feats.x1 + {prev}.w2 * feats.x2)))"
            )
            frm = f"feats, {prev}"
        ctes.append(
            f"""g{k} AS MATERIALIZED (
        SELECT avg(feats.x0 * (feats.y - {sig})) AS g0,
               avg(feats.x1 * (feats.y - {sig})) AS g1,
               avg(feats.x2 * (feats.y - {sig})) AS g2
        FROM {frm}
    )"""
        )
        b0, b1, b2 = (
            (f"{prev}.w0 + ", f"{prev}.w1 + ", f"{prev}.w2 + ")
            if prev
            else ("", "", "")
        )
        ctes.append(
            f"""w{k} AS MATERIALIZED (
        SELECT {b0}{LR_RATE} * g0 AS w0,
               {b1}{LR_RATE} * g1 AS w1,
               {b2}{LR_RATE} * g2 AS w2
        FROM g{k}{f", {prev}" if prev else ""}
    )"""
        )
        prev = f"w{k}"
    return ",\n    ".join(ctes), prev


_LR_CTES, _LR_FINAL = _lr_train_sql()


def _lr_train_spark_sql() -> str:
    """The engine-side GD chain as ONE SQL statement (mirrors the
    DataFrame construction expression-for-expression; ``D`` suffixes
    pin every literal to DOUBLE so the arithmetic is byte-identical
    to the ``F.lit`` doubles it replaces). Built once at import.

    Why SQL and not the DataFrame loop: classic PySpark runs the
    analyzer EAGERLY on every Dataset construction, so the unrolled
    8-step chain (~30 intermediate frames, each embedding the whole
    chain so far) paid O(steps²) analysis — measured 0.59 s of
    construction per call at steady state vs 0.68 s of execution.
    One ``spark.sql`` call parses and analyzes the tree once
    (guide §3.3: with very wide plans, planning itself becomes the
    bottleneck). Every CTE is referenced exactly once (previous
    weights ride ``first()`` carries through each gradient
    aggregate), so the optimizer inlines them into the same linear
    plan the DataFrame loop produced — broadcast hints keep the
    1-row weight relations on BroadcastNestedLoopJoin build sides,
    exactly as ``F.broadcast(cur)`` did."""
    ctes = []
    prev = None
    for k in range(1, LR_STEPS + 1):
        if prev is None:
            ctes.append(
                "g1 AS (SELECT avg(x0 * (y - 0.5D)) AS g0, "
                "avg(x1 * (y - 0.5D)) AS g1, "
                "avg(x2 * (y - 0.5D)) AS g2 FROM feats)"
            )
            ctes.append(
                f"w1 AS (SELECT {LR_RATE}D * g0 AS w0, "
                f"{LR_RATE}D * g1 AS w1, {LR_RATE}D * g2 AS w2 FROM g1)"
            )
        else:
            sig = "1.0D / (1.0D + exp(-(w0 * x0 + w1 * x1 + w2 * x2)))"
            ctes.append(
                f"g{k} AS (SELECT /*+ BROADCAST({prev}) */ "
                f"avg(x0 * (y - {sig})) AS g0, "
                f"avg(x1 * (y - {sig})) AS g1, "
                f"avg(x2 * (y - {sig})) AS g2, "
                "first(w0) AS pw0, first(w1) AS pw1, first(w2) AS pw2 "
                f"FROM feats CROSS JOIN {prev})"
            )
            ctes.append(
                f"w{k} AS (SELECT pw0 + {LR_RATE}D * g0 AS w0, "
                f"pw1 + {LR_RATE}D * g1 AS w1, "
                f"pw2 + {LR_RATE}D * g2 AS w2 FROM g{k})"
            )
        prev = f"w{k}"
    z = "w0 * x0 + w1 * x1 + w2 * x2"
    return (
        "WITH feats AS (SELECT * FROM {feats}),\n"
        + ",\n".join(ctes)
        + f"""
    SELECT /*+ BROADCAST({prev}) */ lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(1.0D / (1.0D + exp(-({z})))) * 10000.0D + 0.5D)
               / 10000.0D AS avg_p,
           CAST(sum(CASE WHEN {z} > 0D THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged
    FROM feats CROSS JOIN {prev}
    GROUP BY lang
    """
    )


_LR_SPARK_SQL = _lr_train_spark_sql()


@query(
    "q_llm_quality_train",
    oracle=f"""
    WITH {_LR_FEATS_SQL},
    {_LR_CTES}
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           floor(avg(1.0 / (1.0 + exp(-({_LR_FINAL}.w0 * feats.x0
                 + {_LR_FINAL}.w1 * feats.x1
                 + {_LR_FINAL}.w2 * feats.x2)))) * 10000.0 + 0.5)
               / 10000.0 AS avg_p,
           CAST(count(*) FILTER (WHERE {_LR_FINAL}.w0 * feats.x0
                 + {_LR_FINAL}.w1 * feats.x1
                 + {_LR_FINAL}.w2 * feats.x2 > 0) AS BIGINT) AS n_flagged
    FROM feats, {_LR_FINAL}
    GROUP BY lang
    """,
)
def q_llm_quality_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A quality/domain classifier TRAINED IN-ENGINE: full-batch
    logistic regression (target = the {DSIR_TARGET_LANG!r} slice, the
    same proxy DSIR uses) by exactly {LR_STEPS} gradient steps from
    w = 0, then the corpus scored under the trained weights — per
    lang: mean predicted probability and how many docs the filter
    flags (z > 0). The oracle replays training step-for-step as
    unrolled aggregate CTEs, so the hash gates the TRAINING arithmetic
    and the scoring pass, not just a frozen model.

    Exactness: features are closed-form per-doc expressions (no
    explode, no ordering); each gradient is one avg over the corpus —
    cross-engine sum-order skew is ~1e-15 relative, absorbed by the
    4-decimal half-up on the reported mean (z > 0 flags sit ~0.01+
    from the boundary at fixture scale — checked by the pytest).

    Scale shape: THE distributed-training shape — model state is 3
    doubles broadcast to every task, each step is one map-side-
    combinable aggregate over the corpus (shuffle = partials ×
    partitions), scoring is a stateless map. At 100 TB each GD step
    is a single pass; minibatching or LBFGS changes the step count,
    never the relational shape.
    """
    feats = _lr_feats(spark, sf_dir)
    return spark.sql(_LR_SPARK_SQL, feats=feats)
