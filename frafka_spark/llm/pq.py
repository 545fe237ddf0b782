"""Product quantization (Jégou et al., TPAMI 2011): the compression
stage of the IVF-PQ index every billion-vector ANN system runs —
split each embedding into M subvectors, quantize each against a
per-subspace codebook, and a 64-float vector becomes M small code
ids. ``q_llm_embed_pq`` is the ENCODE pass (codes + quantization
error); ``q_llm_pq_adc`` is the SEARCH pass (asymmetric distance
computation: exact query subvectors against reconstructed corpus
codes, audited per-query against the exact brute-force neighbor).
Together with int8 scalar quantization (``q_llm_embed_quantize``),
IVF cells (``q_llm_sim_ann``), and the k-means trainer loop
(``q_llm_kmeans_step``), this completes the embedding-index family.

Codebook discipline: like IVF's ``vec_id % CENTROID_MOD`` centroids
(similarity.py), the per-subspace codes are the slices of the first
``PQ_CODES`` vectors — deterministic by construction on both engines
(a production system trains them with k-means). Distances are the
``‖a‖² − 2a·b + ‖b‖²`` expansion over the SAME sequential
left-to-right dot-product fold on both engines (the
``list_dot_product`` parity rule), so argmins and tiebreaks are
exact cross-engine.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up, sql_half_up
from frafka_spark.io import table
from frafka_spark.registry import query

PQ_M = 4  # subspaces
PQ_SUBDIM = 16  # dims per subspace (embeddings are 64-d)
PQ_CODES = 16  # codebook entries per subspace (vec_id < PQ_CODES)
PQ_QUERY_N = 24  # fixed-COUNT query window: vec_id in [PQ_CODES, PQ_CODES+N)
# (a fixed count, not a corpus fraction — the broadcastable-by-
# construction discipline of the codebook; disjoint from the codebook
# ids so no query is trivially its own code)


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right fold (matches list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def _subs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, sub, s, ss): per-subspace slices with their squared
    norms hoisted once (the per-candidate work downstream is ONE
    length-SUBDIM fold, not three — the values are identical to the
    oracle's inline list_dot_product calls, so every distance chain
    stays bit-equal while the engine does a third of the lambda
    evaluations)."""
    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    )
    return (
        vecs.select(
            "vec_id",
            F.explode(F.sequence(F.lit(1), F.lit(PQ_M))).alias("sub"),
            "emb",
        )
        .select(
            "vec_id",
            "sub",
            F.slice(
                "emb", (F.col("sub") - 1) * PQ_SUBDIM + 1, PQ_SUBDIM
            ).alias("s"),
        )
        .withColumn("ss", _dot(F.col("s"), F.col("s")))
    )


def _subs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The slice relation CACHED and session-memoized: the encode pass
    and the ADC search pass (plus repeated suite invocations of each)
    all read one InMemoryRelation per (session, sf_dir) instead of
    leaking a fresh cache entry per query construction."""
    return session_artifact(
        spark, sf_dir, "pq_subs", lambda: _subs(spark, sf_dir).cache()
    )


def _assignments_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The corpus PQ code assignment CACHED and session-memoized: the
    encode pass and the ADC search pass both consume it (wide pivot +
    the declared encode relation), so the per-vector M·K distance
    arithmetic runs once per session instead of once per consumer."""
    subs = _subs_shared(spark, sf_dir)
    return session_artifact(
        spark,
        sf_dir,
        "pq_assign",
        lambda: _assignments(
            spark, sf_dir, subs=subs, codes=_codebook(subs)
        ).cache(),
    )


def _codebook(subs: DataFrame) -> DataFrame:
    """(sub, code_id, c, cc): the M·K per-subspace codebook — bounded
    by construction, the legitimate broadcast side."""
    return subs.filter(F.col("vec_id") < PQ_CODES).select(
        "sub",
        F.col("vec_id").alias("code_id"),
        F.col("s").alias("c"),
        F.col("ss").alias("cc"),
    )


def _assignments(
    spark: SparkSession,
    sf_dir: str,
    subs: DataFrame | None = None,
    codes: DataFrame | None = None,
) -> DataFrame:
    """(vec_id, sub, code_id, d2): every vector's nearest per-subspace
    code by squared L2, code_id ascending on ties. Callers that also
    consume the slice relation pass it in (prebuilt, cached) so the
    corpus explode isn't re-expanded per consumer."""
    if subs is None:
        subs = _subs(spark, sf_dir)
    if codes is None:
        codes = _codebook(subs)
    # The K-way argmin runs INSIDE one row-level expression: the
    # codebook folds to one array row per subspace, and
    # array_min(transform(...)) takes the lexicographic (d2, code_id)
    # minimum — the identical selection the oracle's row_number makes
    # — without fanning the corpus out K× and shuffling it back
    # (guide §2.4: the old explode→window argmin cost one corpus-sized
    # Exchange; this shape is a pure projection, shuffle-free at any
    # corpus size). Every d2 is the same ‖s‖² − 2s·c + ‖c‖² chain
    # over the sequential fold, so values stay bit-equal.
    codes_arr = codes.groupBy("sub").agg(
        F.sort_array(F.collect_list(F.struct("code_id", "c", "cc"))).alias(
            "codes"
        )
    )
    return (
        subs.join(F.broadcast(codes_arr), "sub")
        .select(
            "vec_id",
            "sub",
            F.array_min(
                F.transform(
                    "codes",
                    lambda k: F.struct(
                        (
                            F.col("ss")
                            - F.lit(2) * _dot(F.col("s"), k["c"])
                            + k["cc"]
                        ).alias("d2"),
                        k["code_id"].alias("code_id"),
                    ),
                )
            ).alias("m"),
        )
        .select(
            "vec_id",
            "sub",
            F.col("m.code_id").alias("code_id"),
            F.col("m.d2").alias("d2"),
        )
    )


# Shared oracle CTE chain: slices, codebook, per-subspace assignment.
_SQL_PQ = f"""vecs AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings
    ),
    subs AS MATERIALIZED (
        SELECT vec_id, sub,
               emb[(sub - 1) * {PQ_SUBDIM} + 1 : sub * {PQ_SUBDIM}] AS s
        FROM vecs
        CROSS JOIN (SELECT unnest(generate_series(1, {PQ_M})) AS sub)
    ),
    codes AS MATERIALIZED (
        SELECT sub, vec_id AS code_id, s AS c
        FROM subs WHERE vec_id < {PQ_CODES}
    ),
    scored AS (
        SELECT v.vec_id, v.sub, k.code_id,
               list_dot_product(v.s, v.s)
                   - 2 * list_dot_product(v.s, k.c)
                   + list_dot_product(k.c, k.c) AS d2,
               row_number() OVER (
                   PARTITION BY v.vec_id, v.sub
                   ORDER BY list_dot_product(v.s, v.s)
                                - 2 * list_dot_product(v.s, k.c)
                                + list_dot_product(k.c, k.c) ASC,
                            k.code_id ASC
               ) AS rn
        FROM subs v JOIN codes k ON k.sub = v.sub
    ),
    assign AS MATERIALIZED (
        SELECT vec_id, sub, code_id, d2 FROM scored WHERE rn = 1
    )"""


@query(
    "q_llm_embed_pq",
    oracle=f"""
    WITH {_SQL_PQ}
    SELECT vec_id, sub, code_id,
           {sql_half_up('d2', 6)} AS qerr
    FROM assign
    """,
)
def q_llm_embed_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ encoding of the embedding corpus: per (vector, subspace),
    the nearest per-subspace codebook entry by squared L2 (code_id
    ascending on ties) and the subspace quantization error — the
    relation an IVF-PQ index stores instead of raw floats (M·log₂K
    bits per vector here vs M·SUBDIM floats).

    Exactness: every distance is the identically-written
    ``‖s‖² − 2s·c + ‖c‖²`` chain over sequential left-fold dot
    products (both engines fold left-to-right — similarity.py's
    list_dot_product parity); the argmin sorts those identical
    doubles with the code_id tiebreak, and the reported error rides
    the pinned half-up.

    Scale shape: the codebook is M·K = {PQ_M}·{PQ_CODES} slices —
    bounded by construction, the legitimate broadcast side (the IVF
    codebook rule). The corpus explodes to M rows per vector,
    streams through ONE broadcast join (M·K candidates per row,
    a code constant), and the argmin is one keyed window on
    (vec_id, sub) — a single corpus-sized shuffle. At 10⁹ vectors
    this is exactly the PQ-encode pass a production indexer runs;
    nothing O(corpus) is ever broadcast or collected.
    """
    return _assignments_shared(spark, sf_dir).select(
        "vec_id", "sub", "code_id", half_up(F.col("d2"), 6).alias("qerr")
    )


def _adc_join_leg(k: int) -> str:
    """One oracle LUT join leg: subspace k's precomputed part."""
    return (
        f"JOIN lut l{k} ON l{k}.q_id = l1.q_id AND l{k}.sub = {k}"
        f" AND l{k}.code_id = w.k{k}"
        if k > 1
        else "JOIN lut l1 ON l1.sub = 1 AND l1.code_id = w.k1"
    )


@query(
    "q_llm_pq_adc",
    oracle=f"""
    WITH {_SQL_PQ},
    wide AS MATERIALIZED (
        SELECT vec_id,
               max(CASE WHEN sub = 1 THEN code_id END) AS k1,
               max(CASE WHEN sub = 2 THEN code_id END) AS k2,
               max(CASE WHEN sub = 3 THEN code_id END) AS k3,
               max(CASE WHEN sub = 4 THEN code_id END) AS k4
        FROM assign GROUP BY vec_id
    ),
    lut AS MATERIALIZED (
        SELECT q.vec_id AS q_id, q.sub, k.code_id,
               list_dot_product(q.s, q.s)
                   - 2 * list_dot_product(q.s, k.c)
                   + list_dot_product(k.c, k.c) AS part
        FROM subs q JOIN codes k ON k.sub = q.sub
        WHERE q.vec_id >= {PQ_CODES} AND q.vec_id < {PQ_CODES + PQ_QUERY_N}
    ),
    adc AS (
        SELECT l1.q_id, w.vec_id,
               l1.part + l2.part + l3.part + l4.part AS d_adc,
               row_number() OVER (
                   PARTITION BY l1.q_id
                   ORDER BY l1.part + l2.part + l3.part + l4.part ASC,
                            w.vec_id ASC
               ) AS rn
        FROM wide w
        {_adc_join_leg(1)}
        {_adc_join_leg(2)}
        {_adc_join_leg(3)}
        {_adc_join_leg(4)}
        WHERE w.vec_id <> l1.q_id
    ),
    qs AS MATERIALIZED (
        SELECT vec_id AS q_id, emb AS qemb,
               list_dot_product(emb, emb) AS qq
        FROM vecs
        WHERE vec_id >= {PQ_CODES} AND vec_id < {PQ_CODES + PQ_QUERY_N}
    ),
    exact AS (
        SELECT q.q_id, v.vec_id,
               q.qq - 2 * list_dot_product(q.qemb, v.emb)
                   + list_dot_product(v.emb, v.emb) AS d_true,
               row_number() OVER (
                   PARTITION BY q.q_id
                   ORDER BY q.qq - 2 * list_dot_product(q.qemb, v.emb)
                                + list_dot_product(v.emb, v.emb) ASC,
                            v.vec_id ASC
               ) AS rn
        FROM qs q JOIN vecs v ON v.vec_id <> q.q_id
    )
    SELECT a.q_id, a.vec_id AS adc_id, e.vec_id AS exact_id,
           (a.vec_id = e.vec_id) AS hit,
           {sql_half_up('a.d_adc', 6)} AS adc_d,
           {sql_half_up('e.d_true', 6)} AS exact_d
    FROM adc a JOIN exact e ON e.q_id = a.q_id AND e.rn = 1
    WHERE a.rn = 1
    """,
)
def q_llm_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric distance computation — the PQ SEARCH pass: for each
    query vector (the deterministic fixed-count window ``vec_id in
    [PQ_CODES, PQ_CODES + PQ_QUERY_N)`` — a COUNT, not a corpus
    fraction, so the query-side relations stay broadcastable at any
    corpus size, the codebook discipline),
    rank the whole corpus by the sum of per-subspace lookup-table
    parts ``‖q_s‖² − 2q_s·c + ‖c‖²`` evaluated at each vector's
    stored code (query side exact, corpus side reconstructed — the
    'asymmetric' in ADC), and audit the ADC top-1 against the exact
    brute-force top-1 (hit flag + both distances). The per-query
    recall readout is how a production indexer decides whether M·K
    is big enough.

    Exactness: the LUT parts and true distances are the same
    sequential-fold norm-expansion chains as the encode pass; the
    ADC total is a FIXED-ORDER four-term sum (p1+p2+p3+p4 written
    identically on both engines — never an aggregate over subspaces,
    whose accumulation order would be engine-dependent); argmins
    sort identical doubles with vec_id tiebreaks.

    Scale shape: the LUT is |Q|·M·K rows and the exact-audit query
    set is |Q| vectors — both bounded by construction (|Q| is a code
    constant), so their broadcast hints are safe at any corpus size;
    a production audit over a LARGER sample replaces the hints with
    the sampled set and lets size-based planning decide. Corpus codes pivot to one row per vector (one keyed
    aggregate), then stream through four broadcast equi-joins and a
    per-query argmin: O(|Q|·corpus) rows of pure arithmetic with no
    corpus-sized broadcast — exactly the ADC scan a real index runs,
    where the win is that no corpus FLOATS are ever read. The exact
    audit leg is the same bounded-query-set brute-force shape as
    ``q_llm_sim_cosine``'s declared baseline.
    """
    # Two consumers of the slice relation (the encode pass feeding
    # `wide`, and the query LUT) — the session-memoized caches mean
    # the corpus explode, its norm folds AND the per-vector code
    # assignment run once per session, and repeated invocations never
    # accumulate duplicate cache entries.
    return adc_audit(spark, sf_dir, _assignments_shared(spark, sf_dir))


def adc_audit(
    spark: SparkSession, sf_dir: str, assign: DataFrame
) -> DataFrame:
    """The ADC search + exact-audit relation over ANY (vec_id, sub,
    code_id) code relation — q_llm_pq_adc's body, factored so the
    AT-REST codes table (llm/ann_trained.py) serves the identical
    search without re-encoding the corpus."""
    subs = _subs_shared(spark, sf_dir)
    codes = _codebook(subs)
    wide = assign.groupBy("vec_id").agg(
        *[
            F.max(F.when(F.col("sub") == k, F.col("code_id"))).alias(f"k{k}")
            for k in range(1, PQ_M + 1)
        ]
    )
    lut = (
        subs.filter(
            (F.col("vec_id") >= PQ_CODES)
            & (F.col("vec_id") < PQ_CODES + PQ_QUERY_N)
        )
        .join(F.broadcast(codes), "sub")
        .select(
            F.col("vec_id").alias("q_id"),
            "sub",
            "code_id",
            (
                F.col("ss")
                - F.lit(2) * _dot(F.col("s"), F.col("c"))
                + F.col("cc")
            ).alias("part"),
        )
    )
    # The |Q|·M·K LUT pivots to ONE row per query (M arrays indexed by
    # code_id), so the corpus pays a single bounded-broadcast join and
    # an element_at per subspace instead of the former four sequential
    # broadcast equi-joins (guide §2.4: same arithmetic, 3 fewer join
    # stages). The ADC total stays the FIXED-ORDER p1+p2+p3+p4 sum of
    # the identical part doubles.
    per_sub = lut.groupBy("q_id", "sub").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("code_id", "part"))),
            lambda s: s["part"],
        ).alias("parr")
    )
    qlut = per_sub.groupBy("q_id").agg(
        *[
            F.max(F.when(F.col("sub") == k, F.col("parr"))).alias(f"p{k}")
            for k in range(1, PQ_M + 1)
        ]
    )
    parts = [
        F.element_at(f"p{k}", (F.col(f"k{k}") + 1).cast("int"))
        for k in range(1, PQ_M + 1)
    ]
    adc = wide.join(
        F.broadcast(qlut), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        (parts[0] + parts[1] + parts[2] + parts[3]).alias("d_adc"),
    )
    # Per-query argmin as a map-side-combinable lexicographic
    # min(struct) — the same (d_adc ASC, vec_id ASC) selection the
    # oracle's row_number makes, without a corpus-sized sort window.
    adc_top = (
        adc.groupBy("q_id")
        .agg(F.min(F.struct("d_adc", "vec_id")).alias("m"))
        .select("q_id", F.col("m.vec_id").alias("adc_id"), F.col("m.d_adc").alias("d_adc"))
    )
    # vv hoisted out of the |Q|-way pair fan (one fold per corpus
    # vector, not per pair) — same value as the oracle's inline
    # list_dot_product(v.emb, v.emb), so the d_true chain is bit-equal.
    vecs = table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("emb")
    ).withColumn("vv", _dot(F.col("emb"), F.col("emb")))
    qs = vecs.filter(
        (F.col("vec_id") >= PQ_CODES)
        & (F.col("vec_id") < PQ_CODES + PQ_QUERY_N)
    ).select(
        F.col("vec_id").alias("q_id"),
        F.col("emb").alias("qemb"),
        F.col("vv").alias("qq"),
    )
    pairs = vecs.join(
        F.broadcast(qs), F.col("vec_id") != F.col("q_id")
    ).select(
        "q_id",
        "vec_id",
        (
            F.col("qq")
            - F.lit(2) * _dot(F.col("qemb"), F.col("emb"))
            + F.col("vv")
        ).alias("d_true"),
    )
    exact_top = (
        pairs.groupBy("q_id")
        .agg(F.min(F.struct("d_true", "vec_id")).alias("m"))
        .select(
            "q_id",
            F.col("m.vec_id").alias("exact_id"),
            F.col("m.d_true").alias("d_true"),
        )
    )
    # both sides are |Q|-row results — broadcast the audit join too,
    # so the whole plan is assertable as SMJ-free under hint-only
    # planning (test_pq_adc_broadcasts_only_query_bounded_sides)
    return adc_top.join(F.broadcast(exact_top), "q_id").select(
        "q_id",
        "adc_id",
        "exact_id",
        (F.col("adc_id") == F.col("exact_id")).alias("hit"),
        half_up(F.col("d_adc"), 6).alias("adc_d"),
        half_up(F.col("d_true"), 6).alias("exact_d"),
    )
