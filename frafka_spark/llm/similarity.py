"""B10 — similarity search over the embedding column.

Three tiers, all DuckDB-oracle-checked:

- ``q_llm_sim_cosine``  — brute-force top-1 cosine neighbor (the
  correctness baseline; O(n²) — fine at fixture scale, the thing the
  IVF path replaces at 100 TB);
- ``q_llm_sim_ann``     — IVF-style ANN: deterministic coarse
  centroids, assign-to-nearest, search within the cell only. The
  pairwise step shrinks from n² to Σ|cell|² — the scale path;
- ``q_llm_dedup_embed`` — embedding-cosine near-dup pairs above a
  threshold *within an IVF cell* (the semantic-dedup operator —
  cluster-then-dedup-within-cluster, the formulation that scales:
  no all-pairs scan and no driver-side corpus round-trip).

Float discipline: embeddings are float32 at rest; both engines cast
to float64 *before* any arithmetic, and both compute dot products as
left-to-right sequential sums over the same 64 elements (Spark
``aggregate(zip_with(...))`` ≡ DuckDB ``list_dot_product``) —
verified bitwise-identical in the differential tests. Cosine values
are only rounded for display; ranking uses the raw doubles with
vec_id tiebreaks.

A Spark-ML ``BucketedRandomProjectionLSH`` variant lives in
tests/test_llm_ops.py as a recall@k property test (its random
hyperplanes are JVM-seeded, so no SQL oracle can mirror them).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import dec_avg, half_up, sql_dec_avg
from frafka_spark.io import fan_out, table
from frafka_spark.registry import query

CENTROID_MOD = 50  # vec_id % 50 == 0 → deterministic coarse centroids
EMBED_DUP_THRESHOLD = 0.4  # max pairwise cosine in fixtures is ~0.51


def _dot(a: Column, b: Column) -> Column:
    """Sequential left-to-right dot product (matches list_dot_product)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = table(spark, sf_dir, "embeddings")
    return e.select(
        "vec_id",
        "label",
        F.col("embedding").cast("array<double>").alias("emb"),
    ).withColumn("norm", F.sqrt(_dot(F.col("emb"), F.col("emb"))))


_SQL_VECS = """
    vecs AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS norm
        FROM embeddings
    )
"""


MAX_GEMM_BUILD_ROWS = 1_000_000  # ~512 MB of float64 at dim 64

def _broadcast_unit_matrix(spark: SparkSession, sf_dir: str):
    """Bounded GEMM build side: (ids, labels, row-normalized matrix),
    broadcast once per session — analogous to a broadcast join's
    build side (session-memoized: two declared queries and repeated
    suite passes re-invoked the collect + broadcast otherwise).

    This is the ONLY driver-side collect in the engine, and it is
    deliberately bounded: the build side of a brute-force scorer must
    be a query set / codebook that fits one machine (here the fixture
    embeddings table). A corpus-sized input fails fast with the
    scale-path pointer instead of silently OOMing the driver.
    """
    import numpy as np

    def build():
        v = _vectors(spark, sf_dir).select("vec_id", "label", "emb")
        n = v.count()
        if n > MAX_GEMM_BUILD_ROWS:
            raise ValueError(
                f"brute-force build side has {n} rows "
                f"(> {MAX_GEMM_BUILD_ROWS}); use the IVF cell path "
                "(q_llm_sim_ann / q_llm_dedup_embed) for corpus-scale "
                "similarity"
            )
        rows = v.orderBy("vec_id").collect()
        ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
        labels = np.array([r["label"] for r in rows], dtype=np.int32)
        mat = np.array([r["emb"] for r in rows], dtype=np.float64)
        unit = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        return spark.sparkContext.broadcast((ids, labels, unit))

    return session_artifact(spark, sf_dir, "unit_matrix", build)


@query(
    "q_llm_sim_cosine",
    oracle=f"""
    WITH {_SQL_VECS},
    scored AS (
        SELECT a.vec_id, b.vec_id AS neighbor_id, b.label AS neighbor_label,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.emb, b.emb) / (a.norm * b.norm) DESC,
                            b.vec_id ASC
               ) AS rn
        FROM vecs a CROSS JOIN vecs b
        WHERE a.vec_id <> b.vec_id
    )
    SELECT vec_id, neighbor_id, neighbor_label,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM scored WHERE rn = 1
    """,
)
def q_llm_sim_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-1 neighbor per vector (exact baseline).

    Executed as a block GEMM: the reference matrix (N×64 doubles —
    the *small* side, analogous to a broadcast join build side) is
    broadcast to executors; each Arrow batch of query vectors does
    one BLAS ``block @ matrixᵀ`` and a masked argmax. No 25M-row
    crossJoin materializes, no window shuffle runs — wall-clock is
    FLOP-bound, ~10× faster than the expression-tree formulation. At
    100 TB the broadcast side is the query set (or an IVF codebook,
    see q_llm_sim_ann); the corpus streams through in batches.

    Ranking uses raw doubles with a first-max argmax over vec_id-
    ascending order ≡ the oracle's (cos DESC, vec_id ASC) tiebreak;
    BLAS sum reordering vs the oracle's sequential sums is absorbed
    by the 6-digit round (divergence window ~1e-16 vs 1e-6).

    The result relation is session-memoized (``session_artifact``):
    the ANN recall audit consumes it as its exact-baseline leg, and
    building it only on a miss also keeps the eager broadcast build
    (count + bounded collect) to one per session.
    """
    return session_artifact(
        spark,
        sf_dir,
        "sim_cosine_topk",
        lambda: _sim_cosine_plan(spark, sf_dir).cache(),
    )


def _sim_cosine_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    import numpy as np
    import pandas as pd

    bc = _broadcast_unit_matrix(spark, sf_dir)

    def topk(batches):
        b_ids, b_labels, b_unit = bc.value
        id_pos = {int(i): p for p, i in enumerate(b_ids)}
        for pdf in batches:
            q = np.array(list(pdf["emb"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ b_unit.T
            pos = np.array([id_pos[int(v)] for v in pdf["vec_id"]])
            sims[np.arange(len(pos)), pos] = -np.inf  # mask self
            best = sims.argmax(axis=1)  # first max ⇒ smallest vec_id tiebreak
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"].to_numpy(),
                    "neighbor_id": b_ids[best],
                    "neighbor_label": b_labels[best],
                    "cosine": np.floor(
                        sims[np.arange(len(best)), best] * 1e6 + 0.5
                    )
                    / 1e6,
                }
            )

    v = _vectors(spark, sf_dir).select("vec_id", "emb")
    return v.mapInPandas(
        topk, "vec_id bigint, neighbor_id bigint, neighbor_label int, cosine double"
    )


# IVF cell assignment, shared by q_llm_sim_ann and q_llm_dedup_embed:
# deterministic coarse centroids (vec_id % CENTROID_MOD == 0), each
# vector assigned to its max-cosine centroid with cent_id tiebreak.
_SQL_CELLS = f"""
    cents AS (
        SELECT vec_id AS cent_id, emb AS cemb, norm AS cnorm
        FROM vecs WHERE vec_id % {CENTROID_MOD} = 0
    ),
    assigned AS (
        SELECT vec_id, label, emb, norm, cent_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY list_dot_product(emb, cemb) / (norm * cnorm) DESC,
                            cent_id ASC
               ) AS rn
        FROM vecs CROSS JOIN cents
    ),
    cells AS (SELECT vec_id, label, emb, norm, cent_id FROM assigned WHERE rn = 1)
"""


def _cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assign every vector to its nearest coarse centroid (IVF).

    The centroid set is the *codebook*: bounded by construction (a
    trained k-means would have fixed k), so broadcasting it is the
    legitimate small-side broadcast — the corpus side streams through
    a crossJoin against it with no shuffle and no driver round-trip.

    Cached — q_llm_sim_ann and q_llm_dedup_embed both consume the
    identical assignment (and each uses it on BOTH sides of its
    self-join), so the centroid scan runs once per session+sf_dir.
    """
    # both self-join sides would otherwise race the cold cache build
    return session_artifact(
        spark, sf_dir, "ivf_cells", lambda: _cells_plan(spark, sf_dir)
    )


def _cells_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    # fan the dot-product-heavy assignment past the file-split width
    v = fan_out(_vectors(spark, sf_dir), "vec_id")
    cents = v.filter((F.col("vec_id") % CENTROID_MOD) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
    )
    ccos = _dot(F.col("emb"), F.col("cemb")) / (F.col("norm") * F.col("cnorm"))
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    return (
        v.crossJoin(F.broadcast(cents))
        .withColumn("ccos", ccos)
        .withColumn("rn", F.row_number().over(w_assign))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", "emb", "norm", "cent_id")
        .cache()
    )


@query(
    "q_llm_sim_ann",
    oracle=f"""
    WITH {_SQL_VECS},
    {_SQL_CELLS},
    scored AS (
        SELECT a.vec_id, a.cent_id, b.vec_id AS neighbor_id,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.emb, b.emb) / (a.norm * b.norm) DESC,
                            b.vec_id ASC
               ) AS rn
        FROM cells a JOIN cells b
          ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, cent_id, neighbor_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM scored WHERE rn = 1
    """,
)
def q_llm_sim_ann(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: coarse-quantize to centroids, search the cell.

    Centroids are the vectors with vec_id % 50 == 0 (deterministic —
    a k-means fit would be seed-fragile across engines). Each vector
    joins only its cell: the n² pairwise scan becomes Σ|cell|², and
    the cell join key (cent_id) is the shuffle key — this is the
    shape that scales to 10⁹ vectors with a trained codebook.

    The result relation is session-memoized — the recall audit's ANN
    leg and repeat suite passes read one InMemoryRelation.
    """
    return session_artifact(
        spark, sf_dir, "sim_ann_topk", lambda: _sim_ann_plan(spark, sf_dir).cache()
    )


def _sim_ann_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    cells = _cells(spark, sf_dir)
    a = cells.select(
        "vec_id", "cent_id", F.col("emb").alias("emb_a"), F.col("norm").alias("norm_a")
    )
    b = cells.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("cent_id").alias("cent_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    w_top = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(
            b,
            (F.col("cent_id") == F.col("cent_b"))
            & (F.col("vec_id") != F.col("neighbor_id")),
        )
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "cent_id",
            "neighbor_id",
            half_up(F.col("cos"), 6).alias("cosine"),
        )
    )


@query(
    "q_llm_dedup_embed",
    oracle=f"""
    WITH {_SQL_VECS},
    {_SQL_CELLS}
    SELECT a.vec_id AS vec_a, b.vec_id AS vec_b, a.cent_id,
           (a.label = b.label) AS same_label,
           floor(list_dot_product(a.emb, b.emb) / (a.norm * b.norm)
                 * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM cells a JOIN cells b
      ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    WHERE list_dot_product(a.emb, b.emb) / (a.norm * b.norm)
          >= {EMBED_DUP_THRESHOLD}
    """,
)
def q_llm_dedup_embed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within an IVF cell (semantic
    dedup, SemDeDup-style cluster-then-dedup).

    Pairs are only scored inside their coarse cell: the n² scan
    becomes Σ|cell|², the cell id is the shuffle key, and — unlike
    round 1's formulation — nothing is collected to the driver and
    nothing O(corpus) is broadcast (the codebook crossJoin inside
    ``_cells`` is the only broadcast, bounded by construction).
    Near-identical vectors share a nearest centroid, so recall loss
    is confined to pairs straddling a cell boundary — the standard
    IVF trade, threshold tuned to the fixture's cosine range
    (max ≈ 0.51, FIXTURES profiling).
    """
    cells = _cells(spark, sf_dir)
    a = cells.select(
        F.col("vec_id").alias("vec_a"),
        "cent_id",
        F.col("label").alias("label_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("vec_b"),
        F.col("cent_id").alias("cent_b"),
        F.col("label").alias("label_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    return (
        a.join(
            b,
            (F.col("cent_id") == F.col("cent_b"))
            & (F.col("vec_a") < F.col("vec_b")),
        )
        .withColumn("cos", cos)
        .filter(F.col("cos") >= EMBED_DUP_THRESHOLD)
        .select(
            "vec_a",
            "vec_b",
            "cent_id",
            (F.col("label_a") == F.col("label_b")).alias("same_label"),
            half_up(F.col("cos"), 6).alias("cosine"),
        )
    )


@query(
    "q_llm_embed_stats",
    oracle=f"""
    WITH {_SQL_VECS}
    SELECT label,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(CAST(norm AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_norm,
           floor(min(norm) * 10000.0 + 0.5) / 10000.0 AS min_norm,
           floor(max(norm) * 10000.0 + 0.5) / 10000.0 AS max_norm,
           floor(CAST(sum(CAST(emb[1] AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS avg_dim0
    FROM vecs
    GROUP BY label
    """,
)
def q_llm_embed_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding profile: count / norm range / mean norm /
    mean first component — the corpus-QA pass a vector pipeline runs
    before indexing (catches unnormalized batches, dead dimensions,
    label skew). One hash-aggregate; averages use the exact-decimal
    sum so partition layout can't shift the hash.
    """
    v = _vectors(spark, sf_dir)
    n = F.count("*")
    return v.groupBy("label").agg(
        n.cast("bigint").alias("n_vecs"),
        half_up(
            F.sum(F.col("norm").cast("decimal(38,6)")).cast("double") / n, 4
        ).alias("avg_norm"),
        half_up(F.min("norm"), 4).alias("min_norm"),
        half_up(F.max("norm"), 4).alias("max_norm"),
        half_up(
            F.sum(F.element_at("emb", 1).cast("decimal(38,6)")).cast("double") / n,
            4,
        ).alias("avg_dim0"),
    )


@query(
    "q_llm_embed_quantize",
    oracle="""
    WITH q AS (
        SELECT vec_id,
               len(embedding) AS n_dims,
               list_max(list_transform(embedding, x -> abs(x))) AS max_abs,
               list_transform(
                   embedding,
                   x -> CAST(floor(CAST(x AS DOUBLE)
                                   * (127.0 / list_max(list_transform(
                                          embedding, y -> abs(y))))
                                   + 0.5) AS BIGINT)
               ) AS qv
        FROM embeddings
        WHERE list_max(list_transform(embedding, x -> abs(x))) > 0
    )
    SELECT vec_id,
           CAST(n_dims AS INT) AS n_dims,
           CAST(list_sum(list_transform(qv, v -> abs(v))) AS BIGINT) AS q_l1,
           CAST(list_max(qv) AS BIGINT) AS q_max,
           CAST(list_min(qv) AS BIGINT) AS q_min
    FROM q
    """,
)
def q_llm_embed_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 embedding quantization: per-vector scale
    ``127 / max|x|``, element ``q_i = floor(x_i·s + 0.5)`` — the
    compression step a 10⁹-vector ANN index runs before storage (4×
    smaller than float32, SIMD-friendly dot products).

    Determinism across engines: the float32 elements promote exactly
    to double on both sides, the scale and products are then pure
    IEEE double ops in identical order, and ``floor(x·s + 0.5)`` is
    an explicit half-up rule — unlike ``round()``, whose float
    tie-breaking is engine-specific. Output reports the quantized
    vector's L1/max/min (integer-exact) rather than the int8 array
    itself so the hash compares scalars. Scale shape: a pure
    projection — no shuffle at all; the quantized corpus writes
    partition-parallel at any size.
    """
    e = table(spark, sf_dir, "embeddings")
    max_abs = F.array_max(F.transform("embedding", lambda x: F.abs(x)))
    scale = F.lit(127.0) / F.col("max_abs")
    qv = F.transform(
        "embedding",
        lambda x: F.floor(x.cast("double") * scale + F.lit(0.5)).cast("bigint"),
    )
    return (
        e.select("vec_id", F.size("embedding").alias("n_dims"),
                 max_abs.alias("max_abs"), "embedding")
        .filter(F.col("max_abs") > 0)
        .select("vec_id", "n_dims", qv.alias("qv"))
        .select(
            "vec_id",
            F.col("n_dims").cast("int").alias("n_dims"),
            F.aggregate(
                F.transform("qv", lambda v: F.abs(v)),
                F.lit(0).cast("bigint"),
                lambda acc, v: acc + v,
            ).alias("q_l1"),
            F.array_max("qv").cast("bigint").alias("q_max"),
            F.array_min("qv").cast("bigint").alias("q_min"),
        )
    )


@query(
    "q_llm_embed_centroid",
    oracle=f"""
    WITH {_SQL_VECS}
    SELECT label, CAST(dim AS BIGINT) AS dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(CAST(floor(x * 1000000 + 0.5) AS BIGINT))
                      AS DOUBLE) / count(*) / 100 + 0.5) / 10000
               AS centroid
    FROM (SELECT label, unnest(emb) AS x,
                 generate_subscripts(emb, 1) AS dim
          FROM vecs)
    GROUP BY label, dim
    """,
)
def q_llm_embed_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid over every dimension — the vector-mean
    primitive under k-means / IVF codebook training and class-
    prototype classifiers, expressed relationally.

    ``posexplode`` decomposes each vector into (dim, component) rows,
    then a plain (label, dim) hash-aggregate averages. The explode
    multiplies rows ×dims, but map-side partial aggregation collapses
    each partition to ≤ labels×dims rows before the exchange — so
    shuffle bytes are ∝ labels × dims × partitions, independent of
    vector count. That beats any collect-and-average (driver-bound)
    and needs no UDF.

    Determinism (hardened after the sf0.1 full-suite differential
    caught the decimal-cast form): each component is pinned to an
    exact micro-unit integer with ``floor(x·1e6 + 0.5)`` — plain IEEE
    multiply/add/floor, bit-identical on both engines even when
    x·1e6 lands exactly on .5, where the previous
    ``CAST(x AS DECIMAL(38,6))`` let each engine apply ITS OWN tie
    rule (a float32 whose lowest bit is 2^-7 expands to exactly 7
    decimals — a genuine tie population, ~100 of which shifted one
    (label, dim) sum across a rounding boundary at sf0.1). The
    integer sums are exact longs (order-independent), and the mean
    re-rounds at 4 decimals with the same explicit half-up.
    """
    v = _vectors(spark, sf_dir)
    n = F.count("*")
    e6 = F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("bigint")
    mean4 = (
        F.floor(
            F.sum(e6).cast("double") / n / 100 + F.lit(0.5)
        )
        / 10_000
    )
    return (
        v.select("label", F.posexplode("emb").alias("pos", "x"))
        .groupBy("label", (F.col("pos") + 1).cast("bigint").alias("dim"))
        .agg(
            n.cast("bigint").alias("n_vecs"),
            mean4.alias("centroid"),
        )
    )


N_PLANES = 8  # random-hyperplane signature bits (bucket space = 2^8)


def _plane_weight(p, pos):
    """Pseudo-random hyperplane component in [-2^31, 2^31): the first
    32 bits of md5("{p}_{pos}") recentred — deterministic, identical
    on any engine, no RNG or seed to disagree about."""
    h = F.md5(
        F.concat_ws(
            "_", F.lit(p).cast("string"), pos.cast("string")
        ).cast("binary")
    )
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("bigint") - F.lit(
        2147483648
    )


def _lsh_bucket() -> Column:
    """Signature over ``emb`` as ONE projection expression: for each
    of the 8 hyperplanes, an integer-exact dot product (components
    scaled by 1e6 and floored half-up — both engines produce the same
    integer, and integer sums are order-independent, so the sign bit
    can never flip across engines the way a float fold's last ulp
    could), packed into an 8-bit bucket id."""
    def plane_prods(p: int):
        # closure (not a default arg: pyspark counts lambda arguments to
        # type the higher-order function, so `p=p` would break it)
        return lambda x, i: (
            F.floor(x.cast("double") * 1e6 + F.lit(0.5)).cast("bigint")
            * _plane_weight(p, i)
        )

    bucket = F.lit(0).cast("bigint")
    for p in range(N_PLANES):
        prods = F.transform("emb", plane_prods(p))
        dot = F.aggregate(prods, F.lit(0).cast("bigint"), lambda a, b: a + b)
        bucket = bucket + F.when(dot >= 0, F.lit(1 << p)).otherwise(0)
    return bucket


_SQL_SIGS = """
    comp AS (
        SELECT vec_id, dim - 1 AS pos,
               CAST(floor(x * 1000000 + 0.5) AS BIGINT) AS xi
        FROM (SELECT vec_id, unnest(emb) AS x,
                     generate_subscripts(emb, 1) AS dim
              FROM vecs)
    ),
    bits AS (
        SELECT vec_id, p,
               sum(xi * (CAST(concat('0x',
                        substring(md5(CAST(p AS VARCHAR) || '_'
                                      || CAST(pos AS VARCHAR)), 1, 8))
                    AS BIGINT) - 2147483648)) AS dot
        FROM comp, generate_series(0, 7) t(p)
        GROUP BY vec_id, p
    ),
    sigs AS (
        SELECT vec_id,
               sum(CASE WHEN dot >= 0 THEN CAST(pow(2, p) AS BIGINT)
                   ELSE 0 END) AS bucket
        FROM bits GROUP BY vec_id
    )
"""


@query(
    "q_llm_sim_ann_lsh",
    oracle=f"""
    WITH {_SQL_VECS},
    {_SQL_SIGS},
    scored AS (
        SELECT sa.vec_id, sa.bucket, sb.vec_id AS neighbor_id,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY sa.vec_id
                   ORDER BY list_dot_product(a.emb, b.emb)
                            / (a.norm * b.norm) DESC,
                            sb.vec_id ASC
               ) AS rn
        FROM sigs sa
        JOIN sigs sb ON sa.bucket = sb.bucket AND sa.vec_id <> sb.vec_id
        JOIN vecs a ON a.vec_id = sa.vec_id
        JOIN vecs b ON b.vec_id = sb.vec_id
    )
    SELECT vec_id, CAST(bucket AS BIGINT) AS bucket, neighbor_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM scored WHERE rn = 1
    """,
)
def q_llm_sim_ann_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane (SimHash-for-vectors) LSH ANN: 8 signature
    bits bucket the corpus by cosine direction; nearest-neighbor
    search runs only inside a bucket — the second ANN family beside
    the IVF cells of ``q_llm_sim_ann`` (LSH needs no codebook /
    training pass, IVF gives tighter candidate sets; a production
    index picks per workload, this engine declares both).

    Scale shape: the signature is ONE shuffle-free projection — each
    plane's dot folds over the vector inline (``transform`` with the
    element index + ``aggregate``), so bucketing a 10⁹-vector corpus
    is embarrassingly parallel with zero data movement. The only
    shuffle is the bucket-keyed self-join (the LSH contract: shuffle
    ∝ Σ|bucket|², tuned by the plane count — at corpus scale raise
    the bits or AND-combine bands exactly as the text MinHash op
    does). Hyperplanes are md5-derived constants, and plane dots use
    integer arithmetic (1e-6-scaled components), so the sign of each
    signature bit — the thing a float fold's accumulation order
    could flip for a near-orthogonal vector — is engine-exact;
    final cosines are the usual sequential float folds, bit-identical
    on both sides.
    """
    from frafka_spark.io import fan_out

    # Session-memoized cached signatures: BOTH self-join sides consume
    # this relation, and Catalyst re-expands (and re-executes) the
    # 8-plane integer-fold signature projection per reference without
    # the shared cache — the per-row signature is the expensive leg
    # here, not the bucket join.
    sig = session_artifact(
        spark,
        sf_dir,
        "lsh_vec_sigs",
        lambda: fan_out(_vectors(spark, sf_dir), "vec_id")
        .withColumn("bucket", _lsh_bucket())
        .cache(),
    )
    a = sig.select(
        "vec_id",
        "bucket",
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = sig.select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("bucket").alias("bucket_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    w_top = Window.partitionBy("vec_id").orderBy(
        F.col("cos").desc(), F.col("neighbor_id").asc()
    )
    return (
        a.join(
            b,
            (F.col("bucket") == F.col("bucket_b"))
            & (F.col("vec_id") != F.col("neighbor_id")),
        )
        .withColumn("cos", cos)
        .withColumn("rn", F.row_number().over(w_top))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            F.col("bucket").cast("bigint").alias("bucket"),
            "neighbor_id",
            half_up(F.col("cos"), 6).alias("cosine"),
        )
    )


@query(
    "q_llm_embed_power_iter",
    oracle=f"""
    WITH {_SQL_VECS},
    q AS (
        SELECT vec_id,
               CAST(generate_subscripts(emb, 1) AS BIGINT) AS dim,
               CAST(floor(unnest(emb) * 1e6 + 0.5) AS BIGINT) AS qx
        FROM vecs
    ),
    r AS (SELECT vec_id, sum(qx) AS rowsum FROM q GROUP BY vec_id)
    SELECT q.dim,
           CAST(count(*) AS BIGINT) AS n_vecs,
           floor(CAST(sum(CAST(q.qx * r.rowsum AS DECIMAL(38,0))) AS DOUBLE)
                 / 1e12 * 1000000.0 + 0.5) / 1000000.0 AS s
    FROM q JOIN r USING (vec_id)
    GROUP BY q.dim
    """,
)
def q_llm_embed_power_iter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One power-iteration step toward the corpus's top principal
    direction: ``s = Xᵀ (X · v₀)`` with the fixed seed ``v₀ = 1`` —
    the building block of PCA / spectral embedding-drift monitors.
    (Iterating is just re-running the step with ``v₀`` = the previous
    ``s``; one step is declared because its result is closed-form
    checkable.)

    Exactness discipline: components quantize to integers
    (``floor(x·1e6 + 0.5)`` — identical on both engines), so the
    row-dots ``r_i = Σ_j q_ij`` are exact BIGINTs and the projection
    ``s_j = Σ_i q_ij·r_i`` accumulates exact products in
    DECIMAL(38,0) — no float fold anywhere until the single final
    ÷1e12 + round. Scale shape: the row-dot is a per-row array fold
    (``aggregate`` over the quantized array — exactly Σ_j of the same
    BIGINTs the oracle's GROUP BY vec_id sums), so the corpus is
    scanned ONCE and the only exchange is the ≤dims-row dim
    aggregate's (map-side partials collapse it to ≤ dims rows per
    partition first); the former q⋈r self-join — a second scan +
    explode + per-vector aggregate + broadcast — is gone. Nothing is
    collected; no O(corpus) broadcast.
    """
    v = _vectors(spark, sf_dir)
    # vec_id IS NOT NULL mirrors the replaced inner q⋈r join (and the
    # oracle's JOIN ... USING (vec_id)), which drops a null-keyed row.
    qv = v.filter(F.col("vec_id").isNotNull()).select(
        F.expr(
            "transform(emb, x -> CAST(floor(x * 1e6 + 0.5D) AS BIGINT))"
        ).alias("qarr")
    ).select(
        F.expr("aggregate(qarr, 0L, (acc, x) -> acc + x)").alias("rowsum"),
        F.posexplode("qarr").alias("pos", "qx"),
    )
    return (
        qv.select(
            (F.col("pos") + 1).cast("bigint").alias("dim"), "qx", "rowsum"
        )
        .groupBy("dim")
        .agg(
            F.count("*").cast("bigint").alias("n_vecs"),
            half_up(
                F.sum(
                    (F.col("qx") * F.col("rowsum")).cast("decimal(38,0)")
                ).cast("double")
                / 1e12,
                6,
            ).alias("s"),
        )
    )


def _ann_recall_oracle() -> str:
    from frafka_spark.registry import QUERIES

    return f"""
    WITH brute AS ({QUERIES['q_llm_sim_cosine'].oracle}),
    ann AS ({QUERIES['q_llm_sim_ann'].oracle})
    SELECT count(*) AS n_queries,
           CAST(sum(CASE WHEN a.neighbor_id = b.neighbor_id
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_top1_match,
           floor(CAST(sum(CASE WHEN a.neighbor_id = b.neighbor_id
                              THEN 1 ELSE 0 END) AS DOUBLE)
                 / count(*) * 10000.0 + 0.5) / 10000.0 AS recall_at_1,
           {sql_dec_avg('a.cosine - b.cosine')} AS mean_cos_loss
    FROM ann a
    JOIN brute b USING (vec_id)
    """


@query("q_llm_ann_recall", oracle=None)
def q_llm_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality audit: recall@1 of the IVF cell search against the
    exact brute-force baseline, plus the mean cosine sacrificed when
    the cell misses the true neighbor — the accept/reject gate every
    ANN deployment runs before trading exactness for scale.

    Composes the two DECLARED similarity queries (registered callables
    on the Spark side, registered oracles as CTEs on the DuckDB side —
    the pipeline audited IS the pipeline declared). The join keys on
    vec_id over two ≤corpus-row relations; counters are exact
    integers and the cosine-loss mean accumulates in the exact
    decimal sum. Scale: the audit costs one equi-join over the two
    result relations — at production scale one runs it on a sampled
    query set, which is just a filter on vec_id ahead of both
    pipelines.
    """
    brute = q_llm_sim_cosine(spark, sf_dir).select(
        "vec_id", F.col("neighbor_id").alias("true_nn"),
        F.col("cosine").alias("true_cos"),
    )
    ann = q_llm_sim_ann(spark, sf_dir).select(
        "vec_id", F.col("neighbor_id").alias("ann_nn"),
        F.col("cosine").alias("ann_cos"),
    )
    hit = (F.col("ann_nn") == F.col("true_nn")).cast("long")
    return (
        ann.join(brute, "vec_id")
        .agg(
            F.count("*").alias("n_queries"),
            F.sum(hit).alias("n_top1_match"),
            half_up(
                F.sum(hit).cast("double") / F.count("*"), 4
            ).alias("recall_at_1"),
            dec_avg(F.col("ann_cos") - F.col("true_cos"), "mean_cos_loss"),
        )
    )


from frafka_spark.registry import QUERIES as _QR  # noqa: E402

_QR["q_llm_ann_recall"].oracle = _ann_recall_oracle()
del _QR


N_PROBES = 2  # cells searched per query in the multi-probe variant


@query(
    "q_llm_sim_ann_probe2",
    oracle=f"""
    WITH {_SQL_VECS},
    {_SQL_CELLS},
    probes AS (
        SELECT vec_id, emb, norm, cent_id FROM assigned WHERE rn <= {N_PROBES}
    ),
    scored AS (
        SELECT p.vec_id, b.vec_id AS neighbor_id,
               list_dot_product(p.emb, b.emb) / (p.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY p.vec_id
                   ORDER BY list_dot_product(p.emb, b.emb)
                            / (p.norm * b.norm) DESC,
                            b.vec_id ASC
               ) AS rn
        FROM probes p
        JOIN cells b ON b.cent_id = p.cent_id AND b.vec_id <> p.vec_id
    )
    SELECT vec_id, neighbor_id,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM scored WHERE rn = 1
    """,
)
def q_llm_sim_ann_probe2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe IVF ANN: each query searches its {N_PROBES} nearest
    cells instead of one — the standard recall lever when the audit
    (``q_llm_ann_recall``: 0.29 recall@1 single-probe at this
    fixture's modulo codebook) says the cell boundary is eating true
    neighbors. Probing P cells multiplies candidate work by ~P while
    leaving the index untouched — the cheap knob one turns before
    retraining the codebook.

    A member belongs to exactly ONE cell, so the probe→member join
    cannot duplicate a candidate pair — no DISTINCT pass needed.

    Plan shape (guide §2.3/§2.4): the top-{N_PROBES} cell assignment
    happens IN-ROW against the codebook pivoted to a one-row struct
    array (the q_llm_embed_pq argmin discipline) — a comparator
    array_sort mirrors the oracle's (ccos DESC, cent_id ASC) window
    order exactly, so no |vecs|×|cells| crossJoin row fan and no
    row_number sort-shuffle ever materialize; the probe stream stays
    |vecs| rows wide until the {N_PROBES}-way explode. The candidate
    join still keys on cent_id against the memoized cell index, and
    the per-query top-1 is a map-side-combinable ``max(struct(cos,
    −neighbor_id))`` partial aggregate (the q_events_user_similarity
    discipline) instead of a rank window — candidates collapse to
    ≤|queries| rows per partition before their only shuffle. Proven
    row-identical to the window formulation (exceptAll 0 both ways);
    the oracle keeps the windowed statement.
    """
    v = fan_out(_vectors(spark, sf_dir), "vec_id")
    cbook = (
        v.filter((F.col("vec_id") % CENTROID_MOD) == 0)
        .groupBy()
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(
                        F.col("vec_id").alias("cent_id"),
                        F.col("emb").alias("cemb"),
                        F.col("norm").alias("cnorm"),
                    )
                )
            ).alias("cbook")
        )
    )
    # same dot / divide arithmetic as the window form, evaluated per
    # codebook entry inside the row; comparator = (ccos DESC, cent_id
    # ASC), i.e. the oracle's ORDER BY, with IEEE comparisons.
    top_cells = F.expr(
        f"""
        slice(array_sort(
          transform(cbook, c -> struct(
            aggregate(zip_with(emb, c.cemb, (x, y) -> x * y), 0.0D,
                      (acc, x) -> acc + x) / (norm * c.cnorm) AS ccos,
            c.cent_id AS cent_id)),
          (l, r) -> CASE WHEN l.ccos > r.ccos THEN -1
                         WHEN l.ccos < r.ccos THEN 1
                         WHEN l.cent_id < r.cent_id THEN -1
                         WHEN l.cent_id > r.cent_id THEN 1
                         ELSE 0 END), 1, {N_PROBES})"""
    )
    probes = v.crossJoin(F.broadcast(cbook)).select(
        "vec_id",
        "emb",
        "norm",
        F.explode(top_cells.getField("cent_id")).alias("cent_id"),
    )
    members = _cells(spark, sf_dir).select(
        F.col("vec_id").alias("neighbor_id"),
        F.col("emb").alias("bemb"),
        F.col("norm").alias("bnorm"),
        F.col("cent_id").alias("bcent"),
    )
    cos = _dot(F.col("emb"), F.col("bemb")) / (F.col("norm") * F.col("bnorm"))
    return (
        probes.join(
            members,
            (F.col("bcent") == F.col("cent_id"))
            & (F.col("neighbor_id") != F.col("vec_id")),
        )
        .withColumn("cos", cos)
        .groupBy("vec_id")
        .agg(
            F.max(
                F.struct(
                    F.col("cos").alias("cos"),
                    (-F.col("neighbor_id")).alias("negid"),
                )
            ).alias("b")
        )
        .select(
            "vec_id",
            (-F.col("b.negid")).alias("neighbor_id"),
            half_up(F.col("b.cos"), 6).alias("cosine"),
        )
    )


SWEEP_THRESHOLDS = (0.25, 0.30, 0.35, 0.40, 0.45)


@query(
    "q_llm_dedup_embed_sweep",
    oracle=f"""
    WITH {_SQL_VECS},
    {_SQL_CELLS},
    pairs AS (
        SELECT a.vec_id AS va, b.vec_id AS vb,
               (a.label = b.label) AS same_label,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos
        FROM cells a JOIN cells b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
    ),
    thr AS (
        SELECT CAST(unnest([{", ".join(str(t) for t in SWEEP_THRESHOLDS)}])
                    AS DOUBLE) AS threshold
    ),
    hits AS (
        SELECT t.threshold, p.va, p.vb, p.same_label
        FROM thr t JOIN pairs p ON p.cos >= t.threshold
    ),
    pair_stats AS (
        SELECT threshold, count(*) AS n_pairs,
               floor(count(*) FILTER (same_label)
                     / CAST(count(*) AS DOUBLE) * 10000.0 + 0.5)
                   / 10000.0 AS same_label_frac
        FROM hits GROUP BY threshold
    ),
    doc_stats AS (
        SELECT threshold, count(DISTINCT v) AS n_docs
        FROM (SELECT threshold, unnest([va, vb]) AS v FROM hits)
        GROUP BY threshold
    )
    SELECT p.threshold, p.n_pairs, d.n_docs, p.same_label_frac
    FROM pair_stats p JOIN doc_stats d USING (threshold)
    """,
)
def q_llm_dedup_embed_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup operating curve: semantic-dup pair count, affected-doc
    count, and same-label purity at each candidate cosine threshold —
    the tuning table a team reads before committing to ONE threshold
    for `q_llm_dedup_embed` (too low deletes diversity, too high
    leaves near-dups; purity falling with the threshold is the
    smoking gun for over-aggressive settings).

    The in-cell pair scan (the expensive part, Σ|cell|² bounded by
    the IVF partitioning) runs ONCE with no threshold; the sweep is
    an explode over the constant threshold list ON the detected-pair
    relation — cost ∝ pairs×|thresholds|, so sweeping 5 settings is
    ~free compared with re-running detection 5 times. Thresholds with
    zero pairs drop out on both engines (inner join). Distinct
    affected docs ride an endpoint explode + per-threshold distinct
    aggregate on the same hits relation.
    """
    cells = _cells(spark, sf_dir)
    a = cells.select(
        F.col("vec_id").alias("va"),
        "cent_id",
        F.col("label").alias("label_a"),
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("vb"),
        F.col("cent_id").alias("cent_b"),
        F.col("label").alias("label_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (F.col("norm_a") * F.col("norm_b"))
    hits = (
        a.join(
            b,
            (F.col("cent_id") == F.col("cent_b")) & (F.col("va") < F.col("vb")),
        )
        .withColumn("cos", cos)
        .withColumn(
            "threshold",
            F.explode(F.array(*[F.lit(float(t)) for t in SWEEP_THRESHOLDS])),
        )
        .filter(F.col("cos") >= F.col("threshold"))
        .select("threshold", "va", "vb", (F.col("label_a") == F.col("label_b")).alias("same_label"))
    )
    pair_stats = hits.groupBy("threshold").agg(
        F.count("*").alias("n_pairs"),
        half_up(
            F.count(F.when(F.col("same_label"), F.lit(1)))
            / F.count(F.lit(1)).cast("double"),
            4,
        ).alias("same_label_frac"),
    )
    doc_stats = (
        hits.select("threshold", F.explode(F.array("va", "vb")).alias("v"))
        .groupBy("threshold")
        .agg(F.countDistinct("v").alias("n_docs"))
    )
    return pair_stats.join(doc_stats, "threshold").select(
        "threshold", "n_pairs", "n_docs", "same_label_frac"
    )
