"""TRAINED IVF-PQ index at rest (round 12, VERDICT r11 ask #1):
the composition the r11 verdict ordered — ``q_llm_kmeans_step``'s
pinned Lloyd arithmetic (llm/cluster.py), the PQ encoder (llm/pq.py),
and the at-rest index machinery (llm/index_store.py) fused into ONE
persisted, incrementally-maintained ANN index:

- a seeded k-means codebook TRAINED on the base corpus with a FIXED
  iteration count (``KM_ITERS`` Lloyd rounds — the deterministic-
  oracle trick ``q_llm_kmeans_step`` established: raw-double seeds,
  micro-unit-pinned 4-decimal centroid means, squared-L2 argmin with
  a cent_id tiebreak, so DuckDB can replay training move-for-move);
- the codebook, every vector's cell assignment, AND its PQ codes
  persisted as manifest TABLES beside the corpus;
- NEW vectors (the crawl append) assigned incrementally from the
  change feed under the FROZEN codebook — index(base) ∪ index(delta)
  == index(base ∪ delta), the per-doc property that makes the index
  maintainable at all (a codebook retrain is a rebuild by
  definition, committed as a new table version readers pin across).

Upstream qntfy/frafka has no vector surface (SURVEY §0: a Kafka
source/sink library); this family extends the engine to the
training-data-pipeline operators the task brief names first-class.

Scale shape: training touches the base ONCE per Lloyd round (k·dims
centroid state is a model constant — broadcast by construction,
never data-sized; the argmin is a map-side-combining min(struct)),
assignment of a crawl is O(crawl · k), and serving reads ONLY the
at-rest cells (Σ|cell|² within-cell joins — the q_llm_sim_ann shape)
— at 10⁹ vectors this is exactly the FAISS-style IVF train/add/search
split, expressed relationally.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up, sql_half_up
from frafka_spark.llm.index_store import CRAWL_MOD
from frafka_spark.llm.pq import PQ_CODES, PQ_M, PQ_QUERY_N, PQ_SUBDIM
from frafka_spark.llm.similarity import CENTROID_MOD, _dot, _vectors
from frafka_spark.operators.lakehouse import _ensure_table, _register_builder
from frafka_spark.registry import query

#: fixed Lloyd iteration count — the determinism contract: both
#: engines replay exactly this many assign/update rounds from the
#: same seeds, so the trained codebook is bit-identical cross-engine
KM_ITERS = 2


def _assign_min_l2(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """(vec_id, cent_id): nearest centroid by squared L2 (three-dot
    expansion — the exact term order the oracle writes), cent_id
    ascending on true ties. The k-candidate fan-out collapses
    map-side via min(struct) before the vec_id exchange
    (q_llm_kmeans_step's plan note)."""
    d2 = (
        _dot(F.col("emb"), F.col("emb"))
        - 2 * _dot(F.col("emb"), F.col("cvec"))
        + _dot(F.col("cvec"), F.col("cvec"))
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        .select("vec_id", F.struct(d2.alias("d2"), "cent_id").alias("s"))
        .groupBy("vec_id")
        .agg(F.min("s").alias("m"))
        .select("vec_id", F.col("m.cent_id").alias("cent_id"))
    )


def _update_centroids(members: DataFrame) -> DataFrame:
    """(cent_id, cvec): per-cluster micro-unit-pinned 4-decimal means
    — the identical arithmetic of cluster._SQL_CENTROIDS, keyed by
    cent_id instead of label. Empty clusters simply vanish (both
    engines group over assigned members only)."""
    e6 = F.floor(F.col("x") * 1_000_000 + F.lit(0.5)).cast("bigint")
    per_dim = (
        members.select("cent_id", F.posexplode("emb").alias("pos", "x"))
        .groupBy("cent_id", "pos")
        .agg(
            (
                F.floor(
                    F.sum(e6).cast("double") / F.count("*") / 100
                    + F.lit(0.5)
                )
                / 10_000
            ).alias("centroid")
        )
    )
    return (
        per_dim.groupBy("cent_id")
        .agg(
            F.array_sort(
                F.collect_list(F.struct("pos", "centroid"))
            ).alias("pc")
        )
        .select(
            "cent_id",
            F.transform("pc", lambda s: s["centroid"]).alias("cvec"),
        )
    )


def train_codebook(base: DataFrame, iters: int = KM_ITERS) -> DataFrame:
    """Seeded k-means: seeds are the raw embeddings of
    ``vec_id % CENTROID_MOD == 0`` (the same k as the modular-centroid
    baseline, so recall comparisons are apples-to-apples — the ONLY
    change is where the centroids sit), then ``iters`` fixed Lloyd
    rounds of assign + pinned-mean update."""
    cents = base.filter((F.col("vec_id") % CENTROID_MOD) == 0).select(
        F.col("vec_id").alias("cent_id"), F.col("emb").alias("cvec")
    )
    for _ in range(iters):
        a = _assign_min_l2(base.select("vec_id", "emb"), cents)
        cents = _update_centroids(
            base.select("vec_id", "emb").join(a, "vec_id")
        )
    return cents


def assign_cells(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """Full-width cell rows under a FROZEN codebook: (vec_id, label,
    emb, norm, cent_id) — per-row, hence CDF-incremental."""
    a = _assign_min_l2(vectors.select("vec_id", "emb"), cents)
    return vectors.join(a, "vec_id").select(
        "vec_id", "label", "emb", "norm", "cent_id"
    )


def _subs_of(vectors: DataFrame) -> DataFrame:
    """Per-subspace slices of ANY (vec_id, emb) relation — the generic
    form of pq._subs (same slice expression), so the same code encodes
    the base build and the CDF delta."""
    return (
        vectors.select(
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


def encode_pq(vectors: DataFrame, codes: DataFrame) -> DataFrame:
    """(vec_id, sub, code_id, d2): nearest per-subspace code by
    squared L2, code_id ascending on ties — pq._assignments against a
    FROZEN codebook, min(struct) instead of a window (same argmin,
    partial-aggregatable)."""
    subs = _subs_of(vectors)
    scored = subs.join(F.broadcast(codes), "sub").select(
        "vec_id",
        "sub",
        F.struct(
            (
                F.col("ss")
                - F.lit(2) * _dot(F.col("s"), F.col("c"))
                + F.col("cc")
            ).alias("d2"),
            "code_id",
        ).alias("sc"),
    )
    return (
        scored.groupBy("vec_id", "sub")
        .agg(F.min("sc").alias("m"))
        .select(
            "vec_id", "sub",
            F.col("m.code_id").alias("code_id"),
            F.col("m.d2").alias("d2"),
        )
    )


@_register_builder(
    "embeddings_ann_trained",
    fp_params=[CRAWL_MOD, CENTROID_MOD, KM_ITERS, PQ_M, PQ_CODES],
)
def _build_trained_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """vectors  v0 = base (seeds AND PQ codebook ids forced in so the
                     frozen codebooks equal the oracle's), v1 = crawl
    codebook  one overwrite: the KM_ITERS-trained centroids
    cells     c0 = assign(base) under the trained codebook,
              c1 = append assign(CDF delta v0→v1) — frozen codebook
    pq_codes  p0 = encode(base), p1 = append encode(CDF delta)"""
    from frafka_spark.sources.manifest_table import (
        read_changes,
        read_table,
        write_table,
    )

    v = _vectors(spark, sf_dir)  # vec_id, label, emb, norm
    is_base = (
        (F.col("vec_id") % CRAWL_MOD != 0)
        | (F.col("vec_id") % CENTROID_MOD == 0)
        | (F.col("vec_id") < PQ_CODES)
    )
    vectors = dest / "vectors"
    write_table(v.filter(is_base), str(vectors), mode="overwrite")
    write_table(v.filter(~is_base), str(vectors), mode="append")

    base = read_table(spark, str(vectors), version=0)
    cents = train_codebook(base)
    write_table(cents, str(dest / "codebook"), mode="overwrite")

    # serving state is built FROM the persisted codebook (not the
    # in-flight frame) — the at-rest flow a restart would take
    cents_at_rest = read_table(spark, str(dest / "codebook"))
    write_table(
        assign_cells(base, cents_at_rest), str(dest / "cells"),
        mode="overwrite",
    )
    pq_codes = _subs_of(base).filter(F.col("vec_id") < PQ_CODES).select(
        "sub", F.col("vec_id").alias("code_id"),
        F.col("s").alias("c"), F.col("ss").alias("cc"),
    )
    write_table(
        encode_pq(base, pq_codes), str(dest / "pq_codes"), mode="overwrite"
    )

    delta = (
        read_changes(spark, str(vectors), 0, 1)
        .filter(F.col("_change_type") == "insert")
        .select("vec_id", "label", "emb", "norm")
    )
    write_table(
        assign_cells(delta, cents_at_rest), str(dest / "cells"),
        mode="append",
    )
    write_table(
        encode_pq(delta, pq_codes), str(dest / "pq_codes"), mode="append"
    )


def _iter_ctes(i: int, prev_cents: str) -> str:
    """One oracle Lloyd round: assignment a{i} of the base under
    ``prev_cents``, then pinned-mean centroids c{i} — the SQL twins of
    _assign_min_l2/_update_centroids (distance chain and mean
    arithmetic written identically)."""
    return f"""
    s{i} AS (
        SELECT b.vec_id, c.cent_id,
               row_number() OVER (
                   PARTITION BY b.vec_id
                   ORDER BY list_dot_product(b.emb, b.emb)
                            - 2 * list_dot_product(b.emb, c.cvec)
                            + list_dot_product(c.cvec, c.cvec) ASC,
                            c.cent_id ASC) AS rk
        FROM base b, {prev_cents} c
    ),
    a{i} AS (SELECT vec_id, cent_id FROM s{i} WHERE rk = 1),
    c{i} AS (
        SELECT cent_id, list(centroid ORDER BY dim) AS cvec
        FROM (
            SELECT a.cent_id, e.dim,
                   floor(CAST(sum(CAST(floor(e.x * 1000000 + 0.5)
                                       AS BIGINT)) AS DOUBLE)
                         / count(*) / 100 + 0.5) / 10000 AS centroid
            FROM (SELECT vec_id, unnest(emb) AS x,
                         generate_subscripts(emb, 1) AS dim
                  FROM base) e
            JOIN a{i} a USING (vec_id)
            GROUP BY a.cent_id, e.dim
        ) GROUP BY cent_id
    )"""


def _training_ctes() -> str:
    """The shared oracle CTE chain: vectors → base split → seeds →
    KM_ITERS unrolled Lloyd rounds → the trained ``cells`` relation
    (every vector's emb, norm, cent_id) — the from-scratch twin of
    the at-rest cells table, reused by every trained-index oracle."""
    rounds = ",".join(
        _iter_ctes(i, "c0" if i == 1 else f"c{i - 1}")
        for i in range(1, KM_ITERS + 1)
    )
    final = f"c{KM_ITERS}"
    return f"""vecs AS (
        SELECT vec_id, label, embedding::DOUBLE[] AS emb,
               sqrt(list_dot_product(embedding::DOUBLE[],
                                     embedding::DOUBLE[])) AS norm
        FROM embeddings
    ),
    base AS (
        SELECT * FROM vecs
        WHERE vec_id % {CRAWL_MOD} <> 0
           OR vec_id % {CENTROID_MOD} = 0
           OR vec_id < {PQ_CODES}
    ),
    c0 AS (
        SELECT vec_id AS cent_id, emb AS cvec
        FROM base WHERE vec_id % {CENTROID_MOD} = 0
    ),
    {rounds},
    scored AS (
        SELECT v.vec_id, v.emb, v.norm, c.cent_id,
               row_number() OVER (
                   PARTITION BY v.vec_id
                   ORDER BY list_dot_product(v.emb, v.emb)
                            - 2 * list_dot_product(v.emb, c.cvec)
                            + list_dot_product(c.cvec, c.cvec) ASC,
                            c.cent_id ASC) AS rk
        FROM vecs v, {final} c
    ),
    cells AS (
        SELECT vec_id, emb, norm, cent_id FROM scored WHERE rk = 1
    )"""


def _trained_oracle() -> str:
    """The full training replay + at-rest serving twin in SQL:
    hash-matching this end-to-end gates all three halves — training
    determinism, frozen-codebook CDF maintenance, at-rest serving."""
    return f"""
    WITH {_training_ctes()},
    pairs AS (
        SELECT a.vec_id, a.cent_id, b.vec_id AS neighbor_id,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.emb, b.emb)
                            / (a.norm * b.norm) DESC,
                            b.vec_id ASC) AS rk
        FROM cells a JOIN cells b
          ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id
    )
    SELECT vec_id, cent_id, neighbor_id,
           {sql_half_up('cos', 6)} AS cosine
    FROM pairs WHERE rk = 1
    """


@query("q_llm_sim_ann_trained", oracle=_trained_oracle())
def q_llm_sim_ann_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN top-1 served from the TRAINED at-rest IVF index: cells were
    assigned under a k-means codebook trained for exactly KM_ITERS
    Lloyd rounds on the base corpus and persisted as a manifest table;
    the crawl's vectors joined via the CDF under the FROZEN codebook.
    The oracle replays the whole lifecycle from scratch in SQL
    (seeded, fixed-iteration training is deterministic cross-engine —
    q_llm_kmeans_step's arithmetic), so the hash gates training,
    maintenance, AND serving in one key. The pytest additionally
    holds recall@1 ≥ the modular-centroid baseline (q_llm_sim_ann) —
    trained centroids must EARN their keep — and proves CDF-delta
    assignment equals a full rebuild.

    Exactness: seeds are raw parquet doubles; every trained centroid
    component is a micro-unit-pinned 4-decimal mean; distances are
    the identical three-dot sequential folds; argmins tiebreak on
    cent_id/neighbor_id; the reported cosine rides the pinned
    half-up.

    Scale shape: FAISS's train/add/search split, relationally —
    train touches the base KM_ITERS times with broadcast-sized
    centroid state, add is O(crawl·k) per CDF window, search reads
    only persisted cells (Σ|cell|² within-cell joins, never n²).
    """
    from pyspark.sql import Window

    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_ann_trained")

    def build() -> DataFrame:
        cells = read_table(spark, str(Path(path) / "cells"))
        a = cells.select(
            "vec_id", "cent_id",
            F.col("emb").alias("emb_a"), F.col("norm").alias("norm_a"),
        )
        b = cells.select(
            F.col("vec_id").alias("neighbor_id"),
            F.col("cent_id").alias("cent_b"),
            F.col("emb").alias("emb_b"),
            F.col("norm").alias("norm_b"),
        )
        cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
            F.col("norm_a") * F.col("norm_b")
        )
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
                "vec_id", "cent_id", "neighbor_id",
                half_up(F.col("cos"), 6).alias("cosine"),
            )
        )

    return session_artifact(spark, sf_dir, "sim_ann_trained", lambda: build().cache())


def _pq_at_rest_oracle() -> str:
    """q_llm_embed_pq's oracle verbatim — the at-rest codes table must
    BE the encode relation (base ∪ CDF delta == full encode)."""
    from frafka_spark.registry import QUERIES

    return QUERIES["q_llm_embed_pq"].oracle


@query("q_llm_pq_codes_at_rest", oracle=_pq_at_rest_oracle())
def q_llm_pq_codes_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PQ code table served AT REST: every vector's per-subspace
    code ids and quantization errors read from the manifest table the
    trained-index lifecycle maintains (base encode + frozen-codebook
    CDF appends) — the corpus floats are never re-read. Shares
    ``q_llm_embed_pq``'s oracle verbatim, so the hash gates
    maintenance == full re-encode on the consumption side.

    Scale shape: the compressed half of IVF-PQ at rest — M·log₂K bits
    per vector beside the cells table; ADC search (q_llm_pq_adc)
    reads THESE codes instead of corpus floats, and a crawl append
    costs O(crawl·M·K) encode work, never a corpus re-encode.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_ann_trained")
    codes = read_table(spark, str(Path(path) / "pq_codes"))
    return codes.select(
        "vec_id", "sub", "code_id", half_up(F.col("d2"), 6).alias("qerr")
    )


def _adc_at_rest_oracle() -> str:
    """q_llm_pq_adc's oracle verbatim — ADC over the at-rest codes
    must BE the ADC over a fresh encode (the codes table is
    hash-proven equal to the encode relation)."""
    from frafka_spark.registry import QUERIES

    return QUERIES["q_llm_pq_adc"].oracle


@query("q_llm_pq_adc_at_rest", oracle=_adc_at_rest_oracle())
def q_llm_pq_adc_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ADC SEARCH served from the AT-REST PQ codes: the asymmetric-
    distance scan (query-side exact LUT parts summed at each corpus
    vector's STORED codes, audited against the exact brute-force
    top-1) reads the code table the trained-index lifecycle maintains
    — the corpus floats are never re-read and the encode pass never
    re-runs, which is the entire economics of PQ at 100 TB: the index
    stores M·log₂K bits per vector and search touches only those.
    Shares ``q_llm_pq_adc``'s oracle verbatim, closing the last leg
    of the IVF-PQ serving path (cells: q_llm_sim_ann_trained; codes:
    q_llm_pq_codes_at_rest; search: this key).

    Exactness: identical to q_llm_pq_adc — the at-rest codes are
    hash-proven equal to the fresh encode, and the LUT/audit legs are
    the same fixed-order arithmetic.
    """
    from frafka_spark.llm.pq import adc_audit
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_ann_trained")
    codes = read_table(spark, str(Path(path) / "pq_codes")).select(
        "vec_id", "sub", "code_id"
    )
    return adc_audit(spark, sf_dir, codes)


def _ivfpq_oracle() -> str:
    """The COMPOSED search replay: trained cells (the shared training
    CTE chain) + PQ encode + per-query LUT, then — for each query in
    the fixed window — ADC ranking RESTRICTED to the query's trained
    cell, audited against the exact L2 top-1 within the same cell.
    Distances are the identical three-dot sequential folds; the ADC
    total is the fixed-order four-term sum; argmins tiebreak on
    vec_id."""
    qwin = f"vec_id >= {PQ_CODES} AND vec_id < {PQ_CODES + PQ_QUERY_N}"
    return f"""
    WITH {_training_ctes()},
    subs AS MATERIALIZED (
        SELECT vec_id, sub,
               emb[(sub - 1) * {PQ_SUBDIM} + 1 : sub * {PQ_SUBDIM}] AS s
        FROM vecs
        CROSS JOIN (SELECT unnest(generate_series(1, {PQ_M})) AS sub)
    ),
    pcodes AS MATERIALIZED (
        SELECT sub, vec_id AS code_id, s AS c
        FROM subs WHERE vec_id < {PQ_CODES}
    ),
    pscored AS (
        SELECT v.vec_id, v.sub, k.code_id,
               row_number() OVER (
                   PARTITION BY v.vec_id, v.sub
                   ORDER BY list_dot_product(v.s, v.s)
                                - 2 * list_dot_product(v.s, k.c)
                                + list_dot_product(k.c, k.c) ASC,
                            k.code_id ASC
               ) AS rn
        FROM subs v JOIN pcodes k ON k.sub = v.sub
    ),
    wide AS MATERIALIZED (
        SELECT vec_id,
               max(CASE WHEN sub = 1 THEN code_id END) AS k1,
               max(CASE WHEN sub = 2 THEN code_id END) AS k2,
               max(CASE WHEN sub = 3 THEN code_id END) AS k3,
               max(CASE WHEN sub = 4 THEN code_id END) AS k4
        FROM pscored WHERE rn = 1 GROUP BY vec_id
    ),
    lut AS MATERIALIZED (
        SELECT q.vec_id AS q_id, q.sub, k.code_id,
               list_dot_product(q.s, q.s)
                   - 2 * list_dot_product(q.s, k.c)
                   + list_dot_product(k.c, k.c) AS part
        FROM subs q JOIN pcodes k ON k.sub = q.sub
        WHERE q.{qwin}
    ),
    queries AS (
        SELECT vec_id AS q_id, cent_id AS q_cent, emb AS qemb,
               list_dot_product(emb, emb) AS qq
        FROM cells WHERE {qwin}
    ),
    cand AS (
        SELECT q.q_id, q.q_cent, q.qemb, q.qq,
               c.vec_id, c.emb
        FROM queries q JOIN cells c
          ON c.cent_id = q.q_cent AND c.vec_id <> q.q_id
    ),
    adc AS (
        SELECT d.q_id, d.q_cent, d.vec_id,
               l1.part + l2.part + l3.part + l4.part AS d_adc,
               row_number() OVER (
                   PARTITION BY d.q_id
                   ORDER BY l1.part + l2.part + l3.part + l4.part ASC,
                            d.vec_id ASC
               ) AS rn
        FROM cand d
        JOIN wide w ON w.vec_id = d.vec_id
        JOIN lut l1 ON l1.q_id = d.q_id AND l1.sub = 1
                   AND l1.code_id = w.k1
        JOIN lut l2 ON l2.q_id = d.q_id AND l2.sub = 2
                   AND l2.code_id = w.k2
        JOIN lut l3 ON l3.q_id = d.q_id AND l3.sub = 3
                   AND l3.code_id = w.k3
        JOIN lut l4 ON l4.q_id = d.q_id AND l4.sub = 4
                   AND l4.code_id = w.k4
    ),
    cellexact AS (
        SELECT q_id, vec_id,
               qq - 2 * list_dot_product(qemb, emb)
                  + list_dot_product(emb, emb) AS d_true,
               row_number() OVER (
                   PARTITION BY q_id
                   ORDER BY qq - 2 * list_dot_product(qemb, emb)
                               + list_dot_product(emb, emb) ASC,
                            vec_id ASC
               ) AS rn
        FROM cand
    )
    SELECT a.q_id, CAST(a.q_cent AS INT) AS cent_id,
           a.vec_id AS adc_id, e.vec_id AS exact_id,
           (a.vec_id = e.vec_id) AS hit,
           {sql_half_up('a.d_adc', 6)} AS adc_d,
           {sql_half_up('e.d_true', 6)} AS exact_d
    FROM adc a JOIN cellexact e ON e.q_id = a.q_id AND e.rn = 1
    WHERE a.rn = 1
    """


@query("q_llm_ivfpq_search", oracle=_ivfpq_oracle())
def q_llm_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED IVF-PQ search — the full billion-vector serving
    path, every input AT REST: each query (the fixed PQ window)
    probes its TRAINED cell (read from the cells table — the trained
    codebook's assignment), candidates are ONLY that cell's members,
    and ranking is ADC over the candidates' STORED codes (read from
    the pq_codes table; the query-side LUT and the PQ code vectors
    come from the cells table's embeddings) — audited per query
    against the exact L2 top-1 within the same cell, which isolates
    PQ quantization error from IVF recall. The oracle replays
    training + encode + probe + ADC from scratch, so the hash gates
    the ENTIRE pipeline: k-means determinism, frozen-codebook cell
    maintenance, code maintenance, and the search arithmetic, in one
    key. (q_llm_pq_adc_at_rest is the unpruned full-scan twin;
    q_llm_sim_ann_trained the exact-distance within-cell twin.)

    Exactness: cell membership is the trained assignment both sides;
    LUT parts and true distances are the identical three-dot
    sequential folds; the ADC total is the fixed-order four-term sum;
    argmins tiebreak on vec_id; reported distances ride the pinned
    half-up.

    Scale shape: THE IVF-PQ economics — search cost is |Q| · (k
    centroid probes + |cell| LUT lookups) instead of |Q| · corpus
    float reads: at 10⁹ vectors with 4096 cells, one query touches
    ~250k 4-byte codes instead of 256 GB of floats. Everything data-
    sized stays at rest (cells partitionable by cent_id for locality);
    the only broadcast legs are the |Q|-bounded LUT and query set —
    the codebook discipline. nprobe>1 is the same plan with a top-p
    centroid probe instead of top-1 (q_llm_sim_ann_probe2's shape).
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_ann_trained")

    def build() -> DataFrame:
        cells = read_table(spark, str(Path(path) / "cells"))
        codes = read_table(spark, str(Path(path) / "pq_codes"))
        qwin = (F.col("vec_id") >= PQ_CODES) & (
            F.col("vec_id") < PQ_CODES + PQ_QUERY_N
        )
        queries = cells.filter(qwin).select(
            F.col("vec_id").alias("q_id"),
            F.col("cent_id").alias("q_cent"),
            F.col("emb").alias("qemb"),
            _dot(F.col("emb"), F.col("emb")).alias("qq"),
        )
        # PQ code vectors and the query LUT, both from the AT-REST
        # cells embeddings (bit-identical to the fixture's floats)
        pcodes = _subs_of(
            cells.filter(F.col("vec_id") < PQ_CODES).select("vec_id", "emb")
        ).select(
            "sub", F.col("vec_id").alias("code_id"),
            F.col("s").alias("c"), F.col("ss").alias("cc"),
        )
        lut = (
            _subs_of(queries.select(F.col("q_id").alias("vec_id"),
                                    F.col("qemb").alias("emb")))
            .join(F.broadcast(pcodes), "sub")
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
        cand = cells.select("vec_id", "cent_id", "emb").join(
            F.broadcast(queries),
            (F.col("cent_id") == F.col("q_cent"))
            & (F.col("vec_id") != F.col("q_id")),
        )
        wide = codes.groupBy("vec_id").agg(
            *[
                F.max(
                    F.when(F.col("sub") == k, F.col("code_id"))
                ).alias(f"k{k}")
                for k in range(1, PQ_M + 1)
            ]
        )
        adc = cand.join(wide, "vec_id")
        for k in range(1, PQ_M + 1):
            leg = lut.filter(F.col("sub") == k).select(
                "q_id",
                F.col("code_id").alias(f"k{k}"),
                F.col("part").alias(f"p{k}"),
            )
            adc = adc.join(F.broadcast(leg), ["q_id", f"k{k}"])
        adc_top = (
            adc.select(
                "q_id", "q_cent",
                F.struct(
                    (
                        F.col("p1") + F.col("p2")
                        + F.col("p3") + F.col("p4")
                    ).alias("d_adc"),
                    F.col("vec_id"),
                ).alias("s"),
            )
            .groupBy("q_id", "q_cent")
            .agg(F.min("s").alias("m"))
            .select(
                "q_id", "q_cent",
                F.col("m.vec_id").alias("adc_id"),
                F.col("m.d_adc").alias("d_adc"),
            )
        )
        exact_top = (
            cand.select(
                "q_id",
                F.struct(
                    (
                        F.col("qq")
                        - F.lit(2) * _dot(F.col("qemb"), F.col("emb"))
                        + _dot(F.col("emb"), F.col("emb"))
                    ).alias("d_true"),
                    F.col("vec_id"),
                ).alias("s"),
            )
            .groupBy("q_id")
            .agg(F.min("s").alias("m"))
            .select(
                "q_id",
                F.col("m.vec_id").alias("exact_id"),
                F.col("m.d_true").alias("d_true"),
            )
        )
        return adc_top.join(F.broadcast(exact_top), "q_id").select(
            "q_id",
            F.col("q_cent").cast("int").alias("cent_id"),
            "adc_id",
            "exact_id",
            (F.col("adc_id") == F.col("exact_id")).alias("hit"),
            half_up(F.col("d_adc"), 6).alias("adc_d"),
            half_up(F.col("d_true"), 6).alias("exact_d"),
        )

    return session_artifact(spark, sf_dir, "ivfpq_search", lambda: build().cache())


DRIFT_FACTOR = 1.5  # crawl distortion > 1.5× base distortion ⇒ stale


@query(
    "q_llm_codebook_drift",
    oracle=f"""
    WITH {{training}},
    d2 AS (
        SELECT l.vec_id, l.cent_id,
               list_dot_product(l.emb, l.emb)
               - 2 * list_dot_product(l.emb, c.cvec)
               + list_dot_product(c.cvec, c.cvec) AS d2,
               (l.vec_id % {{crawl_mod}} = 0
                AND l.vec_id % {{centroid_mod}} <> 0
                AND l.vec_id >= {{pq_codes}}) AS is_crawl
        FROM cells l JOIN c{KM_ITERS} c USING (cent_id)
    ),
    per_cell AS (
        SELECT cent_id,
               count(*) FILTER (WHERE NOT is_crawl) AS n_base,
               count(*) FILTER (WHERE is_crawl) AS n_crawl,
               {{h_base}} AS base_mean_d2,
               {{h_crawl}} AS crawl_mean_d2
        FROM d2 GROUP BY cent_id
    )
    SELECT CAST(cent_id AS BIGINT) AS cent_id,
           CAST(n_base AS BIGINT) AS n_base,
           CAST(n_crawl AS BIGINT) AS n_crawl,
           base_mean_d2, crawl_mean_d2,
           floor(crawl_mean_d2 / base_mean_d2 * 10000.0 + 0.5) / 10000.0
               AS drift_ratio,
           (crawl_mean_d2 > {DRIFT_FACTOR} * base_mean_d2) AS stale
    FROM per_cell
    WHERE n_base > 0 AND n_crawl > 0
    """.format(
        training=_training_ctes(),
        crawl_mod=CRAWL_MOD,
        centroid_mod=CENTROID_MOD,
        pq_codes=PQ_CODES,
        h_base="floor(avg(d2) FILTER (WHERE NOT is_crawl) * 10000.0 + 0.5)"
        " / 10000.0",
        h_crawl="floor(avg(d2) FILTER (WHERE is_crawl) * 10000.0 + 0.5)"
        " / 10000.0",
    ),
)
def q_llm_codebook_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Codebook DRIFT monitor — the operational answer to "when must
    the frozen codebook retrain?" (the one lifecycle edge the trained
    index leaves manual): per cell, compare the mean quantization
    distortion (squared L2 to the assigned centroid) of the CRAWL
    cohort — vectors assigned incrementally under the FROZEN codebook
    — against the BASE cohort the codebook was trained on. A cell
    whose crawl distortion exceeds {DRIFT_FACTOR}× its training-time
    distortion is flagged ``stale``: its region of the embedding space
    has moved, and the next maintenance window should retrain (a
    rebuild by definition — committed as a new table version readers
    pin across).

    Everything reads AT REST: cells and codebook come from the
    maintained manifest tables; no training pass re-runs. The oracle
    replays training from scratch and recomputes both cohorts'
    distortions, so the hash also re-gates that the persisted state
    still equals the from-scratch build.

    Exactness: d2 is the identical three-dot sequential fold both
    sides; cohort membership is a pure vec_id predicate; means are
    half-up-rounded at 4 decimals before the ratio/flag comparisons,
    so the stale flag compares identical doubles on both engines.

    Scale shape: one join of the cells table against the broadcast
    codebook (k rows) and one hash aggregate on cent_id — O(corpus)
    map work, shuffle ∝ cells. The monitor is what a 100 TB vector
    pipeline runs after every ingest window: cells are only
    re-trained when THIS report says so, never on a timer.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_ann_trained")

    def build() -> DataFrame:
        cells = read_table(spark, str(Path(path) / "cells"))
        cents = read_table(spark, str(Path(path) / "codebook"))
        d2 = (
            _dot(F.col("emb"), F.col("emb"))
            - 2 * _dot(F.col("emb"), F.col("cvec"))
            + _dot(F.col("cvec"), F.col("cvec"))
        )
        is_crawl = (
            (F.col("vec_id") % CRAWL_MOD == 0)
            & (F.col("vec_id") % CENTROID_MOD != 0)
            & (F.col("vec_id") >= PQ_CODES)
        )
        scored = cells.join(F.broadcast(cents), "cent_id").select(
            "cent_id", d2.alias("d2"), is_crawl.alias("is_crawl")
        )
        per_cell = scored.groupBy("cent_id").agg(
            F.count(F.when(~F.col("is_crawl"), 1)).alias("n_base"),
            F.count(F.when(F.col("is_crawl"), 1)).alias("n_crawl"),
            half_up(F.avg(F.when(~F.col("is_crawl"), F.col("d2"))), 4).alias(
                "base_mean_d2"
            ),
            half_up(F.avg(F.when(F.col("is_crawl"), F.col("d2"))), 4).alias(
                "crawl_mean_d2"
            ),
        )
        return per_cell.filter(
            (F.col("n_base") > 0) & (F.col("n_crawl") > 0)
        ).select(
            F.col("cent_id").cast("bigint").alias("cent_id"),
            "n_base",
            "n_crawl",
            "base_mean_d2",
            "crawl_mean_d2",
            half_up(F.col("crawl_mean_d2") / F.col("base_mean_d2"), 4).alias(
                "drift_ratio"
            ),
            (
                F.col("crawl_mean_d2")
                > F.lit(DRIFT_FACTOR) * F.col("base_mean_d2")
            ).alias("stale"),
        )

    return session_artifact(spark, sf_dir, "codebook_drift", lambda: build().cache())
