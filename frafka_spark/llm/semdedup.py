"""SemDeDup-style semantic pruning and hard-negative mining.

Two embedding-space curation operators that complete the similarity
family (`similarity.py`):

- ``q_llm_semdedup`` — the PRUNING DECISION on top of the pair
  relation ``q_llm_dedup_embed`` already emits: within each IVF
  cell, every vector with a more-canonical (lower-vec_id) neighbor
  above the cosine threshold is dropped, everything else kept —
  SemDeDup (Abbas et al. 2023, arXiv:2303.09540): k-means-cluster
  the corpus, then deduplicate *within* clusters, never all-pairs.
- ``q_llm_hard_negatives`` — for every vector, the top-k most
  similar vectors with a DIFFERENT label: the contrastive-training
  data-prep primitive ("close but wrong" examples mined at the
  decision boundary, cf. dense-retrieval trainers like ANCE/DPR).

Float discipline is inherited from similarity.py: cast to float64
before arithmetic, sequential left-to-right dot products on both
engines (bitwise identical), cosine compared/ranked on raw doubles
with vec_id tiebreaks, rounded only for display.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.functions.determinism import half_up, sql_half_up
from frafka_spark.io import table
from frafka_spark.llm.similarity import (
    _SQL_CELLS,
    _SQL_VECS,
    _broadcast_unit_matrix,
    _cells,
    _vectors,
)
from frafka_spark.registry import query

SEMDEDUP_TAU = 0.35  # drops ~16% of fixture vectors (0.4 drops ~4%)
HARD_NEG_K = 3


# CTE chain ending in the per-vector `verdicts` relation — shared by
# q_llm_semdedup (emits it) and q_llm_semdedup_by_source (the
# curation report over it).
_SD_CTES = f"""{_SQL_VECS},
    {_SQL_CELLS},
    dups AS (
        SELECT b.vec_id, CAST(count(*) AS BIGINT) AS n_dups_lower
        FROM cells a JOIN cells b
          ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
        WHERE list_dot_product(a.emb, b.emb) / (a.norm * b.norm)
              > {SEMDEDUP_TAU}
        GROUP BY b.vec_id
    ),
    verdicts AS (
        SELECT c.vec_id, c.cent_id, c.label,
               CAST(coalesce(d.n_dups_lower, 0) AS BIGINT) AS n_dups_lower,
               (d.vec_id IS NULL) AS kept
        FROM cells c LEFT JOIN dups d ON d.vec_id = c.vec_id
    )"""


@query(
    "q_llm_semdedup",
    oracle=f"""
    WITH {_SD_CTES}
    SELECT vec_id, cent_id, label, n_dups_lower, kept FROM verdicts
    """,
)
def q_llm_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup pruning verdicts: keep a vector iff NO lower-vec_id
    vector in its IVF cell sits above cosine 0.35 — the min-id
    keeper rule applied in embedding space (the deterministic stand-in
    for SemDeDup's keep-one-per-duplicate-group; lower id = more
    canonical, mirroring the md5-keeper convention in llm/dedup.py).
    One verdict row per vector so downstream curation can
    ``filter(kept)`` or aggregate drop rates per cell/label.

    Scale shape: identical to q_llm_dedup_embed — the only pairwise
    work happens INSIDE coarse cells (Σ|cell|² not n², cent_id is the
    shuffle key), the codebook crossJoin in `_cells` broadcasts a
    bounded centroid set, and the verdict join is key-equi on vec_id.
    The cell assignment is session-cached (`session_artifact`), so the
    three consumers here (both self-join sides + the verdict spine)
    read one materialization.
    """
    return _verdicts(spark, sf_dir)


def _verdicts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector SemDeDup verdict relation, session-memoized (two
    consumers: the verdict emit and the by-source curation report).
    Corpus-row-sized but column-narrow; at scale this is the relation
    a curation run would persist anyway."""
    return session_artifact(
        spark, sf_dir, "semdedup_verdicts", lambda: _verdicts_plan(spark, sf_dir)
    )


def _verdicts_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    from frafka_spark.llm.similarity import _dot

    cells = _cells(spark, sf_dir)
    a = cells.select(
        F.col("vec_id").alias("a_id"),
        "cent_id",
        F.col("emb").alias("emb_a"),
        F.col("norm").alias("norm_a"),
    )
    b = cells.select(
        F.col("vec_id").alias("b_id"),
        F.col("cent_id").alias("cent_b"),
        F.col("emb").alias("emb_b"),
        F.col("norm").alias("norm_b"),
    )
    cos = _dot(F.col("emb_a"), F.col("emb_b")) / (
        F.col("norm_a") * F.col("norm_b")
    )
    dups = (
        a.join(
            b,
            (F.col("cent_id") == F.col("cent_b"))
            & (F.col("a_id") < F.col("b_id")),
        )
        .filter(cos > SEMDEDUP_TAU)
        .groupBy(F.col("b_id").alias("vec_id"))
        .agg(F.count("*").cast("bigint").alias("n_dups_lower"))
    )
    return (
        cells.select("vec_id", "cent_id", "label")
        .join(dups, "vec_id", "left")
        .select(
            "vec_id",
            "cent_id",
            "label",
            F.coalesce("n_dups_lower", F.lit(0).cast("bigint")).alias(
                "n_dups_lower"
            ),
            F.col("n_dups_lower").isNull().alias("kept"),
        )
        .cache()
    )


@query(
    "q_llm_semdedup_by_source",
    oracle=f"""
    WITH {{SD_CTES}}
    SELECT d.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN v.kept THEN 0 ELSE 1 END) AS BIGINT)
               AS n_dropped,
           {{RATE}} AS drop_rate
    FROM verdicts v JOIN documents d ON d.doc_id = v.vec_id
    GROUP BY d.source
    """.replace("{SD_CTES}", _SD_CTES).replace(
        "{RATE}",
        sql_half_up(
            "CAST(sum(CASE WHEN v.kept THEN 0 ELSE 1 END) AS DOUBLE)"
            " / count(*)",
            4,
        ),
    ),
)
def q_llm_semdedup_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The curation report on top of the SemDeDup verdicts: semantic
    drop rate per document source (join verdicts back to the
    documents dimension on vec_id = doc_id — the embedded subset) —
    the table a data-mixture owner reads to see WHICH sources feed
    the semantic-duplicate mass before re-weighting them.

    Exactness: integer counts and one pinned half-up quotient.

    Scale shape: the verdict relation is session-memoized (computed
    once for both consumers), the report is one hash aggregate keyed
    on source after an id-equi join — both partial-aggregate, no new
    pairwise work.
    """
    v = _verdicts(spark, sf_dir)
    d = table(spark, sf_dir, "documents").select("doc_id", "source")
    dropped = F.sum(F.when(F.col("kept"), 0).otherwise(1))
    return (
        v.join(d, v["vec_id"] == d["doc_id"])
        .groupBy("source")
        .agg(
            F.count("*").cast("bigint").alias("n_docs"),
            dropped.cast("bigint").alias("n_dropped"),
            half_up(dropped.cast("double") / F.count("*"), 4).alias(
                "drop_rate"
            ),
        )
    )


@query(
    "q_llm_hard_negatives",
    oracle=f"""
    WITH {_SQL_VECS},
    scored AS (
        SELECT a.vec_id, a.label,
               b.vec_id AS neighbor_id, b.label AS neighbor_label,
               list_dot_product(a.emb, b.emb) / (a.norm * b.norm) AS cos,
               row_number() OVER (
                   PARTITION BY a.vec_id
                   ORDER BY list_dot_product(a.emb, b.emb)
                            / (a.norm * b.norm) DESC,
                            b.vec_id ASC
               ) AS rn
        FROM vecs a JOIN vecs b ON a.label <> b.label
    )
    SELECT vec_id, label, CAST(rn AS INT) AS rank,
           neighbor_id, neighbor_label,
           floor(cos * 1000000.0 + 0.5) / 1000000.0 AS cosine
    FROM scored WHERE rn <= {HARD_NEG_K}
    """,
)
def q_llm_hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining: each vector's top-3 highest-cosine
    neighbors under a DIFFERENT label — the examples a contrastive
    trainer wants as negatives precisely because the embedding thinks
    they're positives.

    Executed like ``q_llm_sim_cosine``: the reference matrix rides a
    bounded broadcast (build-side cap enforced in
    `_broadcast_unit_matrix` with the IVF path named as the
    corpus-scale alternative), each Arrow batch does one BLAS
    ``block @ matrixᵀ``, masks SAME-label columns to −inf, and takes
    the k first-maxima (stable argsort ⇒ vec_id-ascending tiebreak,
    ≡ the oracle's cos DESC, vec_id ASC). BLAS-vs-sequential sum
    reordering is absorbed by the 6-digit display round exactly as in
    q_llm_sim_cosine (divergence window ~1e-16 vs 1e-6).
    """
    import numpy as np
    import pandas as pd

    bc = _broadcast_unit_matrix(spark, sf_dir)

    def mine(batches):
        b_ids, b_labels, b_unit = bc.value
        for pdf in batches:
            q = np.array(list(pdf["emb"]), dtype=np.float64)
            q /= np.linalg.norm(q, axis=1, keepdims=True)
            sims = q @ b_unit.T
            out = []
            for r, own_label in enumerate(pdf["label"]):
                row = sims[r].copy()
                row[b_labels == own_label] = -np.inf
                top = np.argsort(-row, kind="stable")[:HARD_NEG_K]
                for rk, j in enumerate(top, start=1):
                    out.append(
                        (
                            int(pdf["vec_id"].iloc[r]),
                            int(own_label),
                            rk,
                            int(b_ids[j]),
                            int(b_labels[j]),
                            float(np.floor(row[j] * 1e6 + 0.5) / 1e6),
                        )
                    )
            yield pd.DataFrame(
                out,
                columns=[
                    "vec_id",
                    "label",
                    "rank",
                    "neighbor_id",
                    "neighbor_label",
                    "cosine",
                ],
            )

    v = _vectors(spark, sf_dir).select("vec_id", "label", "emb")
    return v.mapInPandas(
        mine,
        "vec_id bigint, label int, rank int, neighbor_id bigint, "
        "neighbor_label int, cosine double",
    )
