"""At-rest, CDF-incrementally-maintained dedup/similarity indexes —
VERDICT r10 #1: the suite's session-memoized index legs (digest
index, shingle table, MinHash signatures, IVF cell assignments) are
what a resident engine keeps in MEMORY; a 100 TB pipeline keeps them
ON DISK beside the corpus and maintains them from the change feed,
because rebuilding a corpus-sized index per session is the cost the
index exists to amortize.

This module supplies both halves:

- **generic per-doc index-row builders** (``digest_rows``,
  ``shingle_rows``, ``minhash_rows``, ``ivf_assign``) — pure
  functions of an input DataFrame, NOT fixture-bound, so the same
  expression builds the base index and the CDF delta. Per-doc
  construction is the property that makes an index incrementally
  maintainable at all: a new document's rows depend only on that
  document (plus a FROZEN codebook for IVF), so
  ``index(base) ∪ index(delta) == index(base ∪ delta)`` — the
  equality the pytest proves and the graded key's hash enforces.
  (The ppjoin PREFIX index is the deliberate counter-example: its
  df-rarity ranking is global state, so what goes to rest is its
  per-doc input — the shingle table — and the ranking is derived
  from the at-rest shingles, recomputed on refresh.)
- **the graded lifecycle** (``q_llm_index_persisted``): a corpus
  manifest table takes the base docs (v0) and a crawl append (v1);
  the digest index table is built ONCE from corpus v0 and then
  maintained by appending index rows computed from the CDF delta
  ONLY (append fast path — O(new files), the base snapshot never
  re-read). The declared query answers from the AT-REST index —
  never touching the documents fixture — so the DuckDB oracle
  (md5 over the flat fixture) hash-matches if and only if the
  incrementally-maintained index equals a full rebuild.
"""

from __future__ import annotations

from pathlib import Path

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import session_artifact
from frafka_spark.io import table
from frafka_spark.operators.lakehouse import _ensure_table, _register_builder
from frafka_spark.registry import query

#: corpus/crawl split for the persisted-index lifecycle (distinct
#: from curation's %7 and bloom-incr's %7 so lifecycles can't mask
#: each other); fixture doc_ids are dense 0..N-1 at every scale
CRAWL_MOD = 5


def digest_rows(docs: DataFrame) -> DataFrame:
    """Exact-dedup index rows: (doc_id, source, content digest).
    Per-doc — a delta's rows never depend on the rest of the corpus."""
    return docs.select("doc_id", "source", F.md5("text").alias("h"))


def shingle_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, distinct 3-word shingle hash) rows for ANY docs
    relation — the generic, fixture-unbound form of ``_shingles``
    (same expression: words array materialized once, docs under 3
    words dropped before the sequence). Per-doc, hence incremental;
    this is the at-rest HALF of the ppjoin index (the global
    df-rarity prefix ranking is derived from these rows on refresh)."""
    w = docs.select("doc_id", F.split("text", " ").alias("w")).filter(
        F.size("w") >= 3
    )
    shingles = F.transform(
        F.sequence(F.lit(1), F.size("w") - 2),
        lambda i: F.md5(F.concat_ws(" ", F.slice("w", i, 3))),
    )
    return w.select(
        "doc_id", F.explode(F.array_distinct(shingles)).alias("sh")
    )


def minhash_rows(docs: DataFrame) -> DataFrame:
    """8-lane MinHash signature rows for ANY docs relation (the
    ``_minhash_wide`` lanes over generic shingles). Signatures are a
    pure per-doc function of the text, so the at-rest signature table
    is maintained by appending the delta's signatures."""
    from frafka_spark.llm.dedup import _minhash_wide

    return _minhash_wide(shingle_rows(docs))


def ivf_assign(vectors: DataFrame, cents: DataFrame) -> DataFrame:
    """IVF cell assignment of ``vectors`` (vec_id, emb, norm) against
    a FROZEN centroid codebook (cent_id, cemb, cnorm): max-cosine
    centroid, cent_id tiebreak — the generic form of ``_cells``.
    Frozen codebook is what makes the assignment per-row and the cell
    table incrementally maintainable; retraining the codebook is a
    rebuild by definition (and a new index table version)."""
    from pyspark.sql import Window

    from frafka_spark.llm.similarity import _dot

    ccos = _dot(F.col("emb"), F.col("cemb")) / (
        F.col("norm") * F.col("cnorm")
    )
    w = Window.partitionBy("vec_id").orderBy(
        F.col("ccos").desc(), F.col("cent_id").asc()
    )
    return (
        vectors.crossJoin(F.broadcast(cents))
        .withColumn("ccos", ccos)
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cent_id")
    )


@_register_builder("documents_digest_indexed")
def _build_digest_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """The persisted-index lifecycle, run once per fixture:

    corpus        v0 = base docs (doc_id % CRAWL_MOD != 0)
                  v1 = crawl append (doc_id % CRAWL_MOD == 0)
    digest_index  v0 = digest_rows(corpus v0)  — the one full build
                  v1 = append digest_rows(CDF delta v0→v1) ONLY
    """
    from frafka_spark.sources.manifest_table import (
        read_changes,
        read_table,
        write_table,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "digest_index"
    write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD != 0), str(corpus),
        mode="overwrite",
    )
    write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD == 0), str(corpus),
        mode="append",
    )
    # the full build reads the TABLE's v0 snapshot (not the fixture):
    # the index is an artifact of the corpus table's history
    write_table(
        digest_rows(read_table(spark, str(corpus), version=0)),
        str(index),
        mode="overwrite",
    )
    delta = read_changes(spark, str(corpus), 0, 1).filter(
        F.col("_change_type") == "insert"
    )
    write_table(digest_rows(delta), str(index), mode="append")


@query(
    "q_llm_index_persisted",
    oracle="""
    WITH idx AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    per AS (SELECT h, source, count(*) AS c FROM idx GROUP BY h, source),
    g AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY h)
    SELECT per.source,
           CAST(sum(per.c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_digests,
           CAST(sum(CASE WHEN g.n > 1 THEN per.c ELSE 0 END) AS BIGINT)
               AS n_dup_members
    FROM per JOIN g USING (h)
    GROUP BY per.source
    """,
)
def q_llm_index_persisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dup-group accounting answered from the AT-REST digest index —
    the index-persistence contract graded end-to-end (VERDICT r10
    #1): the digest index lives as a manifest table beside the corpus
    (built once from corpus v0, maintained by appending rows computed
    from the crawl's CDF delta only), and this query reads ONLY that
    table — per source: member docs, distinct digests, and docs in
    cross-corpus duplicate groups. The DuckDB oracle recomputes md5
    over the flat fixture, so the hash matches if and only if
    incremental maintenance produced exactly a full rebuild.

    Plan shape: (h, source) partial-agg → global dup-group counts on
    h → source rollup — two key shuffles over 16-byte digests, never
    text; the index read is a plain multi-file parquet scan.

    Exactness: md5 is bit-identical across engines; all outputs are
    exact longs — tie-free.

    Scale shape: the whole point at 100 TB — the expensive per-doc
    work (digesting, shingling, signing) runs once per document at
    ingest, the index table grows by O(crawl) per day via the CDF
    append fast path, and every dedup consumer reads digest-width
    rows at rest instead of re-reading corpus text. Index refresh
    compacts/vacuums like any other table (``compact``,
    ``gc_orphans``); a codebook retrain is an overwrite commit, so
    readers pin consistent index versions throughout.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_digest_indexed")
    idx = read_table(spark, str(Path(path) / "digest_index"))
    per = idx.groupBy("h", "source").agg(F.count("*").alias("c"))
    g = per.groupBy("h").agg(F.sum("c").cast("bigint").alias("n"))
    return (
        per.join(g, "h")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_digests"),
            F.sum(F.when(F.col("n") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_members"),
        )
    )


# ---------------------------------------------------------------------------
# The composed end-to-end pipeline (VERDICT r10 #7): crawl-append →
# CDF-incremental dedup (bloom-prefiltered exact tier → prefix near
# tier) → quality curation → split assignment, one graded query whose
# oracle is the from-scratch batch recomputation — the hash matches
# if and only if the incremental path equals rebuilding everything.
# ---------------------------------------------------------------------------

#: corpus/crawl split for the pipeline lifecycle (distinct from the
#: digest-index %5 and curation %7 moduli)
PIPE_MOD = 4
#: quality gate: crawl docs under this many words are dropped
PIPE_MIN_WORDS = 8
#: split assignment: doc_id % 10 == PIPE_VALID_RESIDUE → 'valid'
PIPE_VALID_RESIDUE = 7


@_register_builder("documents_pipeline")
def _build_pipeline_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """The incremental training-data pipeline, run once per fixture:

    staging  v0 = corpus (doc_id % PIPE_MOD != 0)
             v1 = today's crawl append
    curated  v0 = corpus
             v1 = append ONLY crawl docs that clear, in order:
                  quality (≥ PIPE_MIN_WORDS words) → within-crawl
                  keeper election (min doc_id per digest AND per
                  prefix fingerprint over the quality-passing crawl)
                  → bloom-prefiltered EXACT tier (digest not in
                  corpus; the broadcast bitset verdicts the novel
                  majority map-side, positives fall through to the
                  exact anti-join — correctness never depends on the
                  filter) → prefix NEAR tier (fingerprint not in
                  corpus).

    The crawl is consumed as a CHANGE-DATA-FEED delta (append fast
    path — O(new files), the corpus snapshot never re-read for the
    delta itself); the corpus digest/prefix sides are the build side
    a resident pipeline holds at rest (wave 4's index tables).
    """
    from pyspark.sql import Window
    from pyspark.sql.functions import pandas_udf

    from frafka_spark.llm.dedup import (
        _bloom_positions,
        _packed_partition_bitsets,
    )
    from frafka_spark.operators.lakehouse import _pfx_col
    from frafka_spark.sources.manifest_table import (
        read_changes,
        write_table,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.filter(F.col("doc_id") % PIPE_MOD != 0)
    staging, curated = dest / "staging", dest / "curated"
    write_table(corpus, str(staging), mode="overwrite")
    write_table(
        d.filter(F.col("doc_id") % PIPE_MOD == 0), str(staging),
        mode="append",
    )
    write_table(corpus, str(curated), mode="overwrite")

    delta = read_changes(spark, str(staging), 0, 1).filter(
        F.col("_change_type") == "insert"
    )
    q = (
        delta.filter(F.size(F.split("text", " ")) >= PIPE_MIN_WORDS)
        .select(
            "doc_id", "source", "text",
            F.md5("text").alias("h"), _pfx_col().alias("pfx"),
        )
    )
    # within-crawl keeper election over the QUALITY-PASSING crawl
    w_h = Window.partitionBy("h").orderBy("doc_id")
    w_p = Window.partitionBy("pfx").orderBy("doc_id")
    q = (
        q.withColumn("rn_h", F.row_number().over(w_h))
        .withColumn("rn_p", F.row_number().over(w_p))
        .filter((F.col("rn_h") == 1) & (F.col("rn_p") == 1))
        .drop("rn_h", "rn_p")
    )

    # bloom-prefiltered exact tier against the corpus digest side
    import math

    corpus_h = corpus.select(F.md5("text").alias("h"))
    n = max(1, corpus_h.count())
    m = max(64, int(-n * math.log(0.01) / math.log(2) ** 2))
    k = max(1, round(m / n * math.log(2)))
    bits = np.zeros((m + 7) // 8, dtype=np.uint8)
    for chunk in _packed_partition_bitsets(
        corpus_h.select(F.explode(_bloom_positions("h", m, k)).alias("p")), m
    ):
        np.bitwise_or(bits, np.frombuffer(chunk, dtype=np.uint8), out=bits)
    bcast = spark.sparkContext.broadcast(bits.tobytes())

    @pandas_udf("boolean")
    def bloom_maybe(pos: pd.Series) -> pd.Series:
        if len(pos) == 0:
            return pd.Series([], dtype=bool)
        buf = np.frombuffer(bcast.value, dtype=np.uint8)
        mat = np.vstack(pos.to_numpy())
        hit = (buf[mat >> 3] & (1 << (mat & 7)).astype(np.uint8)).astype(bool)
        return pd.Series(hit.all(axis=1))

    probed = q.withColumn("maybe", bloom_maybe(_bloom_positions("h", m, k)))
    exact_novel = probed.filter(~F.col("maybe")).unionByName(
        probed.filter(F.col("maybe")).join(corpus_h, "h", "left_anti")
    )
    # prefix near tier against the corpus fingerprint side
    corpus_pfx = corpus.select(_pfx_col().alias("pfx")).distinct()
    novel = exact_novel.join(corpus_pfx, "pfx", "left_anti").select(
        "doc_id", "source", "text"
    )
    write_table(novel, str(curated), mode="append")


@query(
    "q_llm_pipeline_e2e",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text, md5(text) AS h,
             md5(array_to_string(string_split(text, ' ')[1:10], ' ')) AS pfx
      FROM documents
    ),
    corpus AS (SELECT * FROM d WHERE doc_id % {PIPE_MOD} <> 0),
    crawl AS (
      SELECT * FROM d
      WHERE doc_id % {PIPE_MOD} = 0
        AND len(string_split(text, ' ')) >= {PIPE_MIN_WORDS}
    ),
    novel AS (
      SELECT * FROM crawl c
      WHERE doc_id = (SELECT min(doc_id) FROM crawl c2 WHERE c2.h = c.h)
        AND doc_id = (SELECT min(doc_id) FROM crawl c3 WHERE c3.pfx = c.pfx)
        AND NOT EXISTS (SELECT 1 FROM corpus k WHERE k.h = c.h)
        AND NOT EXISTS (SELECT 1 FROM corpus k WHERE k.pfx = c.pfx)
    ),
    final AS (
      SELECT doc_id, source, text FROM corpus
      UNION ALL SELECT doc_id, source, text FROM novel
    )
    SELECT source,
           CASE WHEN doc_id % 10 = {PIPE_VALID_RESIDUE}
                THEN 'valid' ELSE 'train' END AS split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM final GROUP BY 1, 2
    """,
)
def q_llm_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED incremental pipeline graded end-to-end (VERDICT
    r10 #7): crawl appended to staging → consumed as a CDF delta →
    quality gate → within-crawl keeper election → bloom-prefiltered
    exact dedup tier → prefix near tier → novel docs appended to the
    curated table → train/valid split rollup read from the CURATED
    TABLE's latest snapshot. The oracle recomputes the whole thing
    from scratch over the flat fixture, so the hash matches if and
    only if the incremental path — CDF read, broadcast bloom verdict,
    anti-joins, table appends — equals the batch recomputation.

    (The near tier here is the prefix-fingerprint stage; the banded
    ppjoin tier composes identically — its verified-pair relation
    replaces the fingerprint anti-join — but its oracle is the
    r10-graded `q_llm_dedup_ppjoin` and folding that SQL in here
    would re-grade it, not the composition.)

    Exactness: md5/fingerprints are bit-identical across engines;
    quality and split gates are integer comparisons; outputs are
    exact longs — tie-free.

    Scale shape: the daily loop of a 100 TB training-data pipeline —
    cost is O(crawl delta), not O(corpus): the CDF append fast path
    reads only new files, the corpus digest side is a broadcast
    bitset (~1.2 bytes/doc) plus an anti-join whose build side is
    digest-width, and the curated table grows by one append commit
    whose files carry stats for downstream pruning. Every stage is
    restart-safe: appends are idempotent snapshots, the bloom is
    rebuilt from the index at rest, and a failed day re-runs from
    the same CDF window.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_pipeline")
    t = read_table(spark, str(Path(path) / "curated"))
    return t.groupBy(
        "source",
        F.when(F.col("doc_id") % 10 == PIPE_VALID_RESIDUE, "valid")
        .otherwise("train")
        .alias("split"),
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("chars"),
    )


# ---------------------------------------------------------------------------
# The at-rest index FEEDING the flagship near-dup query: banded LSH +
# exact verification running from the persisted signature and shingle
# tables instead of re-shingling the corpus — the consumption half of
# the persistence contract (wave 4 proved maintenance == rebuild;
# this key proves the suite's flagship dedup ANSWERS from the index).
# ---------------------------------------------------------------------------


@_register_builder("documents_near_indexed")
def _build_near_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """corpus v0 = base docs, v1 = crawl append; shingles and MinHash
    signature tables each built from corpus v0 and maintained by
    appending the rows of the CDF delta only."""
    from frafka_spark.sources.manifest_table import (
        read_changes,
        read_table,
        write_table,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = dest / "corpus"
    write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD != 0), str(corpus),
        mode="overwrite",
    )
    write_table(
        d.filter(F.col("doc_id") % CRAWL_MOD == 0), str(corpus),
        mode="append",
    )
    base = read_table(spark, str(corpus), version=0)
    delta = read_changes(spark, str(corpus), 0, 1).filter(
        F.col("_change_type") == "insert"
    )
    for name, rows_fn in (
        ("shingles", shingle_rows),
        ("signatures", minhash_rows),
    ):
        write_table(rows_fn(base), str(dest / name), mode="overwrite")
        write_table(rows_fn(delta), str(dest / name), mode="append")


def _near_at_rest_oracle() -> str:
    from frafka_spark.llm.dedup import _NEAR_SQL_BODY, _shingle_sql

    return f"WITH shingles AS ({_shingle_sql()}),\n{_NEAR_SQL_BODY}"


@query("q_llm_dedup_near_at_rest", oracle=_near_at_rest_oracle())
def q_llm_dedup_near_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-dup ANSWERED FROM THE AT-REST INDEX: band
    candidates come from the persisted signature table and exact
    Jaccard verification from the persisted shingle table — neither
    side re-reads or re-shingles corpus text. Shares
    ``q_llm_dedup_near``'s oracle verbatim: the banded pipeline over
    at-rest rows must produce exactly the pairs the from-scratch
    pipeline produces, which holds if and only if the
    CDF-incrementally-maintained tables equal a full rebuild — the
    consumption-side proof of the index-persistence contract.

    Result memoized per (session, fixture) like the from-scratch
    twin: a resident pipeline materializes the verified-pair relation
    once per index version and serves every consumer from it.

    Scale shape: this is WHY the index is persisted — at 100 TB the
    shingle explode + signature aggregate are one-time-per-document
    ingest costs amortized into the index tables; a dedup run is then
    the banded bucket join (fan-in bounded by bucket size) plus
    verification over digest-width rows, and a day's crawl only
    appends its own rows. The index tables compact/vacuum/time-travel
    like any other manifest table, so dedup runs pin a consistent
    index version while ingest keeps appending.
    """
    from frafka_spark.llm.dedup import _minhash_lsh_pairs
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_near_indexed")
    sh = read_table(spark, str(Path(path) / "shingles"))
    mh = read_table(spark, str(Path(path) / "signatures"))
    return session_artifact(
        spark,
        sf_dir,
        "near_pairs_at_rest",
        lambda: _minhash_lsh_pairs(sh, minhash=mh).cache(),
    )


# ---------------------------------------------------------------------------
# Index maintenance beyond appends: a corpus DELETE (or an update's
# delete/insert pair) flows through the CDF into the index tables —
# deletes first (file-pruned key-set delete), then the insert rows.
# ---------------------------------------------------------------------------


def apply_cdf_to_index(
    spark: SparkSession,
    index_path: str,
    delta: DataFrame,
    rows_fn,
    key: str = "doc_id",
) -> None:
    """Maintain an at-rest index table from ONE change-data-feed
    window: delete-tagged docs' index rows are removed with the
    file-pruned key-set DELETE (``delete_keys``), then insert-tagged
    docs' rows append (deletes first, so an UPDATE's delete/insert
    pair nets to the fresh rows). The deleted key set is delta-sized
    (a day's deletes) — collecting it to drive file pruning is the
    same O(delta) metadata cost the commit itself paid."""
    from frafka_spark.sources.manifest_table import (
        delete_keys,
        write_table_with_stats,
    )

    deleted = [
        r[0]
        for r in delta.filter(F.col("_change_type") == "delete")
        .select(key)
        .distinct()
        .collect()
    ]
    if deleted:
        delete_keys(spark, index_path, key, deleted)
    inserted = delta.filter(F.col("_change_type") == "insert")
    ins_rows = rows_fn(inserted)
    if ins_rows.limit(1).count():
        write_table_with_stats(ins_rows, index_path, [key], mode="append")


#: corpus DELETE band for the index-maintenance lifecycle (fits the
#: dense 0..1499 sf0.001 keys; overlaps base AND crawl doc_ids so the
#: delete exercises rows from both commits)
DML_DEL_LO = 50
DML_DEL_HI = 199


@_register_builder("documents_digest_dml")
def _build_digest_dml_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """corpus  v0 = base docs (range-clustered, stats on doc_id)
               v1 = crawl append
               v2 = file-pruned DELETE of [DML_DEL_LO, DML_DEL_HI]
    index     i0 = full build from corpus v0
              i1 = CDF(0→1) applied (appends)
              i2 = CDF(1→2) applied (key-set delete)"""
    from frafka_spark.sources.manifest_table import (
        delete_rows,
        read_changes,
        read_table,
        write_table_with_stats,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "digest_index"

    def clustered(df):
        return df.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        )

    write_table_with_stats(
        clustered(d.filter(F.col("doc_id") % CRAWL_MOD != 0)),
        str(corpus), ["doc_id"], mode="overwrite",
    )
    write_table_with_stats(
        clustered(d.filter(F.col("doc_id") % CRAWL_MOD == 0)),
        str(corpus), ["doc_id"], mode="append",
    )
    delete_rows(spark, str(corpus), "doc_id", DML_DEL_LO, DML_DEL_HI)

    write_table_with_stats(
        clustered(digest_rows(read_table(spark, str(corpus), version=0))),
        str(index), ["doc_id"], mode="overwrite",
    )
    for frm, to in ((0, 1), (1, 2)):
        apply_cdf_to_index(
            spark,
            str(index),
            read_changes(spark, str(corpus), frm, to),
            digest_rows,
        )


@query(
    "q_llm_index_maintained",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE NOT (doc_id BETWEEN {DML_DEL_LO} AND {DML_DEL_HI})
    ),
    per AS (SELECT h, source, count(*) AS c FROM idx GROUP BY h, source),
    g AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY h)
    SELECT per.source,
           CAST(sum(per.c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_digests,
           CAST(sum(CASE WHEN g.n > 1 THEN per.c ELSE 0 END) AS BIGINT)
               AS n_dup_members
    FROM per JOIN g USING (h)
    GROUP BY per.source
    """,
)
def q_llm_index_maintained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index maintenance under DML, graded end-to-end: the corpus
    lives append AND delete commits, the digest index consumes each
    CDF window (key-set delete for delete-tagged rows — the
    file-pruned ``delete_keys`` — then the insert appends), and the
    dup-group rollup answered from the index must equal the oracle's
    recomputation over the fixture minus the deleted band. This
    closes the maintenance loop the append-only wave left open: an
    index that can't follow deletes serves GDPR'd or retracted
    documents forever.

    Exactness: md5 bit-identical; integer band predicate; exact longs.

    Scale shape: deletes prune — the key set is delta-sized and
    broadcast, files rewrite only where their doc_id span intersects
    (both corpus and index are range-clustered on doc_id, the layout
    an index table earns by construction since its rows arrive in
    ingest order); everything else is the append fast path.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_digest_dml")
    idx = read_table(spark, str(Path(path) / "digest_index"))
    per = idx.groupBy("h", "source").agg(F.count("*").alias("c"))
    g = per.groupBy("h").agg(F.sum("c").cast("bigint").alias("n"))
    return (
        per.join(g, "h")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_digests"),
            F.sum(F.when(F.col("n") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_members"),
        )
    )


# ---------------------------------------------------------------------------
# Streamed ingest + index maintenance, exactly-once per table: each
# micro-batch commits the corpus append AND its index rows under the
# same batch_id, so a crash between the two writes (or a redelivered
# batch) converges instead of duplicating.
# ---------------------------------------------------------------------------

#: micro-batch count for the streamed-index lifecycle
N_INDEX_BATCHES = 4


@_register_builder("documents_index_streamed")
def _build_streamed_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """Documents replayed as ``foreachBatch`` micro-batches: batch b =
    docs with doc_id % N_INDEX_BATCHES == b, committed to the corpus
    AND (as digest rows) to the index under the same batch_id via the
    exactly-once sink. Batch 2 takes the crash-between-writes shape —
    corpus committed, index write lost — and is redelivered before
    batch 3 runs (a stream does not start batch 3 until batch 2 has
    completed): the corpus write is a no-op and the index completes.
    Batch 1 is then REDELIVERED to both tables and must be a no-op."""
    from frafka_spark.sources.manifest_table import write_stream_batch

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "digest_index"

    def write(df: DataFrame, bid: int, path: Path, redelivered: bool) -> None:
        # a raise, not an assert: the write must also run under -O
        got = write_stream_batch(df, bid, str(path), ["doc_id"])
        if (got is None) != redelivered:
            raise RuntimeError(f"{path.name}: batch {bid} guard misjudged")

    for bid in range(N_INDEX_BATCHES):
        part = d.filter(F.col("doc_id") % N_INDEX_BATCHES == bid)
        write(part, bid, corpus, redelivered=False)
        if bid == 2:
            # crash shape: the index write is lost; the redelivery
            # finds the batch in the corpus and completes the index
            write(part, bid, corpus, redelivered=True)
        write(digest_rows(part), bid, index, redelivered=False)
    # a full redelivery of batch 1 to BOTH tables is a no-op
    part1 = d.filter(F.col("doc_id") % N_INDEX_BATCHES == 1)
    write(part1, 1, corpus, redelivered=True)
    write(digest_rows(part1), 1, index, redelivered=True)


@query(
    "q_llm_index_streamed",
    oracle="""
    WITH idx AS (SELECT doc_id, source, md5(text) AS h FROM documents),
    per AS (SELECT h, source, count(*) AS c FROM idx GROUP BY h, source),
    g AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY h)
    SELECT per.source,
           CAST(sum(per.c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_digests,
           CAST(sum(CASE WHEN g.n > 1 THEN per.c ELSE 0 END) AS BIGINT)
               AS n_dup_members
    FROM per JOIN g USING (h)
    GROUP BY per.source
    """,
)
def q_llm_index_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED index maintenance graded end-to-end: documents arrive
    as micro-batches committed exactly-once to the corpus and (as
    digest rows, same batch_id) to the index, with a redelivered
    batch proven a per-table no-op and a crash-between-writes batch
    completed by redelivery. The dup-group rollup from the index must
    equal the oracle over the full fixture — which only holds if the
    batch-id dedup neither dropped nor duplicated a batch on either
    table.

    Exactness: md5 bit-identical; exact longs; batch split is an
    integer modulus.

    Scale shape: this is the INGEST face of the index contract — a
    100 TB corpus is never loaded, it streams in; per-table batch-id
    idempotence gives exactly-once without cross-table transactions
    (a crash between the corpus and index commits of one batch is
    repaired by redelivery, since each table independently knows
    whether it has the batch). Stats ride every batch's files, so
    both tables serve pruned reads with no maintenance pass.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_index_streamed")
    idx = read_table(spark, str(Path(path) / "digest_index"))
    per = idx.groupBy("h", "source").agg(F.count("*").alias("c"))
    g = per.groupBy("h").agg(F.sum("c").cast("bigint").alias("n"))
    return (
        per.join(g, "h")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_digests"),
            F.sum(F.when(F.col("n") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_members"),
        )
    )


# ---------------------------------------------------------------------------
# More consumption: exact dedup and IVF ANN answered from at-rest
# tables, each sharing its from-scratch twin's oracle verbatim.
# ---------------------------------------------------------------------------


def _registered_oracle(name: str) -> str:
    """Reuse a from-scratch key's oracle verbatim — the at-rest twin
    must produce the identical relation, and sharing the SQL string
    makes that contract structural instead of copy-paste."""
    from frafka_spark.registry import QUERIES

    return QUERIES[name].oracle


@query(
    "q_llm_dedup_exact_at_rest",
    oracle=_registered_oracle("q_llm_dedup_exact"),
)
def q_llm_dedup_exact_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup answered from the AT-REST digest index (wave 4's
    `documents_digest_indexed` lifecycle): one hash-aggregate over
    16-byte digest rows — corpus text is never read. Shares
    ``q_llm_dedup_exact``'s oracle verbatim, so the hash gates
    at-rest == from-scratch on the consumption side.

    Scale shape: THE everyday dedup query at 100 TB — digest-width
    input (≈3% of text width on this fixture), one shuffle, and the
    index table is already maintained by the ingest CDF path, so this
    query's cost is independent of how the corpus text is stored."""
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_digest_indexed")
    idx = read_table(spark, str(Path(path) / "digest_index"))
    return idx.groupBy(F.col("h").alias("content_hash")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count("*").alias("n_copies"),
        (F.count("*") > 1).alias("is_duplicated"),
    )


@_register_builder("embeddings_cells_indexed")
def _build_cells_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """vectors v0 = base (every centroid vec_id % CENTROID_MOD == 0 is
    FORCED into the base so the frozen codebook equals the oracle's
    centroid set); v1 = crawl append. cells c0 = assignments of base,
    c1 = append assignments of the CDF delta under the SAME codebook."""
    from frafka_spark.llm.similarity import CENTROID_MOD, _vectors
    from frafka_spark.sources.manifest_table import (
        read_changes,
        read_table,
        write_table,
    )

    v = _vectors(spark, sf_dir)  # vec_id, label, emb, norm
    is_base = (F.col("vec_id") % CRAWL_MOD != 0) | (
        F.col("vec_id") % CENTROID_MOD == 0
    )
    vectors, cells = dest / "vectors", dest / "cells"
    write_table(v.filter(is_base), str(vectors), mode="overwrite")
    write_table(v.filter(~is_base), str(vectors), mode="append")

    base = read_table(spark, str(vectors), version=0)
    cents = base.filter((F.col("vec_id") % CENTROID_MOD) == 0).select(
        F.col("vec_id").alias("cent_id"),
        F.col("emb").alias("cemb"),
        F.col("norm").alias("cnorm"),
    )

    def assign(rows: DataFrame) -> DataFrame:
        from pyspark.sql import Window

        from frafka_spark.llm.similarity import _dot

        ccos = _dot(F.col("emb"), F.col("cemb")) / (
            F.col("norm") * F.col("cnorm")
        )
        w = Window.partitionBy("vec_id").orderBy(
            F.col("ccos").desc(), F.col("cent_id").asc()
        )
        return (
            rows.crossJoin(F.broadcast(cents))
            .withColumn("ccos", ccos)
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("vec_id", "label", "emb", "norm", "cent_id")
        )

    write_table(assign(base), str(cells), mode="overwrite")
    delta = read_changes(spark, str(vectors), 0, 1).filter(
        F.col("_change_type") == "insert"
    ).select("vec_id", "label", "emb", "norm")
    write_table(assign(delta), str(cells), mode="append")


@query(
    "q_llm_sim_ann_at_rest", oracle=_registered_oracle("q_llm_sim_ann")
)
def q_llm_sim_ann_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-1 answered from the AT-REST cells table: the cell
    self-join and cosine top-1 read persisted (vec_id, emb, norm,
    cent_id) rows — embeddings are never re-normalized and centroids
    never re-scanned. The codebook was frozen when the cells table
    was created and the crawl's assignments appended under it via the
    CDF delta, so sharing ``q_llm_sim_ann``'s oracle verbatim gates
    BOTH halves: maintenance (frozen-codebook appends == full
    assignment) and consumption (at-rest search == from-scratch).
    Result memoized per (session, fixture) like its twin.

    Scale shape: the vector-search serving path at 10⁹ vectors — the
    cells table IS the deployed index (partitioned by cent_id it
    serves cell-local joins with no re-assignment pass), ingest
    appends assignments per crawl under the pinned codebook version,
    and a codebook retrain is an overwrite commit readers pin across.
    Doubles stored in parquet round-trip exactly, so at-rest cosines
    are bit-identical to freshly-computed ones.
    """
    from pyspark.sql import Window

    from frafka_spark.functions.determinism import half_up
    from frafka_spark.llm.similarity import _dot
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "embeddings_cells_indexed")

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

    return session_artifact(
        spark, sf_dir, "sim_ann_topk_at_rest", lambda: build().cache()
    )


# ---------------------------------------------------------------------------
# At-rest RETRIEVAL index (round 11, wave 13): BM25's postings live as
# a manifest table beside the corpus, maintained through BOTH an
# append and a DELETION-VECTOR corpus delete consumed via the CDF
# fast path — the wave-12 DV machinery driving index maintenance.
# ---------------------------------------------------------------------------

#: corpus/crawl split for the postings lifecycle (distinct from the
#: digest %5, pipeline %4, curation %7 moduli)
BM25_MOD = 6
#: DV-deleted corpus band — overlaps base AND crawl residues, fits
#: the dense 0..499 documents keys at every fixture scale, and
#: differs from the digest-DML [50, 199] band (they overlap on
#: 120-199, which is harmless: the lifecycles use separate tables —
#: the differing endpoints are only so a band-constant typo in one
#: lifecycle can't be masked by the other's oracle)
BM25_DEL_LO = 120
BM25_DEL_HI = 219


def posting_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, word, tf) inverted-index postings for ANY docs
    relation — the same whitespace tokenization as ``_words``. Term
    frequency is a pure per-doc function, so the postings table is
    incrementally maintainable; every GLOBAL retrieval statistic
    (df, N, ΣdL, avgdl) is an aggregate OVER the postings, recomputed
    at query time — which is why maintaining tf rows alone keeps BM25
    exact under any append/delete history."""
    return (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("word")
        )
        .groupBy("doc_id", "word")
        .agg(F.count("*").cast("bigint").alias("tf"))
    )


@_register_builder("documents_postings_indexed")
def _build_postings_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """corpus   v0 = base docs (doc_id % BM25_MOD != 0, range-
                     clustered, stats on doc_id)
                v1 = crawl append
                v2 = DELETION-VECTOR delete of [BM25_DEL_LO,
                     BM25_DEL_HI] — zero data files rewritten
    postings  p0 = full build from corpus v0
              p1 = CDF(0→1) applied (insert appends)
              p2 = CDF(1→2) applied — the DV fast path emits the
                   banded docs as 'delete' rows, which become a
                   file-pruned key-set DELETE on the postings"""
    from frafka_spark.sources.manifest_table import (
        delete_rows_dv,
        read_changes,
        read_table,
        write_table_with_stats,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, postings = dest / "corpus", dest / "postings"

    def clustered(df):
        return df.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        )

    write_table_with_stats(
        clustered(d.filter(F.col("doc_id") % BM25_MOD != 0)),
        str(corpus), ["doc_id"], mode="overwrite",
    )
    write_table_with_stats(
        clustered(d.filter(F.col("doc_id") % BM25_MOD == 0)),
        str(corpus), ["doc_id"], mode="append",
    )
    delete_rows_dv(spark, str(corpus), "doc_id", BM25_DEL_LO, BM25_DEL_HI)

    write_table_with_stats(
        clustered(posting_rows(read_table(spark, str(corpus), version=0))),
        str(postings), ["doc_id"], mode="overwrite",
    )
    for frm, to in ((0, 1), (1, 2)):
        apply_cdf_to_index(
            spark,
            str(postings),
            read_changes(spark, str(corpus), frm, to),
            posting_rows,
        )


def _bm25_survivor_oracle() -> str:
    """``q_llm_bm25``'s oracle, derived structurally (not copied) by
    swapping its corpus CTE source for the DV-surviving slice — the
    from-scratch recomputation the maintained postings must equal."""
    from frafka_spark.llm import text  # noqa: F401 — registers q_llm_bm25

    base = _registered_oracle("q_llm_bm25")
    assert base.count("FROM documents") == 1
    return base.replace(
        "FROM documents",
        "FROM (SELECT * FROM documents WHERE NOT "
        f"(doc_id BETWEEN {BM25_DEL_LO} AND {BM25_DEL_HI}))",
        1,
    )


@query("q_llm_bm25_at_rest", oracle=_bm25_survivor_oracle())
def q_llm_bm25_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 retrieval answered from the AT-REST postings index — the
    full maintenance story in one grade: the corpus lived an append
    AND a deletion-vector delete (wave 12), the postings table
    consumed both through the CDF fast path (the DV commit's deleted
    rows arrive as O(delta) 'delete' tags, becoming a file-pruned
    key-set DELETE on the index), and this query derives EVERY global
    BM25 statistic (df, N, ΣdL, term selection ``20·df ≥ N``) from
    the maintained postings alone — corpus text is never read. The
    oracle recomputes Okapi BM25 from scratch over the surviving
    fixture slice, so the hash matches iff maintained == rebuilt,
    including the globals a stale index would get wrong.

    Exactness: identical pinning to ``q_llm_bm25`` (whose oracle this
    derives structurally) — exact integer tf/df/dl/N from hash
    aggregates, one double division for avgdl, half-up 4-digit score,
    rank on the rounded score with doc_id tiebreak.

    Scale shape: the retrieval-serving layout at 100 TB — per-doc
    postings appended at ingest cost O(crawl tokens), deletes pruned
    to span-intersecting index files, and query cost is independent
    of corpus text storage: three hash-aggregates over tf rows (all
    map-side partial), a broadcast 5-term list, a keyed top-10
    window. Recomputing df/N per query is one aggregate over the
    index — the price of never serving stale idf.
    """
    from frafka_spark.functions.determinism import half_up

    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_postings_indexed")
    tf = read_table(spark, str(Path(path) / "postings"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    df = tf.groupBy("word").agg(F.count("*").alias("df"))
    corpus = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("n_words")
    )
    terms = (
        df.crossJoin(F.broadcast(corpus))
        .filter(20 * F.col("df") >= F.col("n_docs"))
        .orderBy(F.col("df").asc(), F.col("word").asc())
        .limit(5)
        .select("word", "df")
    )
    idf = F.log(
        F.lit(1.0)
        + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
    )
    score = half_up(
        idf
        * (F.col("tf") * 2.2)
        / (
            F.col("tf")
            + 1.2
            * (
                0.25
                + 0.75
                * F.col("dl")
                / (F.col("n_words").cast("double") / F.col("n_docs"))
            )
        ),
        4,
    )
    scored = (
        tf.join(F.broadcast(terms), "word")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(corpus))
        .select("word", "df", "doc_id", "tf", "dl", score.alias("score"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("word").orderBy(
        F.col("score").desc(), F.col("doc_id").asc()
    )
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rk") <= 10)
    )


@query(
    "q_llm_dedup_ppjoin_at_rest",
    oracle=_registered_oracle("q_llm_dedup_ppjoin"),
)
def q_llm_dedup_ppjoin_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin exact-Jaccard threshold join ANSWERED FROM THE AT-REST
    SHINGLE TABLE — closing the one index VERDICT r10 named as still
    session-only. The module docstring's design holds: what goes to
    rest is the PER-DOC shingle table (CDF-maintained in the
    ``documents_near_indexed`` lifecycle, shared with the near-dup
    twin); the GLOBAL df-rarity prefix ranking is derived from those
    at-rest rows at refresh time (``ppjoin_prefix_of``), because
    rarity is corpus-wide state no per-doc append can maintain.
    Candidates, positional/length filters, and exact verification all
    run over at-rest rows — corpus text is never re-read or
    re-shingled. Shares ``q_llm_dedup_ppjoin``'s oracle verbatim, so
    the hash gates at-rest == from-scratch.

    Result memoized per (session, fixture) like every composed pair
    relation: a resident pipeline materializes prefix index and
    verified pairs once per index version.

    Scale shape: the refresh recomputes df with ONE aggregate over
    digest-width at-rest rows (cheap next to re-shingling text), and
    everything downstream is the same Σ|posting|²-bounded prefix
    join as the from-scratch key — the ingest-time shingle cost is
    amortized into the table, which is the entire point of keeping
    it at rest.
    """
    from frafka_spark.llm.dedup import ppjoin_pairs_over, ppjoin_prefix_of
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_near_indexed")
    sh = read_table(spark, str(Path(path) / "shingles"))

    def build() -> DataFrame:
        # Mirror the from-scratch twin's LEG structure (r13, guide
        # §2.4/§5): the prefix index lands on BOTH sides of the
        # candidate self-join and the docset relation on both pair
        # joins, so an uncached build re-executed the whole
        # manifest-scan → df-count → rarity-window subtree four ways
        # (measured 51.5 s cold vs the from-scratch key's 12.0 s —
        # the ONLY difference was these legs). One cached build of
        # each leg serves every reference, exactly like
        # ``_prefix_shingles``/``ppjoin_docsets`` do from scratch.
        pre = session_artifact(
            spark,
            sf_dir,
            "ppjoin_prefix_index_at_rest",
            lambda: ppjoin_prefix_of(sh).cache(),
        )
        docsets = session_artifact(
            spark,
            sf_dir,
            "ppjoin_docsets_at_rest",
            lambda: sh.groupBy("doc_id")
            .agg(F.sort_array(F.collect_set("sh")).alias("shs"))
            .cache(),
        )
        return ppjoin_pairs_over(pre, docsets)

    return session_artifact(
        spark, sf_dir, "ppjoin_pairs_at_rest", lambda: build().cache()
    )


# ---------------------------------------------------------------------------
# Round 12: CROSS-TABLE ATOMIC COMMIT — corpus + index published
# together through the txn_catalog (VERDICT r11 ask #4). The graded
# lifecycle deliberately includes a CRASHED transaction (corpus
# committed, index apply and catalog publish never ran) followed by
# exactly-once recovery that ADOPTS the crashed attempt's corpus
# commit instead of re-appending it.
# ---------------------------------------------------------------------------

#: corpus DELETE band for the txn lifecycle — differs from the
#: digest-DML [50, 199] and BM25 [120, 219] bands so a band-constant
#: typo in one lifecycle can't be masked by another's oracle
TXN_DEL_LO = 300
TXN_DEL_HI = 399


@_register_builder("documents_digest_txn")
def _build_digest_txn_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """catalog c0 = {corpus v0 (base docs), index i0 (full build)}
    txn "crawl-1": corpus append COMMITTED, then CRASH (no index
                   apply, no catalog publish) — readers stay on c0
    recovery:      run_txn("crawl-1") ADOPTS the stamped corpus v1
                   (the corpus applier must never re-run), applies
                   the CDF window to the index, publishes c1
    txn "delete-1": corpus band delete + index key-set delete,
                   published as c2 — the catalog-resolved pair the
                   graded query answers from."""
    from frafka_spark.sources.manifest_table import (
        delete_rows,
        read_changes,
        read_table,
        write_table,
        write_table_with_stats,
    )
    from frafka_spark.sources.txn_catalog import (
        catalog_commit,
        run_txn,
        txn_table_version,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "digest_index"

    def clustered(df):
        return df.repartitionByRange(4, "doc_id").sortWithinPartitions(
            "doc_id"
        )

    write_table_with_stats(
        clustered(d.filter(F.col("doc_id") % CRAWL_MOD != 0)),
        str(corpus), ["doc_id"], mode="overwrite",
    )
    write_table_with_stats(
        clustered(digest_rows(read_table(spark, str(corpus), version=0))),
        str(index), ["doc_id"], mode="overwrite",
    )
    catalog_commit(
        str(dest),
        {
            "corpus": {"path": str(corpus), "version": 0},
            "index": {"path": str(index), "version": 0},
        },
        txn_id="init",
    )

    # --- txn "crawl-1", attempt 1: corpus committed, then CRASH ----
    crawl = clustered(d.filter(F.col("doc_id") % CRAWL_MOD == 0))
    write_table(
        crawl, str(corpus), mode="append",
        manifest_extra={"txn_id": "crawl-1"},
    )
    # (crash point: no index apply, no catalog publish)

    # --- recovery: same txn id, adoption instead of re-append ------
    def corpus_applier(pinned: int) -> int:
        raise AssertionError(
            "corpus applier re-ran — the stamped v1 must be ADOPTED"
        )

    def index_applier(pinned: int) -> int:
        to = txn_table_version(str(corpus), "crawl-1", 0)
        delta = read_changes(spark, str(corpus), 0, to).filter(
            F.col("_change_type") == "insert"
        )
        return write_table_with_stats(
            digest_rows(delta), str(index), ["doc_id"], mode="append",
            manifest_extra={"txn_id": "crawl-1"},
        )

    run_txn(
        str(dest), "crawl-1",
        {"corpus": corpus_applier, "index": index_applier},
    )

    # --- txn "delete-1": coordinated corpus+index delete ------------
    def corpus_delete(pinned: int) -> int:
        return delete_rows(
            spark, str(corpus), "doc_id", TXN_DEL_LO, TXN_DEL_HI
        )["version"]

    def index_delete(pinned: int) -> int:
        from frafka_spark.sources.manifest_table import delete_rows as dr

        return dr(
            spark, str(index), "doc_id", TXN_DEL_LO, TXN_DEL_HI
        )["version"]

    run_txn(
        str(dest), "delete-1",
        {"corpus": corpus_delete, "index": index_delete},
    )


@query(
    "q_llm_index_txn",
    oracle=f"""
    WITH idx AS (
      SELECT doc_id, source, md5(text) AS h FROM documents
      WHERE NOT (doc_id BETWEEN {TXN_DEL_LO} AND {TXN_DEL_HI})
    ),
    per AS (SELECT h, source, count(*) AS c FROM idx GROUP BY h, source),
    g AS (SELECT h, CAST(sum(c) AS BIGINT) AS n FROM per GROUP BY h)
    SELECT per.source,
           CAST(sum(per.c) AS BIGINT) AS n_docs,
           CAST(count(*) AS BIGINT) AS n_digests,
           CAST(sum(CASE WHEN g.n > 1 THEN per.c ELSE 0 END) AS BIGINT)
               AS n_dup_members
    FROM per JOIN g USING (h)
    GROUP BY per.source
    """,
)
def q_llm_index_txn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-TABLE ATOMIC COMMIT, graded end-to-end: corpus and digest
    index advance ONLY through txn_catalog snapshots — the lifecycle
    includes a transaction that CRASHED between the corpus commit and
    the index apply (readers stayed on the old pair: the corpus's
    uncatalogued v1 was invisible), an exactly-once recovery that
    ADOPTED the crashed attempt's stamped commit (the corpus applier
    raises if re-run — double-append is structurally impossible), and
    a coordinated two-table delete. The graded rollup reads the
    CATALOG-resolved index and must equal the oracle's from-scratch
    reconstruction (all docs + crawl − deleted band) — which holds iff
    every transaction published both tables consistently.

    Exactness: md5 bit-identical; integer band predicate; exact longs.

    Scale shape: the multi-table commit protocol of Iceberg's REST
    catalog / Delta's coordinated commits — table-level commits become
    invisible staging, one O(tables)-byte atomic catalog create
    publishes the pair, and crash recovery costs one manifest-suffix
    scan per table (the txn-id adoption check), never a data read.
    """
    from frafka_spark.sources.txn_catalog import read_catalog_table

    path = _ensure_table(spark, sf_dir, "documents_digest_txn")
    idx = read_catalog_table(spark, path, "index")
    per = idx.groupBy("h", "source").agg(F.count("*").alias("c"))
    g = per.groupBy("h").agg(F.sum("c").cast("bigint").alias("n"))
    return (
        per.join(g, "h")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_digests"),
            F.sum(F.when(F.col("n") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_members"),
        )
    )


@_register_builder("documents_index_txn_streamed")
def _build_txn_streamed_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """STREAMED ingest with CROSS-TABLE atomicity — the composition
    that closes the wave-8 lifecycle's documented gap (per-table
    batch-id idempotence repairs duplication, but a reader could
    still observe corpus-ahead-of-index between the two writes):
    every micro-batch commits corpus AND index, then ONE catalog
    create publishes the pair; batch 2 simulates the crash (corpus
    committed, index write and catalog publish lost) and recovery
    under the same txn ADOPTS the corpus batch via its batch_id —
    the catalog provably never exposed the torn state."""
    from frafka_spark.sources.manifest_table import (
        _read_manifest,
        current_version,
        write_stream_batch,
    )
    from frafka_spark.sources.txn_catalog import (
        catalog_commit,
        catalog_current,
        run_txn,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "digest_index"

    def batch_version(path: str, bid: int, above: int) -> int:
        # a stream batch's own exactly-once marker doubles as the
        # txn adoption marker: find the commit carrying batch_id
        head = current_version(path)
        for v in range(head, above, -1):
            if _read_manifest(path, v).get("batch_id") == bid:
                return v
        raise AssertionError(f"batch {bid} not found above v{above}")

    def appliers(bid: int, part: DataFrame) -> dict:
        def corpus_applier(pinned: int) -> int:
            v = write_stream_batch(part, bid, str(corpus), ["doc_id"])
            # None = the crashed attempt already committed it: adopt
            return v if v is not None else batch_version(
                str(corpus), bid, pinned
            )

        def index_applier(pinned: int) -> int:
            v = write_stream_batch(
                digest_rows(part), bid, str(index), ["doc_id"]
            )
            return v if v is not None else batch_version(
                str(index), bid, pinned
            )

        return {"corpus": corpus_applier, "index": index_applier}

    def first_write(df: DataFrame, bid: int, path: Path) -> int:
        # a raise, not an assert: the write must also run under -O
        got = write_stream_batch(df, bid, str(path), ["doc_id"])
        if got is None:
            raise RuntimeError(f"{path.name}: batch {bid} judged delivered")
        return got

    part0 = d.filter(F.col("doc_id") % N_INDEX_BATCHES == 0)
    for path, rows in ((corpus, part0), (index, digest_rows(part0))):
        if first_write(rows, 0, path) != 0:
            raise RuntimeError(f"{path.name}: batch 0 is not version 0")
    catalog_commit(
        str(dest),
        {
            "corpus": {"path": str(corpus), "version": 0},
            "index": {"path": str(index), "version": 0},
        },
        txn_id="b0",
    )

    for bid in range(1, N_INDEX_BATCHES):
        part = d.filter(F.col("doc_id") % N_INDEX_BATCHES == bid)
        if bid == 2:
            # crash: corpus committed, index + catalog publish lost
            first_write(part, bid, corpus)
            cv, snap = catalog_current(str(dest))
            # the torn state is INVISIBLE through the catalog
            assert snap["txn_id"] == "b1"
            assert snap["tables"]["corpus"]["version"] < current_version(
                str(corpus)
            )
        run_txn(str(dest), f"b{bid}", appliers(bid, part))


@query(
    "q_llm_index_txn_streamed",
    oracle=_registered_oracle("q_llm_index_persisted"),
)
def q_llm_index_txn_streamed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMED ingest published ATOMICALLY across tables: every
    micro-batch commits corpus and digest index exactly-once (batch
    ids) and then publishes the pair with one catalog create — the
    composition that closes the streamed lifecycle's documented gap,
    where per-table idempotence repaired duplication but a reader
    between the two writes could still observe the corpus ahead of
    its index. The lifecycle crashes batch 2 after the corpus commit
    (the builder asserts the catalog still exposed the batch-1 pair —
    the torn state was never visible), recovery ADOPTS the committed
    batch via its batch_id marker, and the graded rollup answers from
    the CATALOG-resolved index, sharing the persisted-index oracle
    verbatim (all documents, no band): the hash matches iff no batch
    dropped, duplicated, or published torn.

    Exactness: md5 bit-identical; exact longs.

    Scale shape: the steady-state ingestion loop of a 100 TB corpus —
    per batch, O(batch) data work on each table plus ONE O(tables)-
    byte catalog create; crash recovery costs a manifest-suffix scan,
    never a data read. The batch-id marker doubles as the txn
    adoption marker, so the streaming sink needed no new write path.
    """
    from frafka_spark.sources.txn_catalog import read_catalog_table

    path = _ensure_table(spark, sf_dir, "documents_index_txn_streamed")
    idx = read_catalog_table(spark, path, "index")
    per = idx.groupBy("h", "source").agg(F.count("*").alias("c"))
    g = per.groupBy("h").agg(F.sum("c").cast("bigint").alias("n"))
    return (
        per.join(g, "h")
        .groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_docs"),
            F.count("*").cast("bigint").alias("n_digests"),
            F.sum(F.when(F.col("n") > 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_dup_members"),
        )
    )


# ---------------------------------------------------------------------------
# Segment-frequency index — the at-rest half of q_llm_dedup_lines
# (C4/CCNet duplicate-line removal). The removal decision needs the
# corpus-wide per-segment document frequency; a pipeline that
# re-derives it per run re-reads all text. At rest it is per-doc
# segment-occurrence rows (doc_id, source, seg_id, digest) — a pure
# per-doc function, so the table maintains by appending the CDF
# delta's rows — and the GLOBAL frequency is derived from the
# at-rest rows at query time (the ppjoin discipline: global state is
# computed from per-doc state, never stored stale).
# ---------------------------------------------------------------------------

#: corpus/crawl split for the segment-index lifecycle (distinct from
#: digest %5, pipeline %4, curation/bloom %7)
SEGIDX_MOD = 6


def segment_rows(docs: DataFrame) -> DataFrame:
    """(doc_id, source, seg_id, segment digest) occurrence rows for
    ANY docs relation — the generic form of q_llm_dedup_lines's
    segmentation (same LINE_SEG_WORDS windows, digest in place of text:
    the removal decision needs equality, never the bytes). Per-doc,
    hence incrementally maintainable."""
    from frafka_spark.llm.dedup import LINE_SEG_WORDS

    w = docs.select(
        "doc_id", "source", F.split("text", " ").alias("w")
    )
    n_segs = F.ceil(F.size("w") / float(LINE_SEG_WORDS)).cast("int")
    return (
        w.select(
            "doc_id",
            "source",
            "w",
            F.explode(F.sequence(F.lit(1), n_segs)).alias("seg_id"),
        )
        .select(
            "doc_id",
            "source",
            F.col("seg_id").cast("int").alias("seg_id"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.slice(
                        "w", (F.col("seg_id") - 1) * LINE_SEG_WORDS + 1, LINE_SEG_WORDS
                    ),
                )
            ).alias("h"),
        )
    )


@_register_builder("documents_segfreq_indexed")
def _build_segfreq_index_tables(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """corpus v0 = base docs (doc_id % SEGIDX_MOD != 0), v1 = crawl
    append; seg_index v0 = segment_rows(corpus v0) — the one full
    build — then v1 appends segment_rows(CDF delta) ONLY."""
    from frafka_spark.sources.manifest_table import (
        read_changes,
        read_table,
        write_table,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus, index = dest / "corpus", dest / "seg_index"
    write_table(
        d.filter(F.col("doc_id") % SEGIDX_MOD != 0), str(corpus),
        mode="overwrite",
    )
    write_table(
        d.filter(F.col("doc_id") % SEGIDX_MOD == 0), str(corpus),
        mode="append",
    )
    write_table(
        segment_rows(read_table(spark, str(corpus), version=0)),
        str(index),
        mode="overwrite",
    )
    delta = read_changes(spark, str(corpus), 0, 1).filter(
        F.col("_change_type") == "insert"
    )
    write_table(segment_rows(delta), str(index), mode="append")


def _segfreq_oracle() -> str:
    from frafka_spark.llm.dedup import LINE_DUP_MIN_DOCS, LINE_SEG_WORDS

    return f"""
    WITH words AS (
        SELECT doc_id, source, string_split(text, ' ') AS w FROM documents
    ),
    segs AS (
        SELECT doc_id, source,
               md5(array_to_string(
                   w[(seg_id-1)*{LINE_SEG_WORDS}+1 : (seg_id-1)*{LINE_SEG_WORDS}+{LINE_SEG_WORDS}],
                   ' ')) AS h
        FROM words,
             unnest(generate_series(
                 1, CAST(ceil(len(w) / {LINE_SEG_WORDS}.0) AS BIGINT))) u(seg_id)
    ),
    freq AS (
        SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
        FROM segs GROUP BY h
    ),
    per_doc AS (
        SELECT s.doc_id, s.source,
               CAST(count(*) AS BIGINT) AS n_segs,
               CAST(sum(CASE WHEN f.n_docs >= {LINE_DUP_MIN_DOCS}
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped
        FROM segs s JOIN freq f USING (h)
        GROUP BY s.doc_id, s.source
    )
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_segs) AS BIGINT) AS n_segs,
           CAST(sum(n_dropped) AS BIGINT) AS n_dropped_segs,
           CAST(sum(CASE WHEN n_dropped > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_docs_touched
    FROM per_doc
    GROUP BY source
    """


@query("q_llm_dedup_lines_at_rest", oracle=_segfreq_oracle())
def q_llm_dedup_lines_at_rest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-line (boilerplate-segment) accounting answered from
    the AT-REST segment index: per source, how many documents, total
    segments, segments the C4 rule would drop (digest seen in >=
    LINE_DUP_MIN_DOCS distinct docs), and documents touched. The query
    reads ONLY the maintained index table — the documents fixture is
    never scanned — so the flat-fixture oracle hash-matches if and
    only if base-build + CDF-delta append equals a full rebuild.

    Plan shape: distinct-doc count per digest (one 16-byte-key
    shuffle), join back on the digest, per-doc then per-source
    rollups — all over digest-width index rows; the corpus text is
    read exactly once per document's LIFETIME, at ingest.

    Scale shape: this is how the line-dedup pass runs at 100 TB —
    the frequency relation is maintained per crawl in O(delta), and
    the removal decision (and this audit) consumes index rows, not
    text. Exact longs throughout; md5 bit-identical across engines.
    """
    from frafka_spark.sources.manifest_table import read_table

    from frafka_spark.llm.dedup import LINE_DUP_MIN_DOCS

    path = _ensure_table(spark, sf_dir, "documents_segfreq_indexed")
    idx = read_table(spark, str(Path(path) / "seg_index"))
    freq = idx.groupBy("h").agg(
        F.countDistinct("doc_id").alias("n_docs_h")
    )
    per_doc = (
        idx.join(freq, "h")
        .groupBy("doc_id", "source")
        .agg(
            F.count("*").cast("bigint").alias("n_segs"),
            F.sum(
                F.when(F.col("n_docs_h") >= LINE_DUP_MIN_DOCS, 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_dropped"),
        )
    )
    return per_doc.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_segs").cast("bigint").alias("n_segs"),
        F.sum("n_dropped").cast("bigint").alias("n_dropped_segs"),
        F.sum(F.when(F.col("n_dropped") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("n_docs_touched"),
    )
