"""Lakehouse lifecycles on the graded surface — declared queries over
manifest tables that have LIVED through the operations a 100 TB table
runs outside its queries (``sources/manifest_table.py``):

- **compaction** (``q_scan_compacted``): many small append commits —
  the micro-batch accretion shape — rewritten by one ``compact``
  commit; the answer must be bit-identical (a logical no-op).
- **file-pruned DELETE** (``q_scan_deleted``): copy-on-write
  ``delete_rows`` on a range-clustered stats table rewrites only
  span-intersecting files; pins prove the carry (byte-identical
  files, verbatim stats, intact time travel, delete-tagged CDF).
- **file-pruned MERGE** (``q_scan_merged``): a CDC change set
  (update band + fresh inserts) through ``merge_table_pruned``,
  answered like the oracle's CASE-bump + VALUES union.
- **Bloom point lookup** (``q_scan_bloom_skip``): equality probe on
  an UNclustered column through the per-file Bloom index, where
  min/max spans cover everything and only the filter can skip.
- **exactly-once streaming sink** (``q_stream_sink_table``): events
  replayed as ``foreachBatch`` micro-batch commits plus a
  redelivered batch that must be a no-op.
- **incremental curation** (``q_llm_curate_cdf``): the composition —
  crawl appended to staging, consumed as a CDF delta (O(new files)),
  dedup'd against the corpus, only novel docs appended to the
  curated table.

Why these are graded and not just unit-tested: rewrites, sinks, and
incremental consumers run OUTSIDE queries, and the failure mode of a
broken one is a silently wrong ANSWER on every subsequent read —
exactly what the driver's differential is built to catch.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from frafka_spark.artifacts import disk_artifact
from frafka_spark.io import table
from frafka_spark.registry import query

#: the DELETE predicate both engines apply: orderkeys in [DEL_LO,
#: DEL_HI] are removed — a contiguous key range so manifest stats can
#: prune. Fixture orderkeys are DENSE 0..N-1, so the range must stay
#: well under the smallest fixture's N (sf0.001 has 1500 orders) for
#: the key to exercise a partial delete at every scale
DEL_LO = 1
DEL_HI = 512
#: range-cluster width for the deletable table (files ≈ disjoint
#: orderkey spans, the layout a real table earns by clustering)
N_RANGE_FILES = 8
#: small-append count for the compaction table
N_APPENDS = 6


def _build_compact_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0..v5: six small appends (orderkey mod-6 slices, each split
    into 2 files — the micro-batch accretion shape); v6: compact."""
    from frafka_spark.sources.manifest_table import compact, write_table

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    for i in range(N_APPENDS):
        write_table(
            o.filter(F.col("o_orderkey") % N_APPENDS == i).repartition(2),
            str(dest),
            mode="append" if i else "overwrite",
        )
    compact(spark, str(dest))


def _build_deleted_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write; v1: file-pruned DELETE of
    orderkeys in [DEL_LO, DEL_HI]."""
    from frafka_spark.sources.manifest_table import (
        delete_rows,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    delete_rows(spark, str(dest), "o_orderkey", DEL_LO, DEL_HI)


#: merge change set: orderkeys in [UPD_LO, UPD_HI] get a fixed price
#: bump (update branch); INS_KEYS are fresh negative keys that cannot
#: collide with the dense 0..N-1 fixture keys at any scale (insert
#: branch). All corpus constants so the static oracle can rebuild the
#: merged table from the flat fixture.
UPD_LO = 100
UPD_HI = 199
UPD_BUMP = 100_000.0
INS_ROWS = [(-i, "1-URGENT", 1000.0 * i) for i in range(1, 6)]


def _build_merged_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write; v1: file-pruned MERGE whose
    change-set key span [-5, UPD_HI] touches only the low-key files."""
    from frafka_spark.sources.manifest_table import (
        merge_table_pruned,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    upd = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(UPD_LO, UPD_HI))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("o_totalprice") + F.lit(UPD_BUMP)).alias("o_totalprice"),
        )
    )
    ins = spark.createDataFrame(
        INS_ROWS, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    merge_table_pruned(spark, str(dest), upd.unionByName(ins), key="o_orderkey")


#: bloom point-probe constants: PROBE_CUST exists at every fixture
#: scale (custkeys are dense 0..N-1); MISS_CUST is absent everywhere
PROBE_CUST = 77
MISS_CUST = -7


def _build_bloom_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: orders clustered on o_orderkey (NOT the probe column) with
    a per-file Bloom index on o_custkey — the unclustered
    high-cardinality equality case min/max stats cannot prune."""
    from frafka_spark.sources.manifest_table import write_table_with_bloom

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_bloom(o, str(dest), ["o_custkey"], mode="overwrite")


_BUILDERS = {
    "orders_compacted": _build_compact_table,
    "orders_deleted": _build_deleted_table,
    "orders_merged": _build_merged_table,
    "orders_bloom": _build_bloom_table,
}


#: tag → the graded constants of an out-of-module builder (e.g.
#: llm/index_store.py), part of that tag's generation hash
_PARAMS: dict[str, list] = {}


def _register_builder(name, fp_params: list | None = None):
    """Builders defined after the dict literal self-register here."""
    _PARAMS[name] = fp_params or []

    def deco(fn):
        _BUILDERS[name] = fn
        return fn
    return deco


def _table_params(which: str) -> list:
    """The generation params of one lifecycle table: the version of
    the persisted manifest and index encodings, this module's builder
    constants, and the tag's own registered constants."""
    return [
        3,  # bump on any change to the persisted manifests or indexes
        [
            DEL_LO, DEL_HI, N_RANGE_FILES, N_APPENDS,
            UPD_LO, UPD_HI, UPD_BUMP, INS_ROWS, PROBE_CUST,
            N_STREAM_BATCHES, PFX_WORDS,
            UPD2_LO, UPD2_HI, UPD2_BUMP, UPD2_PRIORITY,
        ],
        _PARAMS.get(which, []),
    ]


def _ensure_table(spark: SparkSession, sf_dir: str, which: str) -> str:
    """The ``which`` lifecycle table, built once per fixture generation
    through the artifact store; nested lifecycles keep several tables
    under the returned directory."""
    return disk_artifact(
        sf_dir,
        which,
        _table_params(which),
        lambda path: _BUILDERS[which](spark, sf_dir, Path(path)),
    )


@query(
    "q_scan_compacted",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_scan_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPACTION as a logical no-op, graded: the orders table built
    as six mod-6 append commits of two files each (the small-file
    accretion every micro-batch sink produces) and then rewritten by
    one ``compact`` commit must answer a priority rollup EXACTLY like
    the flat fixture — same rows, same cents. The lifecycle pytest
    additionally pins the physical contract (fewer files after,
    pre-compaction snapshot time-travels, CDF across the compact
    commit is empty).

    Exactness: counts are longs; the price rollup is per-row half-up
    cents summed as BIGINTs.

    Scale shape: compaction cost is one distributed read+write of the
    live snapshot, sized by bytes (``ceil(bytes/target)`` output
    files) with no extra pass; the read after it is the point — a
    table that accreted a million micro-batch files reads at
    per-file-open cost until OPTIMIZE, and the rewrite must never
    change an answer. The rollup itself is a scan + one
    map-side-combined hash aggregate.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_compacted")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@query(
    "q_scan_deleted",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE NOT (o_orderkey BETWEEN {DEL_LO} AND {DEL_HI})
    GROUP BY o_orderpriority
    """,
)
def q_scan_deleted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-pruned copy-on-write DELETE, graded end-to-end: the
    range-clustered orders table (manifest min/max stats on the
    cluster key) after ``delete_rows(o_orderkey BETWEEN {DEL_LO} AND
    {DEL_HI})`` must answer the priority rollup exactly like the
    fixture filtered with ``NOT BETWEEN``. The lifecycle pytest pins
    what the differential can't see: only span-intersecting files
    were rewritten, untouched files carried byte-identical with their
    stats entries verbatim, the pre-delete snapshot still
    time-travels, and CDF across the commit is exactly the deleted
    rows tagged ``'delete'``.

    Exactness: counts are longs; the price rollup is per-row half-up
    cents summed as BIGINTs; the deleted key range is a fixed corpus
    constant applied with identical integer comparisons.

    Scale shape: THE reason row-level DML is viable at 100 TB — a
    DELETE on a clustered key touches O(files whose span intersects)
    instead of copying the table (``merge_table``'s documented
    refinement, implemented). The read is a plain multi-file scan +
    one hash aggregate; deleted files stay until ``vacuum``, so time
    travel and CDF keep their contracts.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_deleted")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


def _build_deleted_dv_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """v0: range-clustered stats write (same layout as the COW twin);
    v1: merge-on-read DELETE of the same key band — zero files
    rewritten, the deleted identities live in the manifest's
    deletion-vector map."""
    from frafka_spark.sources.manifest_table import (
        delete_rows_dv,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    delete_rows_dv(spark, str(dest), "o_orderkey", DEL_LO, DEL_HI)


_BUILDERS["orders_deleted_dv"] = _build_deleted_dv_table


@query(
    "q_scan_deleted_dv",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE NOT (o_orderkey BETWEEN {DEL_LO} AND {DEL_HI})
    GROUP BY o_orderpriority
    """,
)
def q_scan_deleted_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DELETION-VECTOR (merge-on-read) DELETE, graded end-to-end: the
    same range-clustered orders table and the same key band as
    ``q_scan_deleted``, but removed via ``delete_rows_dv`` — the
    commit rewrites ZERO data files and records the deleted (file,
    row_index) identities in the manifest instead; the scan applies
    them with a broadcast anti-join on the parquet ``_metadata``
    identity. Sharing the COW twin's oracle verbatim makes the grade
    the statement that merge-on-read and copy-on-write are the same
    DELETE: one answer, two write costs.

    The lifecycle pytest pins what the differential can't see: the
    post-delete manifest's file list is VERBATIM the parent's (zero
    bytes written), repeated DV deletes merge positions, an append
    carries the vectors (no resurrection), ``compact`` materializes
    them away, CDF across the commit is exactly the deleted rows via
    the O(delta) DV fast path, and time travel still serves v0.

    Exactness: identical to ``q_scan_deleted`` — counts are longs,
    half-up cents summed as BIGINTs, integer key comparisons.

    Scale shape: THE write-amplification fix for row-level deletes —
    a DELETE matching 0.001% of a 100 TB table costs O(matched rows)
    of manifest metadata instead of rewriting every span-intersecting
    file (GDPR erasure on an unclustered key touches MOST files under
    COW). Reads pay one broadcast anti-join against delta-sized state
    until ``compact`` folds the vectors back into data bytes — the
    same two-regime trade Delta ships as deletion vectors and Iceberg
    v2 as positional deletes.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_deleted_dv")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


#: corpus/crawl split for the IVM rollup lifecycle (distinct from the
#: index lifecycles' moduli; the union of both residue classes is the
#: full fixture, so the maintained rollup's oracle is the same
#: survivors rollup the delete twins grade)
IVM_MOD = 9


def apply_cdf_to_rollup(
    spark: SparkSession, rollup_path: str, delta: DataFrame
) -> None:
    """INCREMENTAL VIEW MAINTENANCE for the priority rollup: fold one
    CDF window into the materialized aggregate — inserts add, deletes
    subtract (counts as +/-1, price cents as +/- the row's half-up
    cents), groups falling to zero rows disappear. Sum/count are
    self-maintainable aggregates, so the fold needs ONLY the delta:
    cost O(delta) + O(groups), never a base-table scan — the
    materialized-view half of the CDF contract (min/max are NOT
    self-maintainable under deletes; a real engine recomputes those
    groups or keeps sketches). The rollup is O(groups) tiny, so each
    fold rewrites it as one overwrite commit — the right cost class,
    and every fold is itself an atomic snapshot."""
    from frafka_spark.sources.manifest_table import read_table, write_table

    sgn = F.when(F.col("_change_type") == "insert", F.lit(1)).otherwise(
        F.lit(-1)
    )
    cents = F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
    d = (
        delta.select(
            "o_orderpriority",
            sgn.alias("sgn"),
            (sgn * cents).alias("d_cents"),
        )
        .groupBy("o_orderpriority")
        .agg(
            F.sum("sgn").cast("bigint").alias("d_n"),
            F.sum("d_cents").cast("bigint").alias("d_c"),
        )
    )
    old = read_table(spark, rollup_path)
    merged = (
        old.join(d, "o_orderpriority", "full")
        .select(
            "o_orderpriority",
            (F.coalesce("n_orders", F.lit(0)) + F.coalesce("d_n", F.lit(0)))
            .cast("bigint")
            .alias("n_orders"),
            (F.coalesce("price_cents", F.lit(0)) + F.coalesce("d_c", F.lit(0)))
            .cast("bigint")
            .alias("price_cents"),
        )
        .filter(F.col("n_orders") > 0)
    )
    write_table(merged, rollup_path, mode="overwrite")


@_register_builder("orders_rollup_ivm", fp_params=[IVM_MOD])
def _build_ivm_tables(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """corpus v0 = base orders (o_orderkey % IVM_MOD != 0, range-
    clustered stats); v1 = crawl append; v2 = DELETION-VECTOR delete
    of [DEL_LO, DEL_HI]. rollup r0 = one full aggregate over corpus
    v0; r1/r2 = CDF(0→1) and CDF(1→2) folded in — the DV window's
    deletes arrive via the O(delta) fast path and SUBTRACT."""
    from frafka_spark.sources.manifest_table import (
        delete_rows_dv,
        read_changes,
        read_table,
        write_table,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    corpus, rollup = dest / "corpus", dest / "rollup"
    write_table_with_stats(
        o.filter(F.col("o_orderkey") % IVM_MOD != 0),
        str(corpus), ["o_orderkey"], mode="overwrite",
    )
    write_table_with_stats(
        o.filter(F.col("o_orderkey") % IVM_MOD == 0),
        str(corpus), ["o_orderkey"], mode="append",
    )
    delete_rows_dv(spark, str(corpus), "o_orderkey", DEL_LO, DEL_HI)

    base = read_table(spark, str(corpus), version=0)
    write_table(
        base.groupBy("o_orderpriority").agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            ).cast("bigint").alias("price_cents"),
        ),
        str(rollup),
        mode="overwrite",
    )
    for frm, to in ((0, 1), (1, 2)):
        apply_cdf_to_rollup(
            spark, str(rollup), read_changes(spark, str(corpus), frm, to)
        )


def _deleted_oracle() -> str:
    """q_scan_deleted's oracle via the registry — COW delete scan, MOR
    delete scan, and the IVM-maintained rollup must all produce this
    one relation."""
    from frafka_spark.registry import QUERIES

    return QUERIES["q_scan_deleted"].oracle


@query("q_agg_rollup_ivm", oracle=_deleted_oracle())
def q_agg_rollup_ivm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INCREMENTAL VIEW MAINTENANCE graded end-to-end: the priority
    rollup is materialized ONCE from the corpus base and then
    maintained purely from change feeds — an append window folds in
    positively, a DELETION-VECTOR delete window folds in negatively
    (the wave-12 fast path delivering the banded rows as O(delta)
    'delete' tags) — and the declared query reads ONLY the maintained
    rollup table. It shares ``q_scan_deleted``'s oracle verbatim, so
    the grade is a three-way identity: copy-on-write scan,
    merge-on-read scan, and delta-maintained aggregate are the same
    answer. The base corpus is NEVER re-aggregated after r0 — an IVM
    fold that silently drifted (missed window, double-applied batch,
    subtraction bug) hash-fails here.

    Exactness: counts and per-row half-up cents are BIGINTs, so adds
    and subtracts are exact — sum/count are self-maintainable; the
    docstring of ``apply_cdf_to_rollup`` records why min/max are not.

    Scale shape: THE reporting pattern at 100 TB — the dashboards'
    aggregate costs O(day's delta) + O(groups) per refresh instead of
    a corpus scan, riding the same CDF windows the index-maintenance
    consumers use; each fold is one atomic overwrite of an O(groups)
    relation, and the graded read is a scan of that tiny table.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_rollup_ivm")
    return read_table(spark, str(Path(path) / "rollup"))


_INS_VALUES_SQL = ", ".join(f"({p!r})" for _, _, p in INS_ROWS)


@query(
    "q_scan_merged",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
                  THEN o_totalprice + {UPD_BUMP}
                  ELSE o_totalprice END AS p
      FROM orders
      UNION ALL
      SELECT '1-URGENT' AS o_orderpriority, v AS p
      FROM (VALUES {_INS_VALUES_SQL}) t(v)
    )
    GROUP BY o_orderpriority
    """,
)
def q_scan_merged(spark: SparkSession, sf_dir: str) -> DataFrame:
    """File-pruned copy-on-write MERGE, graded end-to-end: the
    range-clustered orders table after ``merge_table_pruned`` with a
    change set that UPDATES the [{UPD_LO}, {UPD_HI}] key band (fixed
    price bump) and INSERTS five fresh negative-keyed rows must answer
    the priority rollup exactly like the fixture with the same CASE
    bump plus a VALUES union. The lifecycle pytest pins the physical
    contract: only files whose key span intersects the change set's
    [-5, {UPD_HI}] range were rewritten, the rest carried
    byte-identical with verbatim stats, and the pre-merge snapshot
    time-travels.

    Exactness: the bump is one IEEE double addition applied
    identically by both engines before the half-up cents floor;
    counts are longs; insert constants are corpus literals.

    Scale shape: the CDC pattern at 100 TB — a day's upsert batch
    touches O(files intersecting its key range) on a clustered table,
    not a table copy (``merge_table``'s documented refinement,
    implemented); within the rewrite the change set broadcasts, so
    the target never shuffles. The read stays a multi-file scan + one
    hash aggregate.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_merged")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@query(
    "q_scan_bloom_skip",
    oracle=f"""
    SELECT CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_custkey = {PROBE_CUST}
    """,
)
def q_scan_bloom_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-index point lookup, graded end-to-end: one customer's
    order count and spend read through ``read_table_bloom`` on a
    table CLUSTERED ON A DIFFERENT COLUMN — every file's min/max span
    covers the probe, so stats-based pruning is useless and only the
    per-file Bloom filter can skip. Correctness never depends on the
    skipping (the residual equality still applies; false positives
    only waste a read), which is exactly why the index is safe to
    trust at scale; the pytest pins prove the skipping itself —
    deterministic absence proofs on a controlled table and zero files
    read for an absent probe on this one.

    Exactness: counts are longs; spend is per-row half-up cents
    summed as BIGINTs; the probe key is a corpus constant present at
    every fixture scale.

    Scale shape: THE needle-in-haystack primitive — an equality probe
    on an unclustered high-cardinality column of a 100 TB table reads
    O(files actually containing the value) instead of every file
    whose span covers it (all of them), and proves absence while
    reading nothing. Index build cost is one column-pruned pass per
    new file at write time, the same place Delta pays it.
    """
    from frafka_spark.sources.manifest_table import read_table_bloom

    path = _ensure_table(spark, sf_dir, "orders_bloom")
    t = read_table_bloom(spark, path, "o_custkey", PROBE_CUST)
    return t.agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


#: UPDATE band + assignments for the first-class-UPDATE lifecycle:
#: keys in [UPD2_LO, UPD2_HI] get a fixed price bump and a forced
#: priority — two-column assignment, distinct from the merge band so
#: the two lifecycles can't mask each other. Fits sf0.001's dense
#: 0..1499 keys.
UPD2_LO = 300
UPD2_HI = 449
UPD2_BUMP = 50_000.0
UPD2_PRIORITY = "5-LOW"


@_register_builder("orders_updated")
def _build_updated_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write; v1: file-pruned UPDATE of the
    [UPD2_LO, UPD2_HI] key band (price bump + priority overwrite)."""
    from frafka_spark.sources.manifest_table import (
        update_rows,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    update_rows(
        spark,
        str(dest),
        "o_orderkey",
        UPD2_LO,
        UPD2_HI,
        {
            "o_totalprice": F.col("o_totalprice") + F.lit(UPD2_BUMP),
            "o_orderpriority": F.lit(UPD2_PRIORITY),
        },
    )


@_register_builder("orders_updated_dv")
def _build_updated_dv_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """v0: range-clustered stats write; v1: MERGE-ON-READ UPDATE of
    the same [UPD2_LO, UPD2_HI] band as the COW twin — matched rows
    vectored out, updated images appended, unmatched rows untouched."""
    from frafka_spark.sources.manifest_table import (
        update_rows_dv,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    update_rows_dv(
        spark,
        str(dest),
        "o_orderkey",
        UPD2_LO,
        UPD2_HI,
        {
            "o_totalprice": F.col("o_totalprice") + F.lit(UPD2_BUMP),
            "o_orderpriority": F.lit(UPD2_PRIORITY),
        },
    )


@_register_builder("orders_restored")
def _build_restored_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write; v1: the MISTAKE (file-pruned
    DELETE of [DEL_LO, DEL_HI]); v2: RESTORE to v0 as a new commit."""
    from frafka_spark.sources.manifest_table import (
        delete_rows,
        restore_table,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    delete_rows(spark, str(dest), "o_orderkey", DEL_LO, DEL_HI)
    restore_table(str(dest), 0)


#: three-branch CDC merge: delete band (distinct from every other
#: lifecycle band), plus the UPD_*/INS_ROWS upsert half reused from
#: the two-branch merge so the two oracles stay derivable from each
#: other. Fits sf0.001's dense 0..1499 keys.
CDC_DEL_LO = 600
CDC_DEL_HI = 699


@_register_builder("orders_cdc", fp_params=[CDC_DEL_LO, CDC_DEL_HI])
def _build_cdc_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write; v1: one three-branch CDC merge
    (updates [UPD_LO, UPD_HI], inserts INS_ROWS, deletes
    [CDC_DEL_LO, CDC_DEL_HI])."""
    from frafka_spark.sources.manifest_table import (
        merge_table_cdc,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    upd = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(UPD_LO, UPD_HI))
        .select(
            "o_orderkey",
            "o_orderpriority",
            (F.col("o_totalprice") + F.lit(UPD_BUMP)).alias("o_totalprice"),
            F.lit("upsert").alias("_op"),
        )
    )
    ins = spark.createDataFrame(
        INS_ROWS, "o_orderkey long, o_orderpriority string, o_totalprice double"
    ).withColumn("_op", F.lit("upsert"))
    dels = (
        table(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey").between(CDC_DEL_LO, CDC_DEL_HI))
        .select(
            "o_orderkey",
            "o_orderpriority",
            "o_totalprice",
            F.lit("delete").alias("_op"),
        )
    )
    merge_table_cdc(
        spark, str(dest), upd.unionByName(ins).unionByName(dels),
        key="o_orderkey",
    )


@query(
    "q_scan_merge_cdc",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM (
      SELECT o_orderpriority,
             CASE WHEN o_orderkey BETWEEN {UPD_LO} AND {UPD_HI}
                  THEN o_totalprice + {UPD_BUMP}
                  ELSE o_totalprice END AS p
      FROM orders
      WHERE NOT (o_orderkey BETWEEN {CDC_DEL_LO} AND {CDC_DEL_HI})
      UNION ALL
      SELECT '1-URGENT' AS o_orderpriority, v AS p
      FROM (VALUES {_INS_VALUES_SQL}) t(v)
    )
    GROUP BY o_orderpriority
    """,
)
def q_scan_merge_cdc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THREE-BRANCH file-pruned MERGE graded end-to-end — the full
    Delta ``WHEN MATCHED UPDATE / NOT MATCHED INSERT / MATCHED
    DELETE`` surface in ONE commit (``merge_table_cdc``): after a CDC
    batch that updates the [{UPD_LO}, {UPD_HI}] band, inserts five
    negative-keyed rows, and deletes the [{CDC_DEL_LO}, {CDC_DEL_HI}]
    band, the priority rollup must equal the fixture under the same
    CASE bump, VALUES union, and NOT BETWEEN. The lifecycle pytest
    pins carry/prune, branch counts, and the keyed-change-set guard.

    Exactness: one IEEE double addition before the half-up cents
    floor; exact longs; all bands/rows corpus constants.

    Scale shape: a real CDC batch mixes all three ops; handling them
    in one commit means one span computation, one file-pruned
    rewrite, one snapshot — instead of delete+merge as two commits
    doubling the rewrite of files both touch. The deletes apply as a
    broadcast anti-join and the upserts broadcast too, so the target
    never shuffles.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_cdc")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@query(
    "q_scan_updated",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM (
      SELECT CASE WHEN o_orderkey BETWEEN {UPD2_LO} AND {UPD2_HI}
                  THEN '{UPD2_PRIORITY}' ELSE o_orderpriority
             END AS o_orderpriority,
             CASE WHEN o_orderkey BETWEEN {UPD2_LO} AND {UPD2_HI}
                  THEN o_totalprice + {UPD2_BUMP}
                  ELSE o_totalprice END AS p
      FROM orders
    )
    GROUP BY o_orderpriority
    """,
)
def q_scan_updated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class file-pruned UPDATE, graded end-to-end: the
    range-clustered orders table after ``update_rows`` assigning a
    price bump AND a forced priority to the [{UPD2_LO}, {UPD2_HI}]
    key band must answer the priority rollup exactly like the fixture
    under the same two CASE expressions — completing the
    DELETE/MERGE/UPDATE DML surface (VERDICT r10 #5). The lifecycle
    pytest pins the physical contract: only span-intersecting files
    were rewritten, untouched files carried byte-identical with
    verbatim stats, the pre-update snapshot time-travels, and CDF
    across the commit is the updated rows' delete/insert pairs.

    Exactness: the bump is one IEEE double addition applied
    identically by both engines before the half-up cents floor;
    counts are longs; band and assignments are corpus constants.

    Scale shape: the day-two operation of every mutable 100 TB table —
    an UPDATE on a clustered key band touches O(intersecting files),
    the rewrite is a pure projection (no shuffle, no join), and the
    read stays a multi-file scan + one hash aggregate.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_updated")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


def _updated_oracle() -> str:
    """q_scan_updated's oracle, shared structurally via the registry —
    the MOR twin must produce the identical relation."""
    from frafka_spark.registry import QUERIES

    return QUERIES["q_scan_updated"].oracle


@query("q_scan_updated_dv", oracle=_updated_oracle())
def q_scan_updated_dv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE-ON-READ UPDATE via deletion vectors, graded end-to-end:
    the same table, band, and assignments as ``q_scan_updated``, but
    executed by ``update_rows_dv`` — matched rows are VECTORED out of
    their files and their updated images appended in one commit;
    unmatched rows are never rewritten. Sharing the COW twin's oracle
    verbatim makes the grade the statement that MOR and COW are the
    same UPDATE: one answer, two write costs.

    The lifecycle pytest pins the physical contract: the commit's
    file list is the parent's PLUS only the appended image files
    (zero rewrites), the vector names exactly the matched rows, CDF
    across the commit is the delete/insert pair via the incremental
    fast path, and ``compact`` folds vectors and images back into
    plain files with the same answer.

    Exactness: identical to the COW twin — one IEEE double addition
    before the half-up cents floor, long counts, corpus-constant band.

    Scale shape: UPDATE's write cost drops from O(bytes of every
    span-intersecting file) to O(matched rows) — on a 100 TB table
    where a band UPDATE touches wide files, the COW rewrite copies
    every innocent row in them; MOR writes the band's images plus
    kilobytes of vector. Reads pay the broadcast anti-join until
    compaction — the same two-regime trade as the DELETE twin.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_updated_dv")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@query(
    "q_scan_restored",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def q_scan_restored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RESTORE-to-version, graded end-to-end: after a mistaken DELETE
    the table is restored to v0 AS A NEW COMMIT (``restore_table``,
    VERDICT r10 #5), so the latest snapshot must answer the priority
    rollup exactly like the untouched fixture — while the mistake
    stays in history. The lifecycle pytest pins what the differential
    can't see: the restore wrote ZERO data files (v2's file list is
    v0's verbatim, stats carried), v1 still time-travels to the
    deleted state, CDF across the restore is exactly the resurrected
    rows tagged insert, and timestamp travel resolves each commit
    epoch to its snapshot.

    Exactness: counts are longs; the price rollup is per-row half-up
    cents summed as BIGINTs; restoring v0 makes the oracle the plain
    fixture rollup by construction.

    Scale shape: the incident-response primitive — undoing a bad
    commit on a 100 TB table is one manifest write referencing the
    old file list (O(files) metadata, zero data movement), not a
    restore-from-backup copy; vacuum retention bounds how far back
    the trick works, same trade Delta makes.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_restored")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@_register_builder("orders_cloned")
def _build_cloned_tables(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """source v0 = orders; clone = SHALLOW CLONE (zero data files);
    clone v1 = INS_ROWS appended to the CLONE ONLY — the source must
    stay bit-identical."""
    from frafka_spark.sources.manifest_table import clone_table, write_table

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    src, dst = dest / "source", dest / "clone"
    write_table(o, str(src), mode="overwrite")
    clone_table(str(src), str(dst))
    ins = spark.createDataFrame(
        INS_ROWS, "o_orderkey long, o_orderpriority string, o_totalprice double"
    )
    write_table(ins, str(dst), mode="append")


@query(
    "q_scan_cloned",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(p * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM (
      SELECT o_orderpriority, o_totalprice AS p FROM orders
      UNION ALL
      SELECT '1-URGENT' AS o_orderpriority, v AS p
      FROM (VALUES {_INS_VALUES_SQL}) t(v)
    )
    GROUP BY o_orderpriority
    """,
)
def q_scan_cloned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SHALLOW CLONE graded end-to-end: the clone's v0 references the
    source's data files with ZERO bytes copied, then diverges with an
    append the source never sees — the priority rollup over the clone
    must equal the fixture plus the VALUES union, while the lifecycle
    pytest pins the physical contract (clone v0's file list is the
    source's verbatim, the append added files only under the clone's
    own path, and the source's manifest chain is untouched).

    Exactness: counts are longs; per-row half-up cents; insert rows
    are corpus literals.

    Scale shape: the dev/test/experiment primitive at 100 TB —
    branching a table for a backfill rehearsal or an A/B pipeline is
    one manifest write, not a copy; divergent writes stay under the
    clone, and the single hazard (source VACUUM dropping files a
    clone still references) is the retention contract the docstring
    carries from Delta.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_cloned")
    t = read_table(spark, str(Path(path) / "clone"))
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


#: micro-batch count for the streamed-sink lifecycle table
N_STREAM_BATCHES = 4


@_register_builder("events_streamed")
def _build_stream_sink_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """Replay events into the manifest table through the exactly-once
    ``foreachBatch`` body: four deterministic micro-batches
    (event_id mod 4 — the batch split a resumed stream would
    reproduce), then a REDELIVERY of batch 1 (the crash-between-
    data-write-and-checkpoint case) which must be detected and
    skipped, plus per-batch file stats riding the sink."""
    from frafka_spark.sources.manifest_table import write_stream_batch

    e = table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    # raises, not asserts: the writes must also run under -O
    for bid in range(N_STREAM_BATCHES):
        part = e.filter(F.col("event_id") % N_STREAM_BATCHES == bid)
        got = write_stream_batch(part, bid, str(dest), ["event_id"])
        if got != bid:
            raise RuntimeError(f"stream batch {bid} committed as {got}")
    # redelivered batch: same id, must be a no-op
    redelivered = write_stream_batch(
        e.filter(F.col("event_id") % N_STREAM_BATCHES == 1), 1, str(dest)
    )
    if redelivered is not None:
        raise RuntimeError("redelivered stream batch 1 was committed again")


@query(
    "q_stream_sink_table",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
               AS total_value
    FROM events
    GROUP BY event_type
    """,
)
def q_stream_sink_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-once STREAMING SINK graded end-to-end (Tier A12 on the
    driver's differential): the events corpus replayed into the
    manifest table as four deterministic ``foreachBatch``
    micro-batch commits PLUS one redelivered batch — the
    crash-between-data-write-and-checkpoint replay every at-least-
    once engine produces — and the table must aggregate exactly like
    the flat fixture. A sink that double-applied the redelivery
    inflates every count and fails the hash; the no-op is asserted
    at build time too.

    Exactness: counts are longs; value totals ride the shared
    decimal-sum (order-independent, the ``dec_sum`` discipline).

    Scale shape: the sink's transaction boundary is one atomic
    manifest create per micro-batch — O(files) metadata, no
    table-wide coordination — and redelivery detection is a
    batch-id lookup in the manifest chain, not a data comparison.
    Stats ride each batch's files (the r10 ``stats_cols`` sink
    extension), so the streamed table serves pruned reads without a
    maintenance pass. This is how a 100 TB ingest keeps exactly-once
    semantics at micro-batch granularity with no Kafka-side
    transactions.
    """
    from frafka_spark.functions.determinism import dec_sum
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "events_streamed")
    t = read_table(spark, path)
    return t.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_events"),
        dec_sum("value", "total_value"),
    )


#: prefix-fingerprint width for the curation pipeline (the
#: q_llm_dedup_prefix / q_llm_dedup_incremental near-tier constant)
PFX_WORDS = 10


def _pfx_col():
    return F.md5(
        F.concat_ws(" ", F.slice(F.split(F.col("text"), " "), 1, PFX_WORDS))
    )


@_register_builder("documents_curated")
def _build_curated_tables(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """The incremental-curation pipeline, run once per fixture:

    staging  v0 = corpus append (doc_id % 7 != 0)
             v1 = today's crawl append (doc_id % 7 == 0)
    curated  v0 = corpus
             v1 = append ONLY the crawl docs that are novel — CDF
                  (v0→v1, append fast path) feeds the dedup: prefix
                  fingerprint not already in the corpus, min-doc_id
                  keeper within the crawl's own collisions.
    """
    from frafka_spark.sources.manifest_table import (
        read_changes,
        write_table,
    )

    d = table(spark, sf_dir, "documents").select("doc_id", "source", "text")
    corpus = d.filter(F.col("doc_id") % 7 != 0)
    crawl = d.filter(F.col("doc_id") % 7 == 0)
    staging, curated = dest / "staging", dest / "curated"
    write_table(corpus, str(staging), mode="overwrite")
    write_table(crawl, str(staging), mode="append")
    write_table(corpus, str(curated), mode="overwrite")

    delta = read_changes(spark, str(staging), 0, 1)
    keyed = delta.select("doc_id", "source", "text", _pfx_col().alias("pfx"))
    corpus_pfx = corpus.select(_pfx_col().alias("pfx")).distinct()
    w = Window.partitionBy("pfx").orderBy("doc_id")
    novel = (
        keyed.join(corpus_pfx, "pfx", "left_anti")
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "source", "text")
    )
    write_table(novel, str(curated), mode="append")


@query(
    "q_llm_curate_cdf",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, source, text,
             md5(array_to_string(string_split(text, ' ')[1:{PFX_WORDS}], ' '))
                 AS pfx
      FROM documents
    ),
    corpus AS (SELECT * FROM d WHERE doc_id % 7 <> 0),
    crawl AS (SELECT * FROM d WHERE doc_id % 7 = 0),
    novel AS (
      SELECT * FROM crawl c
      WHERE NOT EXISTS (SELECT 1 FROM corpus k WHERE k.pfx = c.pfx)
        AND doc_id = (SELECT min(doc_id) FROM crawl c2
                      WHERE c2.pfx = c.pfx)
    ),
    curated AS (
      SELECT source, text FROM corpus
      UNION ALL SELECT source, text FROM novel
    )
    SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(length(text)) AS BIGINT) AS chars
    FROM curated GROUP BY source
    """,
)
def q_llm_curate_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The INCREMENTAL CURATION pipeline graded end-to-end — the
    composition the lakehouse + dedup surfaces exist for: a staging
    table takes the corpus and then today's crawl as append commits;
    the consumer reads the crawl as a CHANGE-DATA-FEED delta (append
    fast path — O(new files), the base snapshot never read), dedups
    it against the corpus (prefix-fingerprint anti-join, min-doc_id
    keeper within the crawl's own collisions), and appends ONLY the
    novel docs to the curated table. The graded read is the curated
    table's per-source doc/char census, which must match the oracle's
    from-scratch reconstruction of the same policy.

    Exactness: fingerprints are md5 over the identical
    split/slice/concat both engines already share
    (``q_llm_dedup_incremental``); counts/chars are longs; the
    within-crawl keeper is min-doc_id, a total order.

    Scale shape: the only work proportional to the CORPUS is one
    fingerprint projection for the anti-join build side (a real
    pipeline materializes that index once — the ``session_artifact``
    pattern); everything else is O(crawl): the CDF delta is the new
    files, the dedup joins key on fingerprints, the curated append
    is one commit. Running this daily on a 100 TB corpus costs a
    crawl-sized job, not a corpus-sized one — the entire point of
    incremental curation.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "documents_curated")
    t = read_table(spark, str(Path(path) / "curated"))
    return t.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum(F.length("text")).cast("bigint").alias("chars"),
    )


# ---------------------------------------------------------------------------
# Round 12, wave 1: hive PARTITION COLUMNS (the first-line prune) and
# the DV-density AUTO-COMPACTION policy, each graded end-to-end.
# ---------------------------------------------------------------------------

#: partition + clustering shape for the partitioned-orders lifecycle
PP_PRIORITY = "1-URGENT"
PP_KEY_LO, PP_KEY_HI = 1, 3000
N_PART_RANGE = 4
#: auto-compact lifecycle: DV-delete the low 3/40 of the orderkey
#: space (≈60% of the first of 8 range files at EVERY sf — the policy
#: triggers at sf0.001 pytest scale and sf0.01 grading scale alike)
AC_FRAC_NUM, AC_FRAC_DEN = 3, 40
AC_THRESHOLD = 0.30


@_register_builder(
    "orders_partitioned",
    fp_params=[PP_PRIORITY, PP_KEY_LO, PP_KEY_HI, N_PART_RANGE],
)
def _build_partitioned_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """One overwrite: orders hive-partitioned by o_orderpriority with
    per-file o_orderkey min/max stats — every file is (priority ×
    key-range) pure, so BOTH prune tiers have something to cut."""
    from frafka_spark.sources.manifest_table import write_table_with_stats

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_PART_RANGE, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(
        o,
        str(dest),
        ["o_orderkey"],
        mode="overwrite",
        partition_by=["o_orderpriority"],
    )


@query(
    "q_scan_partition_pruned",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderpriority = '{PP_PRIORITY}'
      AND o_orderkey BETWEEN {PP_KEY_LO} AND {PP_KEY_HI}
    GROUP BY o_orderpriority
    """,
)
def q_scan_partition_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HIVE PARTITION COLUMNS, graded end-to-end: orders written
    ``partition_by=["o_orderpriority"]`` (each data file belongs to
    exactly one priority, recorded in the manifest) and range-
    clustered on o_orderkey with file stats; the graded read resolves
    one priority through ``read_table_pruned`` — the PARTITION prune
    cuts 4/5 of the files before any stats span is even consulted —
    then applies the key band as a residual. The lifecycle pytest
    pins the physical contract the differential can't see: files of
    other priorities are pruned by the partition rule (probe counts),
    the stats rule still prunes within the surviving partition, and
    the layout survives appends/compact (the DML property sweep runs
    the whole DML surface on a partitioned table).

    Exactness: the partition value is an exact string equality on
    both engines; counts are longs, half-up cents summed as BIGINTs.

    Scale shape: partition pruning is THE first-line prune of every
    warehouse (Hive/Delta/Iceberg/BigQuery): exact, O(files) manifest
    metadata, zero footer reads — on a 100 TB table partitioned by
    day/source, a one-partition query plans against 1/N of the file
    list before stats, bloom, or z-order even run. Values ride the
    manifest (not dir-name parsing) and the columns stay IN the data
    files, so the read path needs no per-file literal injection.
    """
    from frafka_spark.sources.manifest_table import read_table_pruned

    path = _ensure_table(spark, sf_dir, "orders_partitioned")
    t = read_table_pruned(
        spark, path, "o_orderpriority", PP_PRIORITY, PP_PRIORITY
    )
    return (
        t.filter(F.col("o_orderkey").between(PP_KEY_LO, PP_KEY_HI))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            )
            .cast("bigint")
            .alias("price_cents"),
        )
    )


@_register_builder(
    "orders_autocompacted",
    fp_params=[AC_FRAC_NUM, AC_FRAC_DEN, AC_THRESHOLD, N_RANGE_FILES],
)
def _build_autocompacted_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """v0: range-clustered stats write (8 files); v1: DV delete of
    the low 3/40 of the key space (≈60% of file 0's rows — dense);
    v2: the auto_compact policy commit (file 0 rewritten DV-applied,
    every other file carried verbatim, vector dropped)."""
    from frafka_spark.sources.manifest_table import (
        auto_compact,
        delete_rows_dv,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    maxk = o.agg(F.max("o_orderkey")).first()[0]
    bound = maxk * AC_FRAC_NUM // AC_FRAC_DEN
    delete_rows_dv(spark, str(dest), "o_orderkey", 1, bound)
    auto_compact(spark, str(dest), max_deleted_fraction=AC_THRESHOLD)


@query(
    "q_scan_autocompacted",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE NOT (o_orderkey BETWEEN 1 AND
               (SELECT (max(o_orderkey) * {AC_FRAC_NUM}) // {AC_FRAC_DEN}
                FROM orders))
    GROUP BY o_orderpriority
    """,
)
def q_scan_autocompacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-DENSITY AUTO-COMPACTION, graded end-to-end: a fixed 3/40 of
    the orderkey space is DV-deleted (≈60% of the first range file at
    every sf — above the 30% policy threshold) and ``auto_compact``
    rewrites EXACTLY that file DV-applied, carrying every other file
    verbatim; the graded rollup over the post-policy table must equal
    the oracle's NOT-BETWEEN reconstruction — auto-compaction is a
    logical no-op by contract. The lifecycle pytest pins the policy
    edge the differential can't see: exactly-on-threshold files stay,
    strictly-above rewrite, the result equals a manual ``compact``,
    and the policy is idempotent.

    Exactness: the deleted bound is integer arithmetic on both
    engines (``max*3 // 40`` — exact longs, no float division);
    counts are longs, half-up cents summed as BIGINTs.

    Scale shape: the valve that keeps merge-on-read honest at 100 TB
    — vectors make deletes O(delta), but a file that accretes a dense
    vector pays its anti-join forever; the policy converts exactly
    the files past the read-amplification break-even back to clean
    bytes (footer row counts only — no data read to DECIDE), one
    bounded job per dense file instead of a table-sized OPTIMIZE.
    Delta ships the same loop as auto-compaction + purge.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_autocompacted")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@_register_builder(
    "orders_deleted_dv_spilled", fp_params=[AC_FRAC_NUM, AC_FRAC_DEN]
)
def _build_deleted_dv_spilled_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """v0: range-clustered stats write (8 files); v1: DV delete of the
    low 3/40 of the key space and NOTHING else — at sf0.01 that is
    ~1.1k positions in one file, past the inline threshold, so the
    snapshot SERVES through a packed-bitmap sidecar (at sf0.001 the
    same fraction stays inline — the two representations must be
    indistinguishable to readers)."""
    from frafka_spark.sources.manifest_table import (
        delete_rows_dv,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    maxk = o.agg(F.max("o_orderkey")).first()[0]
    bound = maxk * AC_FRAC_NUM // AC_FRAC_DEN
    delete_rows_dv(spark, str(dest), "o_orderkey", 1, bound)


@query(
    "q_scan_deleted_dv_spilled",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE NOT (o_orderkey BETWEEN 1 AND
               (SELECT (max(o_orderkey) * {AC_FRAC_NUM}) // {AC_FRAC_DEN}
                FROM orders))
    GROUP BY o_orderpriority
    """,
)
def q_scan_deleted_dv_spilled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIDECAR deletion vectors SERVING reads, graded end-to-end: the
    DV delete names enough positions (a fixed 3/40 of the key space —
    ≈60% of the first range file at every sf) that the vector SPILLS
    past the inline threshold at grading scale, so the scan's
    broadcast anti-join pairs come from a packed-bitmap sidecar file
    unpacked ON THE EXECUTORS — and the rollup must still equal the
    oracle's NOT-BETWEEN reconstruction exactly. At smoke scale the
    same fraction stays inline, which is the representation-
    transparency contract: readers cannot tell how a vector is
    stored. (q_scan_autocompacted is the companion key that then
    FOLDS this state away; here the snapshot is deliberately left
    serving through the vector.)

    Exactness: integer bound (max·3 // 40 — exact longs both
    engines); counts are longs, half-up cents summed as BIGINTs.

    Scale shape: the GDPR-erasure steady state at 100 TB — a large
    predicate delete costs O(files) packed manifest/sidecar bytes
    (never a driver position list, VERDICT r11 #2), and every read
    until the next auto_compact pays one broadcast anti-join whose
    build side streams executor→JVM from the sidecars. The plan pin
    (test_plans.py) holds it to BroadcastHashJoin LeftAnti with no
    sort-merge fallback.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_deleted_dv_spilled")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


# ---------------------------------------------------------------------------
# Round 12, continuation wave: METADATA SIDECARS (Iceberg manifest
# files) graded end-to-end — the layer that keeps commit metadata
# O(delta) and prune planning distributed once a table's file count
# outgrows an inline JSON manifest.
# ---------------------------------------------------------------------------

#: enough range files that the snapshot crosses META_SIDECAR_MIN_FILES
#: (64) and the manifest REALLY spills at every fixture sf
MS_N_FILES = 96
MS_SPLIT_MOD = 7  # v0 = keys % 7 != 0 (overwrite), v1 = the rest (append)
#: v2's narrow copy-on-write delete band sits INSIDE the graded band
#: at every sf (orderkeys are dense 0..N-1; sf0.001 tops out at 1499)
#: so the graded hash actually witnesses the delete
MS_DEL_LO, MS_DEL_HI = 1251, 1350
MS_BAND_LO, MS_BAND_HI = 1201, 1480  # the graded pruned read


@_register_builder(
    "orders_meta_sidecar",
    fp_params=[MS_N_FILES, MS_SPLIT_MOD, MS_DEL_LO, MS_DEL_HI],
)
def _build_meta_sidecar_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """Three commits against a {MS_N_FILES}-file snapshot (> the 64
    spill threshold, so per-file metadata lives in parquet sidecars
    from v0 on): v0 range-clustered overwrite of keys % 7 != 0, v1
    append of the remainder (writes a sidecar for ONLY its own files
    — the O(delta) commit), v2 a narrow copy-on-write delete (retires
    the touched files via the removed list, carried sidecars reused
    byte-for-byte)."""
    from frafka_spark.sources.manifest_table import (
        delete_rows,
        write_table_with_stats,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )

    def clustered(df: DataFrame, n: int) -> DataFrame:
        return df.repartitionByRange(n, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        )

    write_table_with_stats(
        clustered(o.filter(F.col("o_orderkey") % MS_SPLIT_MOD != 0), MS_N_FILES),
        str(dest),
        ["o_orderkey"],
        mode="overwrite",
    )
    write_table_with_stats(
        clustered(
            o.filter(F.col("o_orderkey") % MS_SPLIT_MOD == 0), MS_N_FILES // 6
        ),
        str(dest),
        ["o_orderkey"],
        mode="append",
    )
    delete_rows(spark, str(dest), "o_orderkey", MS_DEL_LO, MS_DEL_HI)


@query(
    "q_scan_meta_pruned",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey BETWEEN {MS_BAND_LO} AND {MS_BAND_HI}
      AND o_orderkey NOT BETWEEN {MS_DEL_LO} AND {MS_DEL_HI}
    GROUP BY o_orderpriority
    """,
)
def q_scan_meta_pruned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """METADATA SIDECARS graded end-to-end: a {MS_N_FILES}-file
    snapshot whose manifest JSON carries NO inline file list — per-
    file paths/stats live in parquet sidecars (Iceberg's manifest
    files), appends write sidecars for only their new files, and the
    copy-on-write delete retires files via a removed-list. The graded
    read resolves a key band through ``read_table_pruned``, which in
    sidecar mode plans the prune AS A SPARK JOB over the metadata
    parquet (``_span_keep_files_distributed``) — only surviving paths
    reach the driver. The lifecycle pytest pins the physical contract
    the differential can't see: the raw manifest has no ``files``
    key, the append's sidecar covers exactly its own files, the probe
    reports distributed planning with real prune counts.

    Exactness: prune verdicts share one predicate function with the
    driver-side loop (``_keep_verdict``), so pruning can't diverge;
    the residual BETWEEN applies either way; counts are longs,
    half-up cents summed as BIGINTs.

    Scale shape: THE fix for the last driver-sized bottleneck in the
    table format — at a million files an inline manifest is a 100 MB
    JSON parsed per read and rewritten per commit, while sidecar mode
    keeps the commit JSON O(1), commit metadata O(new files), and
    prune planning a distributed columnar scan returning O(matching
    files). This is exactly Iceberg's manifest-file/manifest-list
    split, re-expressed on parquet.
    """
    from frafka_spark.sources.manifest_table import read_table_pruned

    path = _ensure_table(spark, sf_dir, "orders_meta_sidecar")
    t = read_table_pruned(spark, path, "o_orderkey", MS_BAND_LO, MS_BAND_HI)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


#: partition-evolution lifecycle: v0 priority-partitioned half, v1 the
#: metadata-only spec change, v2 status-partitioned other half
PE_STATUS = "F"


@_register_builder("orders_partition_evolved", fp_params=[PE_STATUS])
def _build_partition_evolved_table(
    spark: SparkSession, sf_dir: str, dest: Path
) -> None:
    """v0: even orderkeys partitioned by o_orderpriority; v1:
    ``evolve_partitioning`` → ["o_orderstatus"] (zero files touched);
    v2: odd orderkeys appended under the NEW spec. The snapshot ends
    with files of BOTH layouts, each carrying its own tuple."""
    from frafka_spark.sources.manifest_table import (
        evolve_partitioning,
        write_table,
    )

    o = table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_orderpriority", "o_totalprice"
    )
    write_table(
        o.filter(F.col("o_orderkey") % 2 == 0),
        str(dest),
        mode="overwrite",
        partition_by=["o_orderpriority"],
    )
    evolve_partitioning(str(dest), ["o_orderstatus"])
    write_table(o.filter(F.col("o_orderkey") % 2 == 1), str(dest), mode="append")


@query(
    "q_scan_partition_evolved",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderstatus = '{PE_STATUS}'
    GROUP BY o_orderpriority
    """,
)
def q_scan_partition_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PARTITION EVOLUTION graded end-to-end: the table switched specs
    (priority → status) as a METADATA-ONLY commit between two appends,
    so its snapshot holds files of both layouts; the graded read
    resolves one status through ``read_table_pruned``, which prunes
    the new-spec files by their status tuples, keeps the old-spec
    files conservatively (they carry no status tuple), and applies
    the residual everywhere — the result must equal the plain SQL over
    ALL orders. The lifecycle pytest pins the physical contract: v1
    moved zero data files, old files keep priority tuples, probes on
    either spec's column prune only that spec's files, and appending
    an explicitly different layout still raises without an evolution
    commit.

    Scale shape: Iceberg's spec-per-file contract — repartitioning a
    100 TB table (daily → hourly, adding a source column) is one O(1)
    metadata commit, never a history rewrite; every reader stays
    correct under mixed layouts because pruning consults each file's
    OWN recorded tuple.
    """
    from frafka_spark.sources.manifest_table import read_table_pruned

    path = _ensure_table(spark, sf_dir, "orders_partition_evolved")
    t = read_table_pruned(spark, path, "o_orderstatus", PE_STATUS, PE_STATUS)
    return (
        t.filter(F.col("o_orderstatus") == PE_STATUS)
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("o_totalprice") * 100 + F.lit(0.5))
                .cast("bigint")
            )
            .cast("bigint")
            .alias("price_cents"),
        )
    )


# ---------------------------------------------------------------------------
# Snapshot retention (VACUUM) — the storage-bound end of the table
# lifecycle. Copy-on-write DML and OPTIMIZE keep every superseded
# file on disk so old versions stay time-travelable; at 100 TB that
# history IS the storage bill, and retention is the knob that trades
# it away. q_scan_vacuumed grades the whole arc: write → CoW delete →
# compact → vacuum(keep_last=1), with the graded read proving vacuum
# is a logical no-op on the surviving snapshot while the lifecycle
# pytest pins the physical half (old manifests and every
# now-unreferenced data file actually gone, pinned readers failing
# loudly — the Delta VACUUM contract).
# ---------------------------------------------------------------------------

# distinct key band from AC's low-3/40: vacuum deletes the TOP 5/40
VAC_FRAC_NUM, VAC_FRAC_DEN = 35, 40


@_register_builder("orders_vacuumed", fp_params=[VAC_FRAC_NUM, VAC_FRAC_DEN])
def _build_vacuumed_table(spark: SparkSession, sf_dir: str, dest: Path) -> None:
    """v0: range-clustered stats write (8 files); v1: copy-on-write
    DELETE of the top 5/40 of the key space (rewrites only the
    span-intersecting tail files); v2: full compact; then
    ``vacuum(keep_last=1)`` drops the v0/v1 manifests and physically
    removes every data file only they referenced."""
    from frafka_spark.sources.manifest_table import (
        compact,
        current_version,
        delete_rows,
        vacuum,
        write_table_with_stats,
    )

    o = (
        table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_orderpriority", "o_totalprice")
        .repartitionByRange(N_RANGE_FILES, "o_orderkey")
        .sortWithinPartitions("o_orderkey")
    )
    write_table_with_stats(o, str(dest), ["o_orderkey"], mode="overwrite")
    maxk = o.agg(F.max("o_orderkey")).first()[0]
    lo = maxk * VAC_FRAC_NUM // VAC_FRAC_DEN + 1
    delete_rows(spark, str(dest), "o_orderkey", lo, maxk)
    compact(spark, str(dest))
    deleted = vacuum(str(dest), keep_last=1)
    # the builder itself guarantees the retention pass had teeth: the
    # CoW delete and the compact both strand files, so a vacuum that
    # removes nothing means the lifecycle under grade never happened
    if not deleted:
        raise RuntimeError("vacuum deleted no files — lifecycle broken")
    if current_version(str(dest)) != 2:
        raise RuntimeError("expected exactly v0..v2 before retention")


@query(
    "q_scan_vacuumed",
    oracle=f"""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey <= (SELECT (max(o_orderkey) * {VAC_FRAC_NUM})
                                // {VAC_FRAC_DEN} FROM orders)
    GROUP BY o_orderpriority
    """,
)
def q_scan_vacuumed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SNAPSHOT RETENTION graded end-to-end: after a copy-on-write
    DELETE of the top 5/40 of the key space and a full compact,
    ``vacuum(keep_last=1)`` physically deletes every data file and
    manifest only the superseded snapshots referenced — and the
    graded rollup over what remains must equal the oracle's
    reconstruction exactly (retention is a logical no-op on the
    kept snapshot). The lifecycle pytest pins the physical
    contract the differential can't see: the deleted-file list is
    non-empty, pre-retention versions fail loudly, and the on-disk
    parquet set is exactly the kept manifest's file set (plus
    sidecar state the kept snapshot still references).

    Exactness: integer band bound (max·35 // 40 — exact longs both
    engines); counts are longs, half-up cents summed as BIGINTs.

    Scale shape: retention never reads data — it walks manifests
    (O(versions · files-per-manifest) driver work) and unlinks; the
    in-flight-writer race is handled by deleting only files a
    DROPPED manifest referenced, never unknown files (those belong
    to uncommitted writers and age out via ``gc_orphans``), the
    same split Delta's VACUUM retention window exists for.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_table(spark, sf_dir, "orders_vacuumed")
    t = read_table(spark, path)
    return t.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )
