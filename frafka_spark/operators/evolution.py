"""Schema evolution on the graded surface — a declared query over a
manifest table that has LIVED through the full metadata-only
evolution lifecycle (``sources/manifest_table.py``): created with
one shape, ADD COLUMN, an append that populates the new column,
RENAME COLUMN with name-based mapping. The query reads the latest
snapshot like any consumer would — logical names, NULL-projected
history — and the DuckDB oracle reproduces the same rows from the
flat fixture with plain CASE arithmetic, proving that four commits
of evolution changed the table's METADATA and nothing about its
answer.

This is the operational behavior a 100 TB table cannot live without:
adding or renaming a column on a petabyte of parquet must be one
manifest commit, not a rewrite — and every reader (snapshot, pruned,
CDF) must keep resolving both the files written before the change
and the files written after it. The lifecycle pytest
(tests/test_sources.py) pins the mechanics; this key pins the
end-to-end answer under the driver's differential.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import disk_artifact
from frafka_spark.io import table
from frafka_spark.registry import query

#: appended rows tag segments by a price threshold — a fixed corpus
#: constant both engines apply with identical arithmetic
SEG_PRICE = 100_000.0


def _ensure_evolved_table(spark: SparkSession, sf_dir: str) -> str:
    """The evolved orders table (a disk artifact):

    v0  write  — even-orderkey rows as (o_orderkey, o_orderpriority,
                 o_totalprice)
    v1  evolve — ADD COLUMN segment string (metadata-only)
    v2  append — odd-orderkey rows WITH segment (price-threshold tag)
    v3  evolve — RENAME o_totalprice → price (metadata-only, mapped)
    """
    from frafka_spark.sources.manifest_table import (
        add_column,
        rename_column,
        write_table,
    )

    def build(path: str) -> None:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        write_table(
            o.filter(F.col("o_orderkey") % 2 == 0), path, mode="overwrite"
        )
        add_column(path, "segment", "string")
        write_table(
            o.filter(F.col("o_orderkey") % 2 == 1).withColumn(
                "segment",
                F.when(
                    F.col("o_totalprice") >= F.lit(SEG_PRICE), "high"
                ).otherwise("std"),
            ),
            path,
            mode="append",
        )
        rename_column(path, "o_totalprice", "price")

    # 2: version of the persisted manifests' carry rules
    return disk_artifact(sf_dir, "orders_evolved", [2, SEG_PRICE], build)


@query(
    "q_scan_evolved",
    oracle=f"""
    SELECT o_orderpriority,
           CASE WHEN o_orderkey % 2 = 0 THEN 'legacy'
                WHEN o_totalprice >= {SEG_PRICE} THEN 'high'
                ELSE 'std' END AS segment,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    GROUP BY 1, 2
    """,
)
def q_scan_evolved(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority × segment rollup over the EVOLVED orders table — the
    schema-evolution lifecycle (create → ADD COLUMN → populate-append
    → RENAME with column mapping, all metadata-only commits) driven
    end-to-end under the differential: the latest snapshot is read
    under its logical names (``price`` resolves through the mapping
    to the frozen physical ``o_totalprice`` in every data file;
    pre-evolution rows project ``segment`` as NULL, folded to
    'legacy'), and the oracle rebuilds the identical rows from the
    flat fixture with plain CASE arithmetic.

    Exactness: the segment tag is a fixed price threshold (identical
    double comparison both engines); counts are longs; the price
    rollup is per-row half-up cents summed as BIGINTs.

    Scale shape: the evolution itself is O(1) manifest commits on a
    table of any size — the property this key exists to grade; the
    read is a plain multi-file scan + one map-side-combined hash
    aggregate. At 100 TB the alternative (rewrite-on-rename) is a
    full-table copy; mapping-mode evolution is why real lakehouses
    never pay it.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_evolved_table(spark, sf_dir)
    t = read_table(spark, path)
    return (
        t.groupBy(
            "o_orderpriority",
            F.coalesce(F.col("segment"), F.lit("legacy")).alias("segment"),
        )
        .agg(
            F.count("*").cast("bigint").alias("n_orders"),
            F.sum(
                F.floor(F.col("price") * 100 + F.lit(0.5)).cast("bigint")
            )
            .cast("bigint")
            .alias("price_cents"),
        )
    )


@query(
    "q_scan_time_travel",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS price_cents
    FROM orders
    WHERE o_orderkey % 2 = 0
    GROUP BY o_orderpriority
    """,
)
def q_scan_time_travel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TIME TRAVEL under the differential: the same evolved table
    read PINNED at version 0 — before the segment column existed,
    before the rename, before the odd-orderkey append — must serve
    exactly the original rows under the ORIGINAL schema
    (``o_totalprice``, not ``price``; no ``segment``), no matter how
    many evolution and append commits came after. The oracle is the
    flat fixture filtered to the v0 slice.

    Exactness: counts are longs; the price rollup is per-row half-up
    cents summed as BIGINTs.

    Scale shape: a pinned read is the same O(files-in-snapshot) scan
    as a latest read — the manifest chain makes EVERY historical
    snapshot a first-class consistent table, which is what makes
    reproducible training runs (re-read the exact corpus a model saw)
    possible on a table that keeps moving.
    """
    from frafka_spark.sources.manifest_table import read_table

    path = _ensure_evolved_table(spark, sf_dir)
    t0 = read_table(spark, path, version=0)
    return t0.groupBy("o_orderpriority").agg(
        F.count("*").cast("bigint").alias("n_orders"),
        F.sum(
            F.floor(F.col("o_totalprice") * 100 + F.lit(0.5)).cast("bigint")
        )
        .cast("bigint")
        .alias("price_cents"),
    )


@query(
    "q_scan_cdf",
    oracle=f"""
    SELECT o_orderkey,
           o_orderpriority,
           CASE WHEN o_totalprice >= {SEG_PRICE} THEN 'high'
                ELSE 'std' END AS segment,
           CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
           'insert' AS _change_type,
           CAST(2 AS INT) AS _commit_version
    FROM orders
    WHERE o_orderkey % 2 = 1
    """,
)
def q_scan_cdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHANGE DATA FEED across the evolution boundary, graded
    row-for-row: ``read_changes(v0 → latest)`` over the evolved table
    must surface EXACTLY the rows the v2 append committed — tagged
    insert at commit version 2, served under the LATEST logical
    schema (``price`` resolves through the rename mapping into files
    written before the rename existed) — while the two metadata-only
    evolve commits in the chain contribute zero rows. The oracle
    rebuilds the same delta from the flat fixture.

    Scale shape: the append-only fast path — the delta is the files
    those commits added, O(new files), the base snapshot never read.
    This is the contract an incremental consumer (feature refresh,
    downstream dedup, index update) lives on at 100 TB: reading a
    day of appends must not cost a table scan.
    """
    from frafka_spark.sources.manifest_table import (
        current_version,
        read_changes,
    )

    path = _ensure_evolved_table(spark, sf_dir)
    delta = read_changes(spark, path, 0, current_version(path))
    return delta.select(
        "o_orderkey",
        "o_orderpriority",
        "segment",
        F.floor(F.col("price") * 100 + F.lit(0.5))
        .cast("bigint")
        .alias("price_cents"),
        "_change_type",
        "_commit_version",
    )
