"""Manifest-stats file skipping over a z-ordered layout — declared.

The third §4 layout behavior elevated from pytest to a graded query
(after ``dpp.py``'s dynamic partition pruning and ``bucketed.py``'s
zero-exchange bucket join): ``lineitem`` is written ONCE per fixture
through the repo's own lakehouse primitives — z-order clustered on
``(l_partkey, l_suppkey)`` (``sources/layout.py``: contiguous
z-ranges per file → narrow per-file min/max on EVERY listed column)
and committed with per-file column statistics in the manifest
(``sources/manifest_table.py:write_table_with_stats``) — and the
declared query reads it through ``read_table_pruned``, which drops
whole data files from the scan using only the table log (one
metadata read, zero footers opened for skipped files). The runtime
pin (tests/test_plans.py) asserts the executed scan's ``numFiles``
is strictly below the layout's file count.

This is the scan discipline every lakehouse engine (Delta/Iceberg)
applies at 100 TB: the predicate touches a key band, the log says
which files' spans intersect it, and the other 90% of the table is
never listed into the scan. The DuckDB oracle applies the same
predicate to the flat fixture — layout and skipping change the plan,
never the rows.
"""

from __future__ import annotations

from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import disk_artifact, session_artifact
from frafka_spark.io import table
from frafka_spark.registry import query

N_ZFILES = 8
SKIP_DEN = 10  # predicate band: l_partkey in [1, ceil(max/DEN)]

_COLS = [
    "l_orderkey",
    "l_partkey",
    "l_suppkey",
    "l_returnflag",
    "l_quantity",
    "l_extendedprice",
]


def _ensure_layout(spark: SparkSession, sf_dir: str) -> tuple[str, int]:
    """The z-ordered, stats-manifested lineitem layout (a disk
    artifact) and the band bound, both resolved once per session."""
    from frafka_spark.sources.layout import zorder_key, zorder_rank
    from frafka_spark.sources.manifest_table import write_table_with_stats

    zcols = ["l_partkey", "l_suppkey"]

    def resolve() -> tuple[str, int]:
        li = table(spark, sf_dir, "lineitem").select(*_COLS)

        def build(path: Path) -> None:
            ranked = li.select(
                "*", *[zorder_rank(c).alias(f"__zr_{c}") for c in zcols]
            )
            z = zorder_key(*[f"__zr_{c}" for c in zcols]).alias("__z")
            clustered = (
                ranked.select("*", z)
                .repartitionByRange(N_ZFILES, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z", *[f"__zr_{c}" for c in zcols])
            )
            write_table_with_stats(clustered, str(path), zcols, mode="overwrite")

        max_pk = li.agg(F.max("l_partkey")).first()[0]
        hi = (int(max_pk) + SKIP_DEN - 1) // SKIP_DEN
        return disk_artifact(sf_dir, "lineitem_z", build), hi

    return session_artifact(spark, sf_dir, "lineitem_z", resolve)


def pruned_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The band-scoped lineitem read with file skipping applied."""
    from frafka_spark.sources.manifest_table import read_table_pruned

    path, hi = _ensure_layout(spark, sf_dir)
    return read_table_pruned(spark, path, "l_partkey", 1, hi)


@query(
    "q_scan_file_skip",
    oracle=f"""
    WITH band AS (
        SELECT CAST(floor((max(l_partkey) + {SKIP_DEN} - 1)
                          / {SKIP_DEN}.0) AS BIGINT) AS hi
        FROM lineitem
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS total_qty,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM lineitem l CROSS JOIN band
    WHERE l.l_partkey BETWEEN 1 AND band.hi
    GROUP BY l.l_returnflag
    """,
)
def q_scan_file_skip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return-flag rollup over the lowest-decile part-key band,
    executed through manifest-stats FILE SKIPPING on the z-ordered
    lineitem layout: the reader consults the table log's per-file
    [min, max] spans and hands Spark only the files whose span
    intersects the band — the other files are never opened, listed,
    or footer-read (runtime-pinned: numFiles < {N_ZFILES}).

    Exactness: the band bound is a corpus-relative integer rule
    (``ceil(max/{SKIP_DEN})`` — identical arithmetic both engines; a
    fixed absolute bound would degenerate across scale factors, the
    wave-6 lesson); counts are longs; quantity/price roll up as
    per-row half-up integers summed as BIGINTs. The residual
    predicate re-applies inside the kept files, so the result is
    exactly the flat-fixture filter the oracle runs.

    Scale shape: one metadata read (the manifest) + a scan of the
    intersecting files + one map-side-combined rollup. At 100 TB
    with a clustered key this is the list-3-files-not-a-million
    behavior that makes key-band queries interactive; the z-order
    clustering is what keeps every listed column's spans narrow
    enough to skip on (layout.py).
    """
    return (
        pruned_lineitem(spark, sf_dir)
        .groupBy("l_returnflag")
        .agg(
            F.count("*").cast("bigint").alias("n_items"),
            F.sum(F.floor(F.col("l_quantity") + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("total_qty"),
            F.sum(
                F.floor(F.col("l_extendedprice") * 100 + F.lit(0.5)).cast(
                    "bigint"
                )
            )
            .cast("bigint")
            .alias("revenue_cents"),
        )
    )
