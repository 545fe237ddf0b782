"""Dynamic partition pruning over a date-partitioned fact layout.

SURVEY.md §4.2 defers DPP with "fixtures are single files — document
for 100 TB"; this module executes it for real. The declared query
writes the ``events`` fact through the repo's partitioned-layout
writer (``sources/batch.py:write_partitioned`` discipline: the
partition column becomes a directory level, so time predicates prune
before any IO), then joins it with a dim whose qualifying dates exist
only at RUNTIME — Catalyst cannot fold them into a static partition
filter, so it plans a ``DynamicPruningExpression`` on the fact scan:
the broadcast of the dim side is reused as a subquery filter and
whole partition directories are skipped at execution time
(plan-pinned in tests/test_plans.py; the runtime partitions-read
metric is pinned in tests/test_queries.py).

This is THE scan behavior that matters at 100 TB: a day-scoped fact
query over a year-partitioned fact should read days, not the year,
even when the day list is data-dependent (top revenue days, dates in
a dim slice, a holiday table). The fixture layout is 30 daily
partitions; a production layout is identical with more directories.

The layout is a disk artifact (``frafka_spark/artifacts.py``), written
once per fixture generation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import disk_artifact
from frafka_spark.io import table
from frafka_spark.registry import query

#: top-K qualifying days — a fixed COUNT, so the dim side is
#: broadcastable by construction at any corpus size (the codebook
#: discipline), and DPP's reuseBroadcastOnly requirement is met.
DPP_TOP_DAYS = 3


def _ensure_layout(spark: SparkSession, sf_dir: str) -> str:
    """The date-partitioned events layout: one file per partition
    directory (``repartition`` on the partition column before the
    write — the small-files discipline a production layout job
    applies)."""

    def build(path: str) -> None:
        (
            table(spark, sf_dir, "events")
            .withColumn("event_date", F.to_date("ts"))
            .repartition("event_date")
            .write.mode("overwrite")
            .partitionBy("event_date")
            .parquet(path)
        )

    return disk_artifact(sf_dir, "events_by_date", [], build)


def dpp_fact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The partitioned fact: ``events`` + directory-level
    ``event_date`` (read back as a DATE partition column)."""
    return spark.read.parquet(_ensure_layout(spark, sf_dir))


def _top_purchase_days(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The runtime-only dim: the ``DPP_TOP_DAYS`` days with the most
    purchases (count desc, date asc — a total order, so the top-K cut
    is deterministic cross-engine). Derived from data, so the
    qualifying dates are unknowable at plan time — exactly what
    forces DYNAMIC pruning instead of static partition-filter
    folding. In production this is any dim slice (a holiday table, a
    campaign window); the plan shape is identical."""
    ev = table(spark, sf_dir, "events")
    return (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy(F.to_date("ts").alias("event_date"))
        .agg(F.count("*").cast("bigint").alias("n_purch"))
        .orderBy(F.desc("n_purch"), F.asc("event_date"))
        .limit(DPP_TOP_DAYS)
    )


@query(
    "q_scan_dpp",
    oracle=f"""
    WITH dim AS (
        SELECT CAST(ts AS DATE) AS event_date,
               CAST(count(*) AS BIGINT) AS n_purch
        FROM events
        WHERE event_type = 'purchase'
        GROUP BY 1
        ORDER BY n_purch DESC, event_date ASC
        LIMIT {DPP_TOP_DAYS}
    )
    SELECT CAST(e.event_date AS VARCHAR) AS event_date, e.event_type,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT)) AS BIGINT)
               AS value_cents
    FROM (SELECT CAST(ts AS DATE) AS event_date, event_type, value
          FROM events) e
    JOIN dim d ON d.event_date = e.event_date
    GROUP BY e.event_date, e.event_type
    """,
)
def q_scan_dpp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-type daily rollup restricted to the top purchase days,
    executed over the DATE-PARTITIONED events layout so the
    data-dependent day list prunes fact partitions at RUNTIME via
    dynamic partition pruning (the broadcast dim reused as a subquery
    filter on the partition column).

    Exactness: counts are longs; the value rollup is per-row half-up
    cents (``floor(v·100 + 0.5)`` — identical IEEE chain both
    engines) summed as exact BIGINTs, never an engine-ordered double
    sum. The oracle reads the SAME rows from the flat fixture — the
    differential proves layout + pruning change the plan, not the
    answer.

    Scale shape: the fact scan reads ``DPP_TOP_DAYS`` directories out
    of the whole table (runtime-pinned: numPartitions ≪
    staticFilesNum, with pruningTime accounted); the dim is a
    fixed-count top-K (broadcastable by construction); the rollup is
    one map-side-combined hash aggregate on (date, type). At a
    year of 100 TB this reads 3 days — the scan-dominant query class
    DPP exists for.
    """
    fact = dpp_fact(spark, sf_dir)
    dim = _top_purchase_days(spark, sf_dir)
    return (
        fact.join(F.broadcast(dim.select("event_date")), "event_date")
        .groupBy("event_date", "event_type")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.floor(F.col("value") * 100 + F.lit(0.5)).cast("bigint"))
            .cast("bigint")
            .alias("value_cents"),
        )
        # dates render as strings at the output edge (the ts-truncation
        # determinism rule); the JOIN and GROUP BY above stay on the
        # native DATE partition column so pruning is unaffected
        .select(
            F.date_format("event_date", "yyyy-MM-dd").alias("event_date"),
            "event_type",
            "n_events",
            "value_cents",
        )
    )
