"""Bucketed co-located fact⋈fact join, executed for real.

The second §4 layout behavior elevated from pytest to a DECLARED
query (the DPP sibling, ``operators/dpp.py``): ``orders`` and
``lineitem`` are written ONCE per fixture generation as a bucketed
disk artifact on the join key (Spark's bucketing contract: same key,
same bucket count, files pre-hashed into matching buckets), each
session registers them as external bucketed tables, and the declared
rollup joins them with ZERO Exchange on either side — the plan
property that decides whether a 100 TB fact⋈fact join pays two
full-table shuffles per run or none ever (plan-pinned in
tests/test_plans.py; a 100 TB deployment writes the bucketed layout
once at ingest and amortizes it over every subsequent join, exactly
as modeled here).

The differential oracle reads the SAME rows from the flat parquet
fixtures — layout changes the plan, never the answer.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from frafka_spark.artifacts import disk_artifact, session_artifact
from frafka_spark.io import table
from frafka_spark.registry import query

N_BUCKETS = 8


def _bucketed_tables(spark: SparkSession, sf_dir: str) -> tuple[str, str]:
    """The bucketed orders/lineitem table names for this fixture.

    The write is the one-time layout job a production pipeline runs
    at ingest: one shuffle into ``N_BUCKETS`` pre-hashed files per
    table, after which every orderkey join is exchange-free. Only
    the joined columns are persisted (the bucketed copy is a join
    index, not a second copy of the fact). Bucket metadata lives in
    the session catalog, so every session re-registers the files
    with an explicit column list (Spark rejects a bucket spec on a
    location without one)."""

    def register() -> tuple[str, str]:
        o = table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority"
        )
        li = table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice"
        )
        specs = (("orders", o, "o_orderkey"), ("lineitem", li, "l_orderkey"))

        def build(path: str) -> None:
            gen = path.rsplit("/", 1)[-1]
            for name, df, key in specs:
                tmp = f"fs_bkt_build_{name}_{gen}"
                (
                    df.write.format("parquet")
                    .mode("overwrite")
                    .bucketBy(N_BUCKETS, key)
                    .sortBy(key)
                    .saveAsTable(tmp, path=f"{path}/{name}")
                )
                spark.sql(f"DROP TABLE IF EXISTS {tmp}")  # files stay

        path = disk_artifact(sf_dir, "bucketed", [N_BUCKETS], build)
        gen = path.rsplit("/", 1)[-1]
        names = []
        for name, df, key in specs:
            cols = ", ".join(
                f"{f.name} {f.dataType.simpleString()}" for f in df.schema
            )
            names.append(f"fs_bkt_{name}_{gen}")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {names[-1]} ({cols}) "
                f"USING parquet CLUSTERED BY ({key}) SORTED BY ({key}) "
                f"INTO {N_BUCKETS} BUCKETS LOCATION '{path}/{name}'"
            )
        return tuple(names)

    return session_artifact(spark, sf_dir, "bucketed", register)


@query(
    "q_join_bucketed",
    oracle="""
    SELECT o.o_orderpriority, l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_items,
           CAST(sum(CAST(floor(l.l_quantity + 0.5) AS BIGINT)) AS BIGINT)
               AS total_qty,
           CAST(sum(CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT))
                AS BIGINT) AS revenue_cents
    FROM orders o
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority, l.l_returnflag
    """,
)
def q_join_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-priority × return-flag rollup over the orders⋈lineitem
    join, executed on BUCKETED layouts so the join itself moves no
    data: both tables are pre-hashed into matching orderkey buckets,
    Spark plans a SortMergeJoin whose children are bare bucketed
    scans — no Exchange on either side (pinned), the only shuffle in
    the query being the final small rollup.

    Exactness: counts are longs; quantity and price roll up as
    per-row half-up integers (units / cents) summed as BIGINTs —
    never an engine-ordered double sum. The oracle runs the same
    join over the flat fixture parquet: same rows, different plan.

    Scale shape: THE fact⋈fact pattern at 100 TB — an orderkey-
    bucketed orders and lineitem join with zero exchanges at ANY
    scale factor, where the unbucketed plan shuffles both full
    tables every run. Bucket count scales with the cluster (fixture
    uses 8); the one-time layout write is the amortized cost, and
    repeated joins (the common case: every query in this suite
    touching orders⋈lineitem) ride it for free.
    """
    o_name, l_name = _bucketed_tables(spark, sf_dir)
    bo = spark.table(o_name)
    bl = spark.table(l_name)
    return (
        bo.join(bl, bo.o_orderkey == bl.l_orderkey)
        .groupBy("o_orderpriority", "l_returnflag")
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
