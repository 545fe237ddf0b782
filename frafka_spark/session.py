"""SparkSession factory tuned for this engine.

Local-mode defaults follow SURVEY.md §6: one shared session, shuffle
partitions = cores (AQE coalesces down when partitions are small),
UTC session timezone so timestamp semantics match the DuckDB oracle,
Arrow enabled for the pandas-UDF path.

Shuffle width rule: ``spark.sql.shuffle.partitions`` defaults to the
session's core count, read from the started context's
``defaultParallelism``; an explicit ``shuffle_partitions`` or an
``extra_conf`` entry for the key wins. So under these sessions the
conf never exceeds the cores, ``io.shuffle_width``'s clamp is the
identity, and the cached projections it lays out share their width
with the keyed joins and aggregates that read them (no extra exchange).

At 100 TB these settings change shape, not kind: shuffle partitions
scale with cluster cores (or are left to AQE's
``spark.sql.adaptive.coalescePartitions.initialPartitionNum``), AQE
skew-join stays on, and CBO + table stats get enabled for join
reordering (SURVEY.md §4.2).
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "frafka-spark",
    cpus: str | int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession with engine defaults.

    ``spark.sql.shuffle.partitions`` is ``shuffle_partitions`` when
    given, else the session's core count (``defaultParallelism``); an
    ``extra_conf`` entry for the key wins over both.
    """
    cpus = cpus or os.environ.get("SPARK_GRAFT_CPUS", "32")
    conf = {
        "spark.master": f"local[{cpus}]",
        "spark.app.name": app_name,
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.session.timeZone": "UTC",
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
        # 366 declared queries × whole-stage codegen × repeated bench
        # passes overflow HotSpot's 240 MB default code cache — the
        # JVM then DISABLES the JIT compiler mid-suite ("CodeHeap
        # 'non-profiled nmethods' is full", observed in every full
        # bench capture) and later passes run partly interpreted.
        # Applied at gateway launch like spark.driver.memory above;
        # sized for the full suite, env-overridable for smaller boxes.
        "spark.driver.extraJavaOptions": (
            "-XX:ReservedCodeCacheSize="
            + os.environ.get("SPARK_GRAFT_CODECACHE", "512m")
        ),
        "spark.ui.enabled": "false",
        # Python workers fork from a daemon that skips the per-task
        # rescan of unchanged zip archives (worker_daemon.py): ~130-180
        # ms of fixed cost off every pandas_udf / mapInPandas / udf task.
        "spark.python.daemon.module": "frafka_spark.worker_daemon",
        # Checkpoint logs through FileSystem.rename, not FileContext's:
        # the same exists-check-then-rename, minus the readlink process
        # the local filesystem spawns per rename without libhadoop (24
        # spawns per micro-batch; README "Checkpoint logs without
        # process spawns").
        "spark.sql.streaming.checkpointFileManagerClass": (
            "org.apache.spark.sql.execution.streaming.checkpointing."
            "FileSystemBasedCheckpointFileManager"
        ),
        # 32 MiB broadcast threshold: every dim table in the fixture star
        # schema broadcasts; at 100 TB the dims are still ≤ GBs vs a
        # multi-TB fact table, so broadcasting dims remains correct.
        "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
        # events.ts has shipped as TIMESTAMP(NANOS) in older fixture
        # generations (current fixtures are TIMESTAMP(MICROS, NTZ),
        # which needs no conf). Keep nanosAsLong on so a nanos fixture
        # reads first-try; io.table adapts per file either way (it
        # retries with this conf only on the Illegal-Parquet-type
        # error, and pins the session to UTC for the events read).
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if shuffle_partitions:
        conf["spark.sql.shuffle.partitions"] = str(shuffle_partitions)
    conf.update(extra_conf or {})
    if "spark.sql.shuffle.partitions" not in conf:
        # Start (or find) the context first: its defaultParallelism is
        # the core count for any master, ``local[*]`` included. Passed
        # as a builder option, the width is also every ``newSession()``
        # sibling's starting conf.
        sc = SparkContext.getOrCreate(SparkConf().setAll(conf.items()))
        conf["spark.sql.shuffle.partitions"] = str(sc.defaultParallelism)
    spark = SparkSession.builder.config(map=conf).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
