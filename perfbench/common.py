"""Run scaffolding shared by the workloads: per-run directories, the
Spark session's lifecycle, timing helpers and the run record.

Each run imports the program from a private copy of the tree under
``<checkout>/.bench_run/<workload>-<pid>/tree``, so the program's on-disk
layout root (``<tree>/spark-warehouse``) starts empty on every run and the
checkout's own ``spark-warehouse/`` is never touched. Every file the run
writes (Spark local dirs, temp files, checkpoints, event logs) lives
under that run directory, which is removed when the run ends.
"""

from __future__ import annotations

import os
import shutil
import statistics
import subprocess
import sys
import time
from collections import defaultdict
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
SF_DIR = BENCH / "data" / "sf0.1"
RUNS = ROOT / ".bench_run"


def median(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def gmean(values: list[float]) -> float:
    return statistics.geometric_mean(values) if values else 0.0


def decile_means(values: list[float]) -> tuple[float, float]:
    """Mean of the first and of the last tenth of ``values`` (≥1 each)."""
    if not values:
        return 0.0, 0.0
    n = max(1, len(values) // 10)
    return statistics.fmean(values[:n]), statistics.fmean(values[-n:])


class Run:
    """One benchmark run: its directories, session and measurements."""

    def __init__(self, workload: str, seed: int, seconds: float, trace: bool):
        self.t_start = time.perf_counter()
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.dir = RUNS / f"{workload}-{os.getpid()}"
        self.tree = self.dir / "tree"
        self.eventlog = self.dir / "eventlog"
        self.work = self.dir / "work"
        #: per-layer span durations in seconds, keyed ``layer.name``
        self.spans: dict[str, list[float]] = defaultdict(list)
        #: 1-min load average before and after each timed pass
        self.loads: list[tuple[float, float]] = []
        self.spark = None

    # -- set-up ----------------------------------------------------------
    def stage_tree(self) -> None:
        """Import the program from a fresh copy of the tree.

        The program derives its layout root from its own location, so a
        copy gives this run an empty root without touching the
        checkout's. The copy also becomes the working directory, which
        is where Spark's default ``spark.sql.warehouse.dir`` points.
        """
        shutil.rmtree(self.dir, ignore_errors=True)
        tmp = self.dir / "tmp"
        for d in (self.tree, self.eventlog, self.work, tmp):
            d.mkdir(parents=True)
        shutil.copytree(
            ROOT / "frafka_spark",
            self.tree / "frafka_spark",
            ignore=shutil.ignore_patterns("__pycache__"),
        )
        os.environ["TMPDIR"] = str(tmp)
        os.environ["SPARK_LOCAL_DIRS"] = str(tmp)
        os.environ["JAVA_TOOL_OPTIONS"] = " ".join(
            filter(None, (os.environ.get("JAVA_TOOL_OPTIONS"), f"-Djava.io.tmpdir={tmp}"))
        )
        os.chdir(self.tree)
        sys.path.insert(0, str(self.tree))

    def start_session(self):
        """``get_spark`` with the program's defaults on every core here."""
        from frafka_spark.session import get_spark

        extra = None
        if self.trace:
            extra = {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.compress": "false",
                "spark.eventLog.dir": self.eventlog.as_uri(),
            }
        t0 = time.perf_counter()
        self.spark = get_spark(
            app_name=f"perfbench-{self.workload}",
            cpus=len(os.sched_getaffinity(0)),
            extra_conf=extra,
        )
        self.spans["session.start_s"].append(time.perf_counter() - t0)
        return self.spark

    # -- measurement helpers ---------------------------------------------
    def load(self) -> float:
        return round(os.getloadavg()[0], 2)

    def setup_done(self) -> None:
        """Record the seconds from process start to the timed window."""
        self.setup_s = time.perf_counter() - self.t_start

    def record(self) -> dict:
        """Effective configuration, versions and load, for every output."""
        spark = self.spark
        jvm = spark.sparkContext._jvm
        conf = spark.sparkContext.getConf()
        try:
            from frafka_spark.registry import _memo_enabled

            memo = bool(_memo_enabled(spark))
        except ImportError:
            memo = None
        return {
            "workload": self.workload,
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "cores": spark.sparkContext.defaultParallelism,
            "master": conf.get("spark.master"),
            "jvm_max_heap_bytes": int(jvm.java.lang.Runtime.getRuntime().maxMemory()),
            "spark.driver.memory": conf.get("spark.driver.memory", None),
            "spark.sql.shuffle.partitions": spark.conf.get(
                "spark.sql.shuffle.partitions"
            ),
            "spark_graft_env": {
                k: v for k, v in sorted(os.environ.items())
                if k.startswith("SPARK_GRAFT_")
            },
            "construction_memo": memo,
            "pyspark": spark.version,
            "java": jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "loads_1min_before_after": self.loads,
        }

    # -- tear-down -------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and wait for the JVM it launched to exit."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)

    def cleanup(self) -> None:
        os.chdir(ROOT)
        shutil.rmtree(self.dir, ignore_errors=True)
