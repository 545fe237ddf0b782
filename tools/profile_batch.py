#!/usr/bin/env python3
"""cProfile of the driver side of ``Pipeline._process_batch``.

Usage (from the root of a checkout)::

    python3 tools/profile_batch.py --batches 20 --rows 2500

Builds the ``stream_ingest`` micro-batch shape from the benchmark's
events (``--rows`` rows, 2 % poison, ``record_transform`` into a
manifest sink with a parquet dead-letter queue), runs ``--batches``
calls of ``_process_batch`` on a local session of ``--cores`` cores
after one warm-up call, and prints the driver-side time per batch of
the whole call and of the functions named in ``WATCH``, then the top
entries by cumulative time. Executor time is not in the profile.
"""

from __future__ import annotations

import argparse
import cProfile
import pstats
import random
import sys
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
EVENTS = ROOT / "perfbench" / "data" / "sf0.1" / "events.parquet"
#: (file suffix, function name) pairs reported per batch
WATCH = (
    ("pipeline.py", "_process_batch"),
    ("pipeline.py", "apply"),
    ("map_ops.py", "mapInPandas"),
    ("types.py", "_parse_datatype_string"),
    ("udf.py", "_create_judf"),
    ("readwriter.py", "parquet"),
    ("sink.py", "publish"),
)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--batches", type=int, default=20)
    ap.add_argument("--rows", type=int, default=2500)
    ap.add_argument("--cores", type=int, default=2)
    ap.add_argument("--top", type=int, default=15)
    args = ap.parse_args(argv)

    sys.path.insert(0, str(ROOT))
    from frafka_spark.session import get_spark
    from frafka_spark.streaming.pipeline import Pipeline, record_transform
    from frafka_spark.streaming.sink import FrSink
    from frafka_spark.streaming.source import FrSource

    spark = get_spark(
        app_name="profile-batch", cpus=args.cores,
        extra_conf={"spark.driver.memory": "2g"},
    )
    batch = spark.read.parquet(str(EVENTS)).orderBy("event_id").limit(args.rows)
    batch = spark.createDataFrame(batch.toPandas(), batch.schema).cache()
    ids = [r.event_id for r in batch.select("event_id").collect()]
    poison = frozenset(random.Random(1).sample(ids, round(len(ids) * 0.02)))

    def per_record(rec: dict) -> dict:
        if rec["event_id"] in poison:
            raise ValueError(f"poison event {rec['event_id']}")
        return {"event_id": rec["event_id"], "score": rec["value"] * 2.0}

    with tempfile.TemporaryDirectory(prefix="profile-batch-") as tmp:
        pipe = Pipeline(
            FrSource.files(spark, tmp, "event_id bigint"),
            record_transform(per_record, "event_id bigint, score double"),
            FrSink.manifest(f"{tmp}/table"),
            fail_sink=FrSink.parquet(f"{tmp}/dlq"),
        )
        pipe._process_batch(batch, 0)  # warm-up
        prof = cProfile.Profile()
        prof.enable()
        for b in range(1, args.batches + 1):
            pipe._process_batch(batch, b)
        prof.disable()
    spark.stop()

    stats = pstats.Stats(prof)
    print(f"{args.batches} batches of {args.rows} rows; driver ms per batch (cumulative):")
    for (file, _, name), row in sorted(stats.stats.items()):
        if (Path(file).name, name) in WATCH:
            label = f"{Path(file).name}:{name}"
            print(f"  {label:36s} {row[3] / args.batches * 1e3:8.1f}")
    stats.sort_stats("cumulative").print_stats(args.top)
    return 0


if __name__ == "__main__":
    sys.exit(main())
