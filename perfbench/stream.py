"""stream_ingest: frafka's ingest path, replayed from a backlog.

``FrSource.files`` over the sf0.1 events staged as small files, one file
per micro-batch (``maxFilesPerTrigger=1``), consumed from the earliest
file with ``Trigger.AvailableNow`` → ``record_transform`` with a seeded
fraction of poison records → ``FrSink.manifest`` for the good rows and a
parquet dead-letter queue for the failed ones. Every replay starts from
an empty checkpoint and empty sinks, so each one consumes the whole
backlog. Set-up is the session start, staging and one discarded
replay; the timed window then runs at least ``MIN_REPLAYS`` whole
replays, and more until ``--seconds`` have elapsed.
"""

from __future__ import annotations

import json
import random
import time
from collections import defaultdict
from dataclasses import dataclass, field
from pathlib import Path

from common import SF_DIR, Run, decile_means, gmean
from eventlog import FIELDS, fold, read_events

FILES = 12
ROWS_PER_FILE = 2500
POISON_FRAC = 0.02
#: timed replays per run, at least, so a slow run is not one replay
MIN_REPLAYS = 2
IN_DDL = (
    "event_id bigint, ts timestamp, user_id bigint, "
    "event_type string, value double, props string"
)
OUT_DDL = "event_id bigint, score double"
#: ``StreamingQueryProgress.durationMs`` parts reported per batch
PARTS = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def stage_inputs(src, seed: int) -> tuple[list[int], frozenset[int]]:
    """Write the backlog files; return the input ids and the poison ids."""
    import pyarrow.parquet as pq

    events = pq.read_table(SF_DIR / "events.parquet").sort_by("event_id")
    events = events.slice(0, FILES * ROWS_PER_FILE)
    src.mkdir(parents=True)
    for i in range(FILES):
        pq.write_table(
            events.slice(i * ROWS_PER_FILE, ROWS_PER_FILE), src / f"part-{i:04d}.parquet"
        )
    ids = events.column("event_id").to_pylist()
    poison = random.Random(seed).sample(ids, round(len(ids) * POISON_FRAC))
    return ids, frozenset(poison)


def make_transform(poison: frozenset[int]):
    """The per-record function: poison records raise, the rest map."""

    def per_record(rec: dict) -> dict:
        if rec["event_id"] in poison:
            raise ValueError(f"poison event {rec['event_id']}")
        return {"event_id": rec["event_id"], "score": rec["value"] * 2.0}

    return per_record


@dataclass
class Replay:
    dir: Path
    query_id: str
    wall_s: float
    progress: list[dict]
    sink_s: list[float]
    dlq_s: list[float]


def run(r: Run) -> dict:
    r.stage_tree()
    spark = r.start_session()
    from pyspark.sql.streaming import StreamingQueryListener

    from frafka_spark.sources import manifest_table as mt
    from frafka_spark.streaming.pipeline import Pipeline, record_transform
    from frafka_spark.streaming.sink import FrSink
    from frafka_spark.streaming.source import FrSource

    @dataclass
    class TimedSink(FrSink):
        """An ``FrSink`` that records how long each batch write takes."""

        spans: list = field(default_factory=list)

        def write_batch(self, df, batch_id=None):
            t0 = time.perf_counter()
            super().write_batch(df, batch_id)
            self.spans.append(time.perf_counter() - t0)

    class Progress(StreamingQueryListener):
        """Every progress event (``recentProgress`` keeps only 100)."""

        def __init__(self):
            self.events = defaultdict(list)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.events[str(p.id)].append(
                {"batch": p.batchId, "rows": p.numInputRows, **p.durationMs}
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    src = r.work / "src"
    ids, poison = stage_inputs(src, r.seed)
    transform = record_transform(make_transform(poison), OUT_DDL)
    listener = Progress()
    spark.streams.addListener(listener)

    def replay(n: int) -> Replay:
        d = r.work / f"replay-{n}"
        sink = TimedSink("manifest", {"path": str(d / "table")})
        dlq = TimedSink("parquet", {"path": str(d / "dlq")})
        pipe = Pipeline(
            FrSource.files(spark, str(src), IN_DDL, max_files_per_trigger=1),
            transform,
            sink,
            fail_sink=dlq,
            checkpoint=str(d / "checkpoint"),
            name=f"perfbench-replay-{n}",
        )
        t0 = time.perf_counter()
        q = pipe.start(available_now=True)
        q.awaitTermination()
        wall = time.perf_counter() - t0
        pipe.close()
        if q.exception() is not None:
            raise RuntimeError(f"replay {n} failed: {q.exception()}")
        qid = str(q.id)
        deadline = time.monotonic() + 30
        while len(_batches(listener.events[qid])) < FILES and time.monotonic() < deadline:
            time.sleep(0.05)  # progress events arrive asynchronously
        return Replay(d, qid, wall, _batches(listener.events[qid]), sink.spans, dlq.spans)

    replay(0)  # warm-up, discarded
    r.setup_done()

    replays: list[Replay] = []
    t_window = time.perf_counter()
    while len(replays) < MIN_REPLAYS or time.perf_counter() - t_window < r.seconds:
        load_before = r.load()
        replays.append(replay(len(replays) + 1))
        r.loads.append((load_before, r.load()))

    spark.sparkContext.setJobGroup("gate", "gate")
    expected = set(ids) - poison
    failed = good_rows = 0
    for rp in replays:
        problems, good = _gate(spark, mt, rp, ids, poison, expected)
        good_rows += good
        if problems:
            print(f"perfbench: replay {rp.dir.name}: {problems}", flush=True)
            failed += len(rp.progress)
    spark.streams.removeListener(listener)

    batches = [b for rp in replays for b in rp.progress]
    firsts, lasts = zip(*(decile_means(rp.sink_s) for rp in replays))
    for part in PARTS:
        r.spans[f"stream.{part}_ms"] = [b.get(part, 0) for b in batches]
    r.spans["sink.write_s"] = [s for rp in replays for s in rp.sink_s]
    r.spans["dlq.write_s"] = [s for rp in replays for s in rp.dlq_s]
    r.spans["manifest.commit_s_first_decile"] = list(firsts)
    r.spans["manifest.commit_s_last_decile"] = list(lasts)
    rows = len(ids) * len(replays)
    return {
        "attempted": len(batches),
        "failed": failed,
        "samples": len(batches),
        "detail": {
            "replay_s": [round(rp.wall_s, 3) for rp in replays],
            "batch_s": [[b["triggerExecution"] / 1e3 for b in rp.progress] for rp in replays],
        },
        "ok_frac": good_rows / rows,
        "batches": {rp.query_id: {b["batch"] for b in rp.progress} for rp in replays},
        "e2e": {
            "ops_per_s": rows / sum(rp.wall_s for rp in replays),
            "latency_gmean_s": gmean([b["triggerExecution"] / 1e3 for b in batches]),
            "setup_s": r.setup_s,
        },
    }


def _batches(events: list[dict]) -> list[dict]:
    """Progress of the batches that read input, in batch order."""
    return sorted((e for e in events if e["rows"] > 0), key=lambda e: e["batch"])


def _gate(spark, mt, rp: Replay, ids, poison, expected) -> tuple[list[str], int]:
    """Good + DLQ = input, DLQ = poison, no duplicates, every batch committed.

    Returns the problems found and the number of good rows.
    """
    problems = []
    table = str(rp.dir / "table")
    good = mt.read_table(spark, table).select("event_id").toPandas()["event_id"]
    dlq = spark.read.parquet(str(rp.dir / "dlq")).select("_fr_source").toPandas()
    dlq_ids = [json.loads(s)["event_id"] for s in dlq["_fr_source"]]
    if len(good) + len(dlq_ids) != len(ids):
        problems.append(f"{len(good)} good + {len(dlq_ids)} dlq != {len(ids)} input")
    if sorted(dlq_ids) != sorted(poison):
        problems.append("dead-letter ids differ from the poison ids")
    if not good.is_unique:
        problems.append("duplicate event_id in the manifest table")
    if set(good) != expected:
        problems.append("manifest table ids differ from the non-poison input")
    if mt.committed_batch_ids(table) != {b["batch"] for b in rp.progress}:
        problems.append("committed batch ids differ from the batches run")
    if len(rp.progress) != FILES:
        problems.append(f"{len(rp.progress)} batches, expected {FILES}")
    return problems, len(good)


def _job_op(queries: dict[str, set[int]]):
    def op(props: dict):
        qid = props.get("sql.streaming.queryId")
        batch = props.get("streaming.sql.batchId")
        if qid in queries and batch is not None and int(batch) in queries[qid]:
            return qid, int(batch)
        return None

    return op


def layers(r: Run, res: dict) -> tuple[dict[str, float], dict]:
    """Event-log folds per timed micro-batch, and per-batch sidecar rows."""
    per_batch = fold(read_events(r.eventlog), _job_op(res["batches"]))
    ops = max(res["attempted"], 1)
    metrics = {f: sum(row[f] for row in per_batch.values()) / ops for f in FIELDS}
    metrics["stream.jobs_per_batch"] = metrics["jobs"]
    metrics["stream.ok_frac"] = res["ok_frac"]
    sidecar = {"timed_per_batch": {f"{q}:{b}": v for (q, b), v in per_batch.items()}}
    return metrics, sidecar
