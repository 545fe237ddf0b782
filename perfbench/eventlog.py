"""Fold a Spark event log (uncompressed JSON lines) into per-layer totals.

Jobs are attributed to an operation through their local properties: the
benchmark's job group for serve queries, the streaming query id and
batch id for micro-batches. Stages inherit the attribution of the job
that ran them, and tasks that of their stage. Standard library only.
"""

from __future__ import annotations

import json
import re
from collections import defaultdict
from collections.abc import Callable
from pathlib import Path

#: physical operators that hand rows to Python workers
PYTHON_NODE = re.compile(r"Python|Pandas|InArrow")

FIELDS = (
    "jobs", "stages", "tasks", "stage_wall_s", "sched_overhead_s",
    "task_run_s", "task_cpu_s", "task_deser_s", "shuffle_write_bytes",
    "shuffle_read_bytes", "spill_bytes", "python_task_run_s", "python_rows",
)


def read_events(log_dir: Path) -> list[dict]:
    """Every event under ``log_dir``, in file order (rolling logs too)."""
    files = sorted(
        (p for p in log_dir.rglob("*") if p.is_file() and not p.name.startswith(".")
         and not p.name.startswith("appstatus")),
        key=lambda p: (str(p.parent), _part_index(p.name), p.name),
    )
    events = []
    for path in files:
        with path.open() as fh:
            for line in fh:
                line = line.strip()
                if line:
                    events.append(json.loads(line))
    return events


def _part_index(name: str) -> int:
    m = re.match(r"events_(\d+)_", name)
    return int(m.group(1)) if m else 0


def _python_row_accumulators(events: list[dict]) -> set[int]:
    """Accumulator ids of ``number of output rows`` on Python operators."""
    ids: set[int] = set()

    def walk(node: dict) -> None:
        if PYTHON_NODE.search(node.get("nodeName", "")):
            for m in node.get("metrics", ()):
                if m.get("name") == "number of output rows":
                    ids.add(int(m["accumulatorId"]))
        for child in node.get("children", ()):
            walk(child)

    for e in events:
        if "sparkPlanInfo" in e:
            walk(e["sparkPlanInfo"])
    return ids


def fold(
    events: list[dict], attribute: Callable[[dict], object | None]
) -> dict[object, dict[str, float]]:
    """Per-operation totals of :data:`FIELDS`.

    ``attribute(job_properties)`` returns the operation a job belongs to,
    or ``None`` to leave the job out.
    """
    py_rows_acc = _python_row_accumulators(events)
    stage_op: dict[int, object] = {}
    out: dict[object, dict[str, float]] = defaultdict(lambda: dict.fromkeys(FIELDS, 0.0))
    longest_task: dict[int, float] = defaultdict(float)
    stage_run: dict[int, float] = defaultdict(float)
    python_stage: set[int] = set()
    stage_wall: dict[int, float] = {}

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            op = attribute(e.get("Properties") or {})
            if op is None:
                continue
            out[op]["jobs"] += 1
            for sid in e.get("Stage IDs", ()):
                stage_op[sid] = op
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            sid = info["Stage ID"]
            if sid not in stage_op or "Submission Time" not in info:
                continue
            stage_wall[sid] = (info["Completion Time"] - info["Submission Time"]) / 1e3
            scopes = " ".join(str(r.get("Scope", "")) for r in info.get("RDD Info", ()))
            if PYTHON_NODE.search(scopes):
                python_stage.add(sid)
        elif kind == "SparkListenerTaskEnd":
            sid = e["Stage ID"]
            op = stage_op.get(sid)
            if op is None:
                continue
            acc = out[op]
            info = e.get("Task Info", {})
            metrics = e.get("Task Metrics") or {}
            run_s = metrics.get("Executor Run Time", 0) / 1e3
            acc["tasks"] += 1
            acc["task_run_s"] += run_s
            acc["task_cpu_s"] += metrics.get("Executor CPU Time", 0) / 1e9
            acc["task_deser_s"] += metrics.get("Executor Deserialize Time", 0) / 1e3
            sw = metrics.get("Shuffle Write Metrics", {})
            sr = metrics.get("Shuffle Read Metrics", {})
            acc["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
            acc["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            acc["spill_bytes"] += metrics.get("Disk Bytes Spilled", 0)
            if "Finish Time" in info and "Launch Time" in info:
                dur = (info["Finish Time"] - info["Launch Time"]) / 1e3
                longest_task[sid] = max(longest_task[sid], dur)
            stage_run[sid] += run_s
            for a in info.get("Accumulables", ()):
                if a.get("ID") in py_rows_acc:
                    acc["python_rows"] += int(a.get("Update", 0))

    for sid, wall in stage_wall.items():
        acc = out[stage_op[sid]]
        acc["stages"] += 1
        acc["stage_wall_s"] += wall
        acc["sched_overhead_s"] += max(0.0, wall - longest_task.get(sid, 0.0))
        if sid in python_stage:
            acc["python_task_run_s"] += stage_run.get(sid, 0.0)
    return dict(out)
