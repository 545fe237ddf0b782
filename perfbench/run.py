#!/usr/bin/env python3
"""Benchmark of frafka_spark: resident query serving and the ingest path.

Usage (from the root of a checkout)::

    python3 perfbench/run.py --workload serve_warm --seed 1 --seconds 10 --trace 0

Workloads: ``serve_warm`` (serve.py) and ``stream_ingest`` (stream.py).
With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` the run also writes a Spark event log and reports the
per-layer metrics instead, and writes a sidecar with per-query or
per-batch rows to ``.bench_run/sidecar/<workload>.json``. The line
before the last is the run record: seed, effective session conf,
versions, load averages and ``failed_frac``. See README.md beside this
file for what each metric means.
"""

from __future__ import annotations

import argparse
import json
import sys

from common import RUNS, ROOT, SF_DIR, Run, median

#: end-to-end metrics (untraced run): name → unit
END_TO_END = {"ops_per_s": "1/s", "latency_gmean_s": "s", "setup_s": "s"}

#: per-layer metrics (traced run): name → (unit, how to read it)
PER_LAYER = {
    "registry.construct_s_p50": ("s", ("p50", "registry.construct_s")),
    "registry.construct_s_total": ("s", ("sum", "registry.cold_construct_s")),
    "session.start_s": ("s", ("sum", "session.start_s")),
    "artifacts.prepare_s": ("s", ("sum", "artifacts.prepare_s")),
    "artifacts.disk_build_s": ("s", ("sum", "artifacts.disk_build_s")),
    "artifacts.disk_bytes": ("bytes", ("sum", "artifacts.disk_bytes")),
    "exec.run_s_p50": ("s", ("p50", "exec.run_s")),
    "exec.jobs": ("count", ("fold", "jobs")),
    "exec.stages": ("count", ("fold", "stages")),
    "exec.tasks": ("count", ("fold", "tasks")),
    "exec.stage_wall_s": ("s", ("fold", "stage_wall_s")),
    "exec.sched_overhead_s": ("s", ("fold", "sched_overhead_s")),
    "exec.task_run_s": ("s", ("fold", "task_run_s")),
    "exec.task_cpu_s": ("s", ("fold", "task_cpu_s")),
    "exec.task_deser_s": ("s", ("fold", "task_deser_s")),
    "shuffle.write_bytes": ("bytes", ("fold", "shuffle_write_bytes")),
    "shuffle.read_bytes": ("bytes", ("fold", "shuffle_read_bytes")),
    "shuffle.spill_bytes": ("bytes", ("fold", "spill_bytes")),
    "python.task_run_s": ("s", ("fold", "python_task_run_s")),
    "python.rows": ("count", ("fold", "python_rows")),
    "stream.latestOffset_ms": ("ms", ("p50", "stream.latestOffset_ms")),
    "stream.queryPlanning_ms": ("ms", ("p50", "stream.queryPlanning_ms")),
    "stream.addBatch_ms": ("ms", ("p50", "stream.addBatch_ms")),
    "stream.walCommit_ms": ("ms", ("p50", "stream.walCommit_ms")),
    "stream.commitOffsets_ms": ("ms", ("p50", "stream.commitOffsets_ms")),
    "stream.jobs_per_batch": ("count", ("fold", "stream.jobs_per_batch")),
    "stream.ok_frac": ("ratio", ("fold", "stream.ok_frac")),
    "sink.write_s_p50": ("s", ("p50", "sink.write_s")),
    "dlq.write_s_p50": ("s", ("p50", "dlq.write_s")),
    "manifest.commit_s_first_decile": ("s", ("p50", "manifest.commit_s_first_decile")),
    "manifest.commit_s_last_decile": ("s", ("p50", "manifest.commit_s_last_decile")),
    "trace.ops_per_s": ("1/s", ("e2e", "ops_per_s")),
    "trace.latency_gmean_s": ("s", ("e2e", "latency_gmean_s")),
}


def _workloads():
    import serve
    import stream

    return {"serve_warm": serve, "stream_ingest": stream}


def _per_layer(r: Run, res: dict, folded: dict[str, float]) -> dict:
    """Every per-layer metric; 0 where the layer is off the workload's path."""
    out = {}
    for name, (unit, (how, key)) in PER_LAYER.items():
        if how == "fold":
            value = folded.get(key, 0.0)
        elif how == "e2e":
            value = res["e2e"][key]
        elif how == "p50":
            value = median(r.spans.get(key, []))
        else:
            value = sum(r.spans.get(key, []))
        out[name] = {"value": value, "unit": unit}
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("serve_warm", "stream_ingest"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "frafka_spark" / "__init__.py").is_file():
        print(f"perfbench: no frafka_spark package under {ROOT}", file=sys.stderr)
        return 2
    if not (SF_DIR / "events.parquet").is_file():
        print(f"perfbench: no input tables under {SF_DIR}", file=sys.stderr)
        return 2

    workload = _workloads()[args.workload]
    r = Run(args.workload, args.seed, args.seconds, bool(args.trace))
    try:
        res = workload.run(r)
        record = r.record()
        r.stop()
        e2e = {
            name: {"value": res["e2e"][name], "unit": unit}
            for name, unit in END_TO_END.items()
        }
        metrics = e2e
        if r.trace:
            folded, rows = workload.layers(r, res)
            metrics = _per_layer(r, res, folded)
            sidecar = RUNS / "sidecar" / f"{args.workload}.json"
            sidecar.parent.mkdir(parents=True, exist_ok=True)
            sidecar.write_text(
                json.dumps({"record": record, "metrics": metrics, **rows}, indent=1)
            )
    finally:
        r.stop()
        r.cleanup()

    record.update(
        attempted=res["attempted"],
        failed=res["failed"],
        failed_frac=res["failed"] / res["attempted"],
        samples=res["samples"],
        **res["detail"],
        end_to_end=e2e,
    )
    print("perfbench record " + json.dumps(record, default=str), flush=True)
    print(
        json.dumps(
            {
                "correct": res["failed"] == 0,
                "attempted": res["attempted"],
                "failed": res["failed"],
                "metrics": metrics,
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
