#!/usr/bin/env python3
"""Interleaved A/B of ``perfbench/run.py``: a base revision vs this checkout.

Usage (from the root of a checkout)::

    python3 tools/ab.py --workload stream_ingest --base HEAD~1 \\
        --pairs 10 --seconds 10 --seed 101

The base side runs from the committed files of ``--base``, unpacked
with ``git archive`` into a temporary directory (removed at the end;
``TMPDIR`` chooses where), or from ``--base-dir``, an existing
checkout. Pair ``i`` runs both sides on seed ``--seed + i``; the side
that runs first alternates from pair to pair, so a drift in host load
falls on both sides. Each run is one untraced ``perfbench/run.py``
process.

Printed per end-to-end metric: each side's median and quartiles, how
many pairs the change won (by the metric's ``better`` direction in
``BENCHMARK.json``), and the median change against the base's
interquartile range. Also printed: every run's 1-min load average at
its start, and any run that was not ``correct``. ``--json PATH`` writes
the raw runs and the summary.
"""

from __future__ import annotations

import argparse
import io
import json
import os
import shutil
import statistics
import subprocess
import sys
import tarfile
import tempfile
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        v = values[0] if values else float("nan")
        return v, v, v
    q1, q2, q3 = statistics.quantiles(values, n=4, method="inclusive")
    return q1, q2, q3


def run_once(tree: Path, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: its result and the load."""
    load = round(os.getloadavg()[0], 2)
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", "0",
    ]
    proc = subprocess.run(cmd, cwd=tree, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines:
        tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
        raise RuntimeError(f"{tree}: run failed (exit {proc.returncode}):\n{tail}")
    out = json.loads(lines[-1])
    return {
        "seed": seed,
        "load_1min": load,
        "correct": out["correct"],
        "failed": out["failed"],
        "attempted": out["attempted"],
        "metrics": {k: v["value"] for k, v in out["metrics"].items()},
    }


def unpack(rev: str) -> Path:
    """The committed files of ``rev`` in a new temporary directory."""
    tree = Path(tempfile.mkdtemp(prefix="ab-base-"))
    archive = subprocess.run(
        ["git", "archive", "--format=tar", rev],
        cwd=ROOT, check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(archive)) as tar:
        tar.extractall(tree, filter="data")
    return tree


def directions(tree: Path) -> dict[str, str]:
    spec = json.loads((tree / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec["end_to_end"]}


def summarize(pairs: list[dict], better: dict[str, str]) -> dict:
    out = {}
    for name, way in better.items():
        base = [p["base"]["metrics"][name] for p in pairs]
        change = [p["change"]["metrics"][name] for p in pairs]
        sign = 1 if way == "higher" else -1
        bq, cq = quartiles(base), quartiles(change)
        out[name] = {
            "better": way,
            "base": bq,
            "change": cq,
            "wins": sum(sign * (c - b) > 0 for b, c in zip(base, change)),
            "pairs": len(pairs),
            "median_gain": sign * (cq[1] - bq[1]),
            "base_iqr": bq[2] - bq[0],
        }
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--base", default="HEAD~1", help="git revision of the base side")
    ap.add_argument("--base-dir", type=Path, help="existing checkout to use as the base")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--seed", type=int, default=101, help="seed of the first pair")
    ap.add_argument("--json", type=Path, help="write the runs and summary here")
    args = ap.parse_args(argv)

    unpacked = None if args.base_dir else unpack(args.base)
    base_dir = args.base_dir or unpacked
    sides = {"base": base_dir.resolve(), "change": ROOT}
    pairs: list[dict] = []
    try:
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            pair = {"seed": seed, "first": order[0]}
            for side in order:
                pair[side] = run_once(sides[side], args.workload, seed, args.seconds)
            pairs.append(pair)
            print(
                f"pair {i + 1}/{args.pairs} seed {seed} first={order[0]}: "
                + ", ".join(
                    f"{side} {pair[side]['metrics'].get('ops_per_s', 0):.1f} ops/s"
                    f" (load {pair[side]['load_1min']})"
                    for side in order
                ),
                flush=True,
            )
    finally:
        if unpacked is not None:
            shutil.rmtree(unpacked, ignore_errors=True)

    summary = summarize(pairs, directions(ROOT))
    print(f"\n{args.workload}: {len(pairs)} interleaved pairs, base {args.base}")
    for name, s in summary.items():
        b, c = s["base"], s["change"]
        print(
            f"  {name:16s} base {b[1]:.4g} [{b[0]:.4g}, {b[2]:.4g}]  "
            f"change {c[1]:.4g} [{c[0]:.4g}, {c[2]:.4g}]  "
            f"wins {s['wins']}/{s['pairs']}  "
            f"median gain {s['median_gain']:+.4g} vs base IQR {s['base_iqr']:.4g}"
        )
    loads = [p[side]["load_1min"] for p in pairs for side in ("base", "change")]
    print(f"  1-min load at run start: min {min(loads)}, max {max(loads)}")
    bad = [
        (p["seed"], side) for p in pairs for side in ("base", "change")
        if not p[side]["correct"] or p[side]["failed"]
    ]
    print(f"  runs not correct or with failed ops: {bad or 'none'}")
    if args.json:
        args.json.write_text(json.dumps({"pairs": pairs, "summary": summary}, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
