#!/usr/bin/env python3
"""Count the processes the JVM spawns per ``stream_ingest`` micro-batch.

Usage (from the root of a checkout)::

    python3 tools/spawns.py --seed 1 --seconds 1

Without a native ``libhadoop`` (pip-installed PySpark ships none),
Hadoop's local filesystem runs a ``chmod`` for every file and directory
it creates and a ``readlink`` (or ``ls``/``stat``) to inspect a path, each
one a new process. This tool puts shims for those four commands first
on ``PATH``; each shim appends its command line to a log and then runs
the real command. It runs one untraced ``perfbench/run.py --workload
stream_ingest`` in ``--tree`` (default: this checkout) under that
``PATH`` and prints the spawns per timed micro-batch, by command and by
what the path argument names:

- ``checkpoint/sources``, ``checkpoint/offsets``, ``checkpoint/commits``
  and ``checkpoint/other``: the streaming query's checkpoint logs;
- ``staging``: the pipeline's staged split write (``_staging/``), and
  ``staging/_SUCCESS`` for its job marker file and the marker's ``.crc``;
- ``other``: anything else under a timed replay (sinks, DLQ, source).

Only the timed replays count (``replay-1`` on; ``replay-0`` is the
warm-up); spawns outside them (session start, warm-up, the gate) are
printed as one total. ``--json PATH`` writes the counts.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import subprocess
import sys
import tempfile
from collections import Counter
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
COMMANDS = ("chmod", "readlink", "ls", "stat")
REPLAY = re.compile(r"/work/replay-(\d+)/(\S*)")
CHECKPOINT_LOGS = ("sources", "offsets", "commits")

SHIM = """#!/bin/sh
printf '%s %s\\n' {name} "$*" >> {log}
exec {real} "$@"
"""


def write_shims(bin_dir: Path, log: Path) -> None:
    for name in COMMANDS:
        real = shutil.which(name)
        if real is None:
            continue
        shim = bin_dir / name
        shim.write_text(SHIM.format(name=name, log=log, real=real))
        shim.chmod(0o755)


def category(rest: str) -> str:
    """What a path below ``work/replay-N/`` belongs to."""
    parts = rest.split("/")
    if parts[0] == "checkpoint":
        sub = parts[1] if len(parts) > 1 else ""
        return f"checkpoint/{sub if sub in CHECKPOINT_LOGS else 'other'}"
    if "_staging" in parts:
        return "staging/_SUCCESS" if "_SUCCESS" in parts[-1] else "staging"
    return "other"


def tally(lines: list[str]) -> tuple[Counter, Counter, int]:
    """(spawns by (command, category) in the timed replays, spawns by
    command outside them, number of timed replays seen)."""
    timed: Counter = Counter()
    outside: Counter = Counter()
    replays: set[int] = set()
    for line in lines:
        cmd, _, args = line.partition(" ")
        m = REPLAY.search(args)
        if m is None or int(m.group(1)) == 0:
            outside[cmd] += 1
            continue
        replays.add(int(m.group(1)))
        timed[cmd, category(m.group(2))] += 1
    return timed, outside, len(replays)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--tree", type=Path, default=ROOT, help="checkout to run")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=1)
    ap.add_argument("--json", type=Path, help="write the counts here")
    args = ap.parse_args(argv)

    with tempfile.TemporaryDirectory(prefix="spawns-") as tmp:
        bin_dir, log = Path(tmp) / "bin", Path(tmp) / "spawns.log"
        bin_dir.mkdir()
        log.touch()
        write_shims(bin_dir, log)
        env = dict(os.environ, PATH=f"{bin_dir}{os.pathsep}{os.environ['PATH']}")
        cmd = [
            sys.executable, "perfbench/run.py", "--workload", "stream_ingest",
            "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", "0",
        ]
        proc = subprocess.run(
            cmd, cwd=args.tree, env=env, capture_output=True, text=True
        )
        out = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not out:
            tail = "\n".join(proc.stderr.strip().splitlines()[-5:])
            print(f"perfbench run failed (exit {proc.returncode}):\n{tail}")
            return 1
        lines = log.read_text().splitlines()

    result = json.loads(out[-1])
    batches = result["attempted"]
    timed, outside, n_replays = tally(lines)
    per_batch = {f"{c}:{cat}": n / batches for (c, cat), n in sorted(timed.items())}
    by_cat: Counter = Counter()
    by_cmd: Counter = Counter()
    for (c, cat), n in timed.items():
        by_cat[cat] += n
        by_cmd[c] += n
    print(
        f"stream_ingest: {batches} timed micro-batches in {n_replays} replays, "
        f"correct={result['correct']}, failed={result['failed']}"
    )
    print(f"spawns per micro-batch: {sum(timed.values()) / batches:.2f}")
    print("  by category:")
    for cat, n in sorted(by_cat.items()):
        print(f"    {cat:22s} {n / batches:6.2f}")
    print("  by command:")
    for c in COMMANDS:
        print(f"    {c:22s} {by_cmd[c] / batches:6.2f}")
    print("  by command and category:")
    for key, v in per_batch.items():
        print(f"    {key:32s} {v:6.2f}")
    print(f"spawns outside the timed replays: {dict(outside) or 0}")
    if args.json:
        args.json.write_text(json.dumps({
            "batches": batches,
            "replays": n_replays,
            "per_batch": per_batch,
            "outside": dict(outside),
            "correct": result["correct"],
        }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
