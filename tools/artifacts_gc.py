#!/usr/bin/env python3
"""Remove the artifact-store generations that the current code and
fixtures no longer name.

Usage (from the root of a checkout)::

    python3 tools/artifacts_gc.py

A generation ``spark-warehouse/<tag>/<sf name>/<gen>/`` is kept when
the tag, fixture directory and builder module recorded in its
``_ARTIFACT.json`` marker resolve to ``<gen>`` again through the
store's own ``frafka_spark.artifacts._gen_dir``: same code digests,
same fixture files. Every other generation is removed: one built by
older code or from a changed or missing fixture, one whose builder
module is gone, one with an older marker format, and a build that
crashed before its marker. Each is removed while holding its
``<gen>.lock`` ``flock``; a generation whose lock is held (a build in
progress) is skipped. Each removed directory is printed. The lock
files stay, so a process already waiting on one keeps locking the
same file. Run it when no process of an older checkout is still
reading the store.
"""

from __future__ import annotations

import fcntl
import json
import shutil
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from frafka_spark import artifacts  # noqa: E402


def _current(gen: Path) -> bool:
    """Whether the current code and fixture still name ``gen``."""
    try:
        meta = json.loads((gen / artifacts._MARKER).read_text())
        named = artifacts._gen_dir(meta["sf_dir"], meta["tag"], meta["module"])
        return named == gen
    except (OSError, ValueError, KeyError):
        return False  # no marker, an older marker, a module that is gone


def main() -> None:
    for lock in sorted(artifacts._ROOT.glob("*/*/*.lock")):
        gen = lock.with_suffix("")
        if not gen.is_dir():
            continue
        with open(lock, "a") as lockf:
            try:
                fcntl.flock(lockf, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                continue  # a build holds it
            if _current(gen):  # read under the lock: a build may commit it
                continue
            shutil.rmtree(gen)
        print(gen, flush=True)


if __name__ == "__main__":
    main()
