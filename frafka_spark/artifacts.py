"""The artifact store: every derived on-disk layout and every
per-session memo goes through one of two functions (the one exception
is ``io.py``'s table and view memos, which key per SparkSession
object, not per application).

``disk_artifact`` owns the layout root ``<repo>/spark-warehouse/``.
Each artifact lives at ``<tag>/<sf name>/<gen>/``, where ``<gen>``
hashes the builder's ``params``, the resolved fixture directory and
the fixture files' ``(size, mtime_ns)``. A generation is built in
place under a per-(tag, gen) thread lock plus an ``fcntl.flock`` on
``<gen>.lock`` beside it, and is committed by renaming the
``_ARTIFACT.json`` marker into it last (the leading ``_`` hides the
marker from Spark's file listing). A committed generation is never
rewritten, so a reader holding its path can never lose files; a
directory without the marker is a crashed build and is removed before
the rebuild. Stale generations stay on disk and are never read again.

``session_artifact`` memoizes a value per ``(applicationId, sf_dir,
tag)``. A per-key lock runs each build once per session without
blocking builds of other keys, and every caller gets the first-built
object back, so plans composed over a cached or checkpointed relation
share one plan object (an identity cache hit, and a truncated lineage
that is not re-expanded per construction). The lock is not
re-entrant: a build must never ask for its own tag. A build should
have no session side effect (temp view, ``spark.conf.set``), since
later callers skip it.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import shutil
import threading
import time
from pathlib import Path

_ROOT = Path(__file__).resolve().parents[1] / "spark-warehouse"
_MARKER = "_ARTIFACT.json"

#: (applicationId, sf_dir, tag) → built value
_SESSION: dict[tuple[str, str, str], object] = {}
_LOCKS: dict[tuple, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()


def _lock(key: tuple) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def _gen_dir(sf_dir: str, tag: str, params) -> Path:
    sf = Path(sf_dir).resolve()
    fixture = sorted(
        (p.name, st.st_size, st.st_mtime_ns)
        for p in sf.glob("*.parquet")
        for st in [p.stat()]
    )
    spec = json.dumps([params, str(sf), fixture], sort_keys=True)
    gen = hashlib.sha1(spec.encode()).hexdigest()[:16]
    return _ROOT / tag / (sf.name or "sf") / gen


def disk_artifact(sf_dir: str, tag: str, params, build) -> str:
    """Return the committed generation directory of ``tag`` for this
    fixture and ``params``, calling ``build(path)`` to write it first
    if no process has committed it yet."""
    path = _gen_dir(sf_dir, tag, params)
    marker = path / _MARKER
    if marker.exists():
        return str(path)
    path.parent.mkdir(parents=True, exist_ok=True)
    with _lock((tag, str(path))), open(f"{path}.lock", "w") as lockf:
        fcntl.flock(lockf, fcntl.LOCK_EX)  # released when lockf closes
        if not marker.exists():
            shutil.rmtree(path, ignore_errors=True)
            path.mkdir()
            t0 = time.perf_counter()
            build(str(path))
            tmp = path / f"{_MARKER}.tmp"
            tmp.write_text(
                json.dumps(
                    {"tag": tag, "params": params, "sf_dir": sf_dir,
                     "build_s": round(time.perf_counter() - t0, 3)}
                )
            )
            tmp.replace(marker)
    return str(path)


def session_artifact(spark, sf_dir: str, tag: str, build):
    """``build()``'s value, computed once per (session, fixture, tag)."""
    key = (spark.sparkContext.applicationId, sf_dir, tag)
    if key in _SESSION:
        return _SESSION[key]
    with _lock(key):
        if key not in _SESSION:
            _SESSION[key] = build()
        return _SESSION[key]
