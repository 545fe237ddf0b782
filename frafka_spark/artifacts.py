"""The artifact store: every derived on-disk layout and every
per-session memo goes through one of two functions (the one exception
is ``io.py``'s table and view memos, which key per SparkSession
object, not per application).

``disk_artifact`` owns the layout root ``<repo>/spark-warehouse/``.
Each artifact lives at ``<tag>/<sf name>/<gen>/``, where ``<gen>``
hashes the code that builds it, the resolved fixture directory and
the fixture files' ``(size, mtime_ns)``. The code is the builder's
module (``build.__module__``, or that of a ``functools.partial``'s
``func``) and every ``frafka_spark`` module it imports, transitively,
imports inside functions included. Each is hashed as its
docstring-free AST under its module name, so a docstring or comment
edit keeps the generation, any other edit in the closure makes a new
one, and a copy of the tree at another path resolves the same
generation. The digests
are read from source, once per process; nothing is imported. A
generation is built in place under a per-(tag, gen) thread lock plus
an ``fcntl.flock`` on ``<gen>.lock`` beside it, and is committed by
renaming the ``_ARTIFACT.json`` marker into it last (the leading
``_`` hides the marker from Spark's file listing). The marker records
the tag, fixture directory, builder module and per-module digests.
A committed generation is never rewritten, so a reader holding its
path can never lose files; a directory without the marker is a
crashed build and is removed before the rebuild. Generations that the
current code and fixtures no longer name are never read again;
``tools/artifacts_gc.py`` removes them.

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

import ast
import fcntl
import hashlib
import json
import shutil
import sys
import threading
import time
from pathlib import Path

_PKG = "frafka_spark"
_SRC = Path(__file__).resolve().parents[1]
_ROOT = _SRC / "spark-warehouse"
_MARKER = "_ARTIFACT.json"

#: (applicationId, sf_dir, tag) → built value
_SESSION: dict[tuple[str, str, str], object] = {}
_LOCKS: dict[tuple, threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()
#: module name → (digest of its docstring-free AST, its package imports)
_PARSED: dict[str, tuple[str, list[str]]] = {}
_DOCUMENTED = (ast.Module, ast.ClassDef, ast.FunctionDef, ast.AsyncFunctionDef)


def _lock(key: tuple) -> threading.Lock:
    with _LOCKS_GUARD:
        return _LOCKS.setdefault(key, threading.Lock())


def _file(name: str) -> Path:
    """The source file package module ``name`` would have."""
    base = _SRC.joinpath(*name.split("."))
    init = base / "__init__.py"
    return init if init.is_file() else base.with_suffix(".py")


def _parse(name: str) -> tuple[str, list[str]]:
    """``name``'s AST digest and the ``frafka_spark`` modules it imports
    (never the package root, whose ``load_all`` imports everything). A
    builder module outside the package (a test's) is read from its
    loaded file."""
    if name not in _PARSED:
        ours = name.startswith(f"{_PKG}.")
        src = _file(name) if ours else sys.modules[name].__file__
        tree = ast.parse(Path(src).read_bytes())
        deps = set()
        for node in ast.walk(tree):
            if isinstance(node, _DOCUMENTED) and ast.get_docstring(node, False):
                del node.body[0]  # its children are already queued
            if isinstance(node, ast.Import):
                deps.update(a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module:
                deps.add(node.module)
                deps.update(f"{node.module}.{a.name}" for a in node.names)
        _PARSED[name] = (
            hashlib.sha1(ast.dump(tree).encode()).hexdigest()[:16],
            [d for d in deps if d.startswith(f"{_PKG}.") and _file(d).is_file()],
        )
    return _PARSED[name]


def _code(module: str) -> dict[str, str]:
    """Module name → digest over ``module``'s import closure."""
    code, todo = {}, [module]
    while todo:
        name = todo.pop()
        if name not in code:
            code[name], deps = _parse(name)
            todo += deps
    return code


def _gen_dir(sf_dir: str, tag: str, module: str) -> Path:
    """Where the generation of ``tag`` that ``module``'s current code
    builds from the current ``sf_dir`` fixture lives."""
    sf = Path(sf_dir).resolve()
    fixture = sorted(
        (p.name, st.st_size, st.st_mtime_ns)
        for p in sf.glob("*.parquet")
        for st in [p.stat()]
    )
    spec = json.dumps([_code(module), str(sf), fixture], sort_keys=True)
    gen = hashlib.sha1(spec.encode()).hexdigest()[:16]
    return _ROOT / tag / (sf.name or "sf") / gen


def disk_artifact(sf_dir: str, tag: str, build) -> str:
    """Return the committed generation directory of ``tag`` for this
    fixture and the builder's code, calling ``build(path)`` (a
    ``Path``) to write it first if no process has committed it yet."""
    module = getattr(build, "func", build).__module__
    path = _gen_dir(sf_dir, tag, module)
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
            build(path)
            tmp = path / f"{_MARKER}.tmp"
            tmp.write_text(
                json.dumps(
                    {"tag": tag, "sf_dir": str(Path(sf_dir).resolve()),
                     "module": module, "code": _code(module),
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
