"""The artifact store (``frafka_spark/artifacts.py``) without Spark:
cross-process build-once, crash recovery, generation immutability,
generations keyed by the builder's code, the stale-generation
collector (``tools/artifacts_gc.py``) and the per-key session memo."""

from __future__ import annotations

import fcntl
import importlib.util
import json
import multiprocessing
import re
import shutil
import subprocess
import sys
import threading
import time
from pathlib import Path
from types import SimpleNamespace

import pytest

from frafka_spark import artifacts

from tests.conftest import SF_DIR

REPO = Path(__file__).resolve().parent.parent


@pytest.fixture
def store(tmp_path, monkeypatch):
    """An empty layout root and a one-file fixture directory."""
    root = tmp_path / "warehouse"
    monkeypatch.setattr(artifacts, "_ROOT", root)
    sf = tmp_path / "sf_test"
    sf.mkdir()
    (sf / "orders.parquet").write_bytes(b"fixture")
    return root, sf


def _race_worker(root: str, sf: str, counter: str, out: str) -> None:
    artifacts._ROOT = Path(root)

    def build(path: str) -> None:
        with open(counter, "a") as f:
            f.write("built\n")
        time.sleep(1.0)
        Path(path, "data.txt").write_text("payload")

    got = artifacts.disk_artifact(sf, "race", build)
    Path(out).write_text(got)


def test_disk_artifact_builds_once_across_processes(store, tmp_path):
    root, sf = store
    counter = tmp_path / "count.txt"
    ctx = multiprocessing.get_context("spawn")
    outs = [tmp_path / f"out{i}.txt" for i in range(2)]
    procs = [
        ctx.Process(
            target=_race_worker,
            args=(str(root), str(sf), str(counter), str(o)),
        )
        for o in outs
    ]
    for p in procs:
        p.start()
    for p in procs:
        p.join(60)
        assert p.exitcode == 0
    assert counter.read_text().splitlines() == ["built"]
    paths = {o.read_text() for o in outs}
    assert len(paths) == 1
    (path,) = paths
    assert Path(path, "data.txt").read_text() == "payload"
    assert Path(path, "_ARTIFACT.json").exists()


def test_failed_build_leaves_no_marker_and_rebuilds(store):
    _root, sf = store

    def broken(path: str) -> None:
        Path(path, "half.txt").write_text("partial")
        raise RuntimeError("builder crashed")

    with pytest.raises(RuntimeError):
        artifacts.disk_artifact(str(sf), "flaky", broken)
    gen = artifacts._gen_dir(str(sf), "flaky", broken.__module__)
    assert (gen / "half.txt").exists()
    assert not (gen / "_ARTIFACT.json").exists()

    def good(path: str) -> None:
        assert not Path(path, "half.txt").exists()  # partial removed
        Path(path, "data.txt").write_text("ok")

    path = artifacts.disk_artifact(str(sf), "flaky", good)
    assert Path(path) == gen
    assert Path(path, "data.txt").read_text() == "ok"
    assert Path(path, "_ARTIFACT.json").exists()


_BUILDER = """
from pathlib import Path


def build(path):
    Path(path, "data.txt").write_text(str(path))


def unexpected(path):
    raise AssertionError("a committed generation was rebuilt")
"""


def test_code_change_builds_a_new_generation_and_keeps_the_old(
    store, tmp_path, monkeypatch
):
    """An edit to the builder's module names a new generation; the
    old one keeps its bytes, inodes and mtimes, and reverting the edit
    returns it unbuilt."""
    _root, sf = store
    src = tmp_path / "gen_builder.py"
    src.write_text(_BUILDER)
    spec = importlib.util.spec_from_file_location("gen_builder", src)
    mod = importlib.util.module_from_spec(spec)
    monkeypatch.setitem(sys.modules, "gen_builder", mod)
    spec.loader.exec_module(mod)
    monkeypatch.setattr(artifacts, "_PARSED", {})

    old = Path(artifacts.disk_artifact(str(sf), "gen", mod.build))
    before = {
        p: (p.read_bytes(), p.stat().st_mtime_ns, p.stat().st_ino)
        for p in old.rglob("*")
    }
    # the digests are read from source once per process: a new process
    src.write_text(_BUILDER + "\nVERSION = 2\n")
    artifacts._PARSED.clear()
    new = Path(artifacts.disk_artifact(str(sf), "gen", mod.build))
    assert new != old and new.parent == old.parent
    after = {
        p: (p.read_bytes(), p.stat().st_mtime_ns, p.stat().st_ino)
        for p in old.rglob("*")
    }
    assert after == before

    src.write_text(_BUILDER)
    artifacts._PARSED.clear()
    assert Path(artifacts.disk_artifact(str(sf), "gen", mod.unexpected)) == old


DPP = "frafka_spark.operators.dpp"
LAKEHOUSE = "frafka_spark.operators.lakehouse"


@pytest.fixture
def tree(store, tmp_path, monkeypatch):
    """A copy of the package under ``tmp_path`` that the code digests
    are read from, and the store's fixture directory."""
    src = tmp_path / "tree"
    shutil.copytree(
        REPO / "frafka_spark", src / "frafka_spark",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    monkeypatch.setattr(artifacts, "_SRC", src)
    monkeypatch.setattr(artifacts, "_PARSED", {})
    return src, str(store[1])


def _gen(src: Path, sf: str, tag: str, module: str) -> str:
    """The generation name a fresh process resolves from ``src``."""
    artifacts._SRC = src
    artifacts._PARSED.clear()
    return artifacts._gen_dir(sf, tag, module).name


def _edit(src: Path, rel: str, edit) -> None:
    f = src / "frafka_spark" / rel
    f.write_text(edit(f.read_text()))


def test_code_edit_in_the_closure_makes_a_new_generation(tree):
    src, sf = tree
    before = _gen(src, sf, "events_by_date", DPP)
    _edit(src, "operators/dpp.py", lambda t: t + "\n_EDITED = 1\n")
    edited = _gen(src, sf, "events_by_date", DPP)
    assert edited != before
    _edit(src, "io.py", lambda t: t + "\n_EDITED = 1\n")  # imported by dpp
    assert _gen(src, sf, "events_by_date", DPP) not in (before, edited)


def test_docstring_and_comment_edits_keep_the_generation(tree):
    src, sf = tree
    before = _gen(src, sf, "events_by_date", DPP)
    _edit(
        src, "operators/dpp.py",
        lambda t: t.replace('"""Dynamic partition', '"""Reworded.\n\nDynamic', 1)
        .replace("def _ensure_layout", "# a new comment\ndef _ensure_layout", 1),
    )
    _edit(src, "artifacts.py", lambda t: t.replace('"""', '"""Reworded. ', 1))
    assert _gen(src, sf, "events_by_date", DPP) == before


def test_edits_outside_the_closure_keep_the_generation(tree):
    src, sf = tree
    dpp = _gen(src, sf, "events_by_date", DPP)
    compacted = _gen(src, sf, "orders_compacted", LAKEHOUSE)
    _edit(src, "llm/pack.py", lambda t: t + "\n_EDITED = 1\n")
    # index_store imports lakehouse, not the other way round
    _edit(src, "llm/index_store.py", lambda t: t + "\n_EDITED = 1\n")
    assert _gen(src, sf, "events_by_date", DPP) == dpp
    assert _gen(src, sf, "orders_compacted", LAKEHOUSE) == compacted


def test_segment_cut_edit_makes_a_new_segfreq_generation(tree):
    """The segment index persists ``segment_rows``, which cuts lines at
    ``llm/dedup.py``'s ``LINE_SEG_WORDS``: editing that constant names
    a new generation of the index, through a function-level import."""
    from frafka_spark.llm import index_store  # noqa: F401 — registers it
    from frafka_spark.operators.lakehouse import _BUILDERS

    src, sf = tree
    tag = "documents_segfreq_indexed"
    module = _BUILDERS[tag].__module__
    before = _gen(src, sf, tag, module)
    _edit(
        src, "llm/dedup.py",
        lambda t: re.sub(
            r"^LINE_SEG_WORDS = (\d+)",
            lambda m: f"LINE_SEG_WORDS = {int(m[1]) + 1}",
            t, count=1, flags=re.M,
        ),
    )
    assert _gen(src, sf, tag, module) != before


def test_moving_the_tree_keeps_the_generation(tree, tmp_path):
    src, sf = tree
    moved = tmp_path / "elsewhere" / "tree"
    shutil.copytree(src, moved)
    for tag, module in (("events_by_date", DPP), ("orders_compacted", LAKEHOUSE)):
        assert _gen(moved, sf, tag, module) == _gen(src, sf, tag, module)


def _gc():
    spec = importlib.util.spec_from_file_location(
        "artifacts_gc", REPO / "tools" / "artifacts_gc.py"
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gc_removes_unlocked_stale_generations_only(store, capsys):
    _root, sf = store

    def build(path: Path) -> None:
        Path(path, "data.txt").write_text("payload")

    def broken(path: Path) -> None:
        raise RuntimeError("builder crashed")

    stale = Path(artifacts.disk_artifact(str(sf), "stale", build))
    locked = Path(artifacts.disk_artifact(str(sf), "locked", build))
    gone = Path(artifacts.disk_artifact(str(sf), "gone", build))
    marker = gone / "_ARTIFACT.json"  # as an older tree's builder left it
    meta = json.loads(marker.read_text())
    marker.write_text(json.dumps({**meta, "module": "frafka_spark.gone"}))
    with pytest.raises(RuntimeError):
        artifacts.disk_artifact(str(sf), "crashed", broken)
    crashed = artifacts._gen_dir(str(sf), "crashed", broken.__module__)
    assert crashed.is_dir()
    (sf / "orders.parquet").write_bytes(b"fixture, regenerated")
    current = Path(artifacts.disk_artifact(str(sf), "stale", build))
    assert current != stale

    gc = _gc()
    with open(f"{locked}.lock", "w") as held:
        fcntl.flock(held, fcntl.LOCK_EX)
        gc.main()
    assert sorted(capsys.readouterr().out.split()) == sorted(
        [str(stale), str(crashed), str(gone)]
    )
    assert not stale.exists() and not crashed.exists() and not gone.exists()
    assert (locked / "_ARTIFACT.json").exists()
    assert (current / "data.txt").read_text() == "payload"

    gc.main()  # the lock is released: the stale generation goes now
    assert capsys.readouterr().out.split() == [str(locked)]
    assert not locked.exists() and (current / "_ARTIFACT.json").exists()


def _spark(app_id: str):
    return SimpleNamespace(sparkContext=SimpleNamespace(applicationId=app_id))


def test_session_artifact_builds_once_per_key(monkeypatch):
    monkeypatch.setattr(artifacts, "_SESSION", {})
    calls = []
    gate = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)
        return object()

    got = []

    def worker():
        gate.wait()
        got.append(artifacts.session_artifact(_spark("app"), "sf", "k", build))

    threads = [threading.Thread(target=worker) for _ in range(8)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(10)
            assert not t.is_alive()
    finally:
        sys.setswitchinterval(interval)
    assert len(calls) == 1
    assert len(got) == 8 and len({id(v) for v in got}) == 1


def test_session_artifact_slow_key_does_not_block_others(monkeypatch):
    monkeypatch.setattr(artifacts, "_SESSION", {})
    release = threading.Event()
    started = threading.Event()

    def slow():
        started.set()
        release.wait(10)
        return "a"

    t = threading.Thread(
        target=artifacts.session_artifact, args=(_spark("app"), "sf", "A", slow)
    )
    t.start()
    try:
        assert started.wait(5)
        t0 = time.perf_counter()
        b = artifacts.session_artifact(_spark("app"), "sf", "B", lambda: "b")
        assert b == "b"
        assert time.perf_counter() - t0 < 1.0
    finally:
        release.set()
        t.join(10)
    assert not t.is_alive()
    assert artifacts.session_artifact(_spark("app"), "sf", "A", None) == "a"


_RESOLVE = """
import sys
from frafka_spark import artifacts
{setup}
from frafka_spark.operators import lakehouse

lakehouse.disk_artifact = lambda sf, tag, build: str(
    artifacts._gen_dir(sf, tag, build.func.__module__)
)
print(lakehouse._ensure_table(None, sys.argv[1], "orders_compacted"))
from frafka_spark.llm import index_store
print(lakehouse._ensure_table(None, sys.argv[1], "documents_segfreq_indexed"))
"""


def test_lakehouse_generation_independent_of_import_order():
    """A process that imported only the modules that register the two
    tags and one that loaded every module resolve the same generation
    directories, for a lakehouse tag and for one registered by
    ``llm/index_store.py``."""
    resolved = [
        subprocess.run(
            [sys.executable, "-c", _RESOLVE.format(setup=setup), SF_DIR],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-2:]
        for setup in ("", "import frafka_spark; frafka_spark.load_all()")
    ]
    assert resolved[0] == resolved[1]
    for path in resolved[0]:
        assert Path(path).parent.name == Path(SF_DIR).name
    assert Path(resolved[0][1]).parts[-3] == "documents_segfreq_indexed"
