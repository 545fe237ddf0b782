"""The artifact store (``frafka_spark/artifacts.py``) without Spark:
cross-process build-once, crash recovery, generation immutability,
and the per-key session memo."""

from __future__ import annotations

import multiprocessing
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

    got = artifacts.disk_artifact(sf, "race", [1], build)
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
        artifacts.disk_artifact(str(sf), "flaky", [], broken)
    gen = artifacts._gen_dir(str(sf), "flaky", [])
    assert (gen / "half.txt").exists()
    assert not (gen / "_ARTIFACT.json").exists()

    def good(path: str) -> None:
        assert not Path(path, "half.txt").exists()  # partial removed
        Path(path, "data.txt").write_text("ok")

    path = artifacts.disk_artifact(str(sf), "flaky", [], good)
    assert Path(path) == gen
    assert Path(path, "data.txt").read_text() == "ok"
    assert Path(path, "_ARTIFACT.json").exists()


def test_new_params_build_a_new_generation_and_keep_the_old(store):
    _root, sf = store

    def build(path: str) -> None:
        Path(path, "data.txt").write_text(path)

    old = Path(artifacts.disk_artifact(str(sf), "gen", [1], build))
    before = {
        p: (p.read_bytes(), p.stat().st_mtime_ns, p.stat().st_ino)
        for p in old.rglob("*")
    }
    new = Path(artifacts.disk_artifact(str(sf), "gen", [2], build))
    assert new != old and new.parent == old.parent
    after = {
        p: (p.read_bytes(), p.stat().st_mtime_ns, p.stat().st_ino)
        for p in old.rglob("*")
    }
    assert after == before

    def unexpected(path: str) -> None:
        raise AssertionError("a committed generation was rebuilt")

    assert Path(artifacts.disk_artifact(str(sf), "gen", [1], unexpected)) == old


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

lakehouse.disk_artifact = lambda sf, tag, params, build: str(
    artifacts._gen_dir(sf, tag, params)
)
print(lakehouse._ensure_table(None, sys.argv[1], "orders_compacted"))
"""


def test_lakehouse_generation_independent_of_import_order():
    """A process that imported only the lakehouse module and one that
    loaded every module resolve the same generation directory."""
    resolved = [
        subprocess.run(
            [sys.executable, "-c", _RESOLVE.format(setup=setup), SF_DIR],
            cwd=REPO, capture_output=True, text=True, check=True,
        ).stdout.strip().splitlines()[-1]
        for setup in ("", "import frafka_spark; frafka_spark.load_all()")
    ]
    assert resolved[0] == resolved[1]
    assert Path(resolved[0]).parent.name == Path(SF_DIR).name
