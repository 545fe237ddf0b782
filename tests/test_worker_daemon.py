"""The engine's PySpark worker daemon (``frafka_spark/worker_daemon.py``):
zip archives are re-read on ``importlib.invalidate_caches()`` only when
they changed on disk, the session launches workers through it, and
importing it prints nothing (the daemon reports its port on stdout).
"""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from frafka_spark import worker_daemon

_REPO = str(Path(__file__).resolve().parents[1])


@pytest.fixture
def probe_zip(tmp_path, monkeypatch):
    """A zip on ``sys.path`` holding ``fr_wd_probe_a``, imported once,
    with the stamped ``invalidate_caches`` installed."""
    archive = str(tmp_path / "probe.zip")
    with zipfile.ZipFile(archive, "w") as zf:
        zf.writestr("fr_wd_probe_a.py", "VALUE = 'a'\n")
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches", worker_daemon.invalidate_caches
    )
    monkeypatch.syspath_prepend(archive)
    import fr_wd_probe_a  # noqa: F401

    assert isinstance(sys.path_importer_cache[archive], zipimport.zipimporter)
    yield archive
    for name in ("fr_wd_probe_a", "fr_wd_probe_b"):
        sys.modules.pop(name, None)
    sys.path_importer_cache.pop(archive, None)


def _count_reads(monkeypatch, archive: str) -> list[str]:
    reads: list[str] = []
    real = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return real(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(probe_zip, monkeypatch):
    importlib.invalidate_caches()  # stamps the importer
    reads = _count_reads(monkeypatch, probe_zip)
    for _ in range(3):
        importlib.invalidate_caches()
    assert reads == []


def test_rewritten_archive_is_reread(probe_zip, monkeypatch):
    """The ``addPyFile`` case: a zip rewritten with a new member is
    importable after the next ``invalidate_caches()``."""
    importlib.invalidate_caches()
    with zipfile.ZipFile(probe_zip, "w") as zf:
        zf.writestr("fr_wd_probe_a.py", "VALUE = 'a'\n")
        zf.writestr("fr_wd_probe_b.py", "VALUE = 'b'\n")
    reads = _count_reads(monkeypatch, probe_zip)
    importlib.invalidate_caches()
    assert reads == [probe_zip]
    import fr_wd_probe_b

    assert fr_wd_probe_b.VALUE == "b"


def test_import_writes_nothing_to_stdout(tmp_path):
    env = {**os.environ, "PYTHONPATH": _REPO}
    done = subprocess.run(
        [sys.executable, "-c", "import frafka_spark.worker_daemon"],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert done.returncode == 0, done.stderr
    assert done.stdout == ""


def test_session_workers_use_the_daemon(spark):
    def report(batches):
        import zipimport as zi

        import pyarrow as pa

        module = zi.zipimporter.invalidate_caches.__module__
        for b in batches:
            yield pa.RecordBatch.from_pydict({"module": [module] * b.num_rows})

    rows = spark.range(4, numPartitions=2).mapInArrow(report, "module string").collect()
    assert {r.module for r in rows} == {"frafka_spark.worker_daemon"}
