"""PySpark worker daemon that re-reads a zip importer's directory only
when its archive changed.

Every Python task starts with ``pyspark.worker_util.setup_spark_files``
calling ``importlib.invalidate_caches()`` so that files added with
``addPyFile`` become importable. Workers import pyspark from
``pyspark.zip`` and py4j from its zip, through one
``zipimport.zipimporter`` per imported subpackage. On Python 3.11
``zipimporter.invalidate_caches`` re-reads the archive's whole central
directory at once, so a reused worker re-parsed ~27k directory entries
(16 importers) before each task: on a 4-core VM a no-op one-task job
ran for ~190–240 ms of executor time, and ~56 ms without the rescans.

Here each importer keeps the ``(st_ino, st_size, st_mtime_ns)`` stamp
of its archive from its last read and re-reads only when the stamp
differs or ``os.stat`` fails, so a new or replaced zip is still picked
up. The stamp is taken before the read: an archive rewritten during
the read differs from it on the next call. Worker reuse and the fork
model are ``pyspark.daemon.manager``'s, unchanged.

``session.get_spark`` selects this module through
``spark.python.daemon.module``. The daemon reports its port to the JVM
on stdout, so importing this module must print nothing.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stamp(archive: str) -> tuple[int, int, int] | None:
    try:
        st = os.stat(archive)
    except OSError:
        return None
    return (st.st_ino, st.st_size, st.st_mtime_ns)


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips an unchanged archive."""
    stamp = _stamp(self.archive)
    if stamp is None or stamp != getattr(self, "_frafka_stamp", None):
        _reread(self)
        self._frafka_stamp = stamp


if __name__ == "__main__":
    # Install the function as defined under this module's package name,
    # so a task can tell the stamped method from zipimport's own.
    from frafka_spark import worker_daemon

    zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches

    from pyspark.daemon import manager

    manager()
