"""The engine's PySpark worker daemon (``spark.python.daemon.module``).

Spark forks every Python worker from this daemon. Before each task the
worker calls ``importlib.invalidate_caches()``, and on CPython 3.11 and
3.12 ``zipimporter.invalidate_caches`` re-parses the whole central
directory of its archive: pyspark.zip once for each of its package
importers, and the spark-core jar Spark puts on every worker's path. That
is ~200 ms per task before any user code runs. The daemon swaps in a
version that re-reads an archive only when its stat stamp has changed
since that importer last read it; forked workers inherit the swap. An
archive added with ``sc.addPyFile`` is a new path or a changed file, so it
is still read.
"""

from __future__ import annotations

import os
import zipimport

_reread_archive = zipimport.zipimporter.invalidate_caches


def invalidate_changed_archive(self: zipimport.zipimporter) -> None:
    """``zipimporter.invalidate_caches`` that skips the re-read while the
    archive's ``(st_mtime_ns, st_size, st_ino)`` equals the stamp taken at
    this importer's last re-read. A missing archive is always re-read."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size, st.st_ino)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_archive_stamp", None):
        # Stat before the read: a write racing it changes the stamp, so
        # the next call reads again.
        _reread_archive(self)
        self._archive_stamp = stamp


if __name__ == "__main__":
    zipimport.zipimporter.invalidate_caches = invalidate_changed_archive

    from pyspark import daemon

    daemon.manager()
