"""Python worker daemon that stops every task from re-reading ``pyspark.zip``.

Spark forks each Python worker from a daemon (``spark.python.daemon.module``,
set by ``session.get_spark``). Before every task, pyspark's
``worker_util.setup_spark_files`` calls ``importlib.invalidate_caches()``. On
Python < 3.13, ``zipimport.zipimporter.invalidate_caches`` re-reads the whole
archive directory, and a worker holds one zipimporter per ``pyspark.zip``
subpackage (16 of them). On a 4-core host with Python 3.11 that call took
140-650 ms inside a worker, before any of our code ran, and an identity
``mapInPandas`` over 10k rows in 16 tasks took 1.2-1.7 s against 0.2-0.4 s
for the JVM-only plan. Under this daemon the call takes 0.1-0.2 ms and the
16 tasks 0.6-0.85 s. Python 3.13 only drops the cache there.

This daemon re-reads an archive only when its ``(st_mtime_ns, st_size)``
differs from the importer's last read or ``stat`` fails, so a replaced
archive is still picked up. It reads the archives once, before forking,
and then runs pyspark's own daemon.
"""

from __future__ import annotations

import importlib
import os
import sys
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _invalidate_caches(self) -> None:
    """Re-read the archive directory only if the archive changed on disk."""
    try:
        st = os.stat(self.archive)
        stamp = (st.st_mtime_ns, st.st_size)
    except OSError:
        stamp = None
    if stamp is None or stamp != getattr(self, "_read_stamp", None):
        _reread(self)
        self._read_stamp = stamp


if __name__ == "__main__":
    if sys.version_info < (3, 13):
        zipimport.zipimporter.invalidate_caches = _invalidate_caches
    from pyspark import daemon

    importlib.invalidate_caches()  # read once here; every forked worker inherits it
    daemon.manager()
