"""Python worker daemon for the engine's sessions (``spark.python.daemon.module``).

PySpark's worker calls ``importlib.invalidate_caches()`` at the start of
every task (``pyspark/worker_util.py`` ``setup_spark_files``). Up to
CPython 3.12, ``zipimport.zipimporter.invalidate_caches`` re-reads the
archive's whole central directory at once (3.13 only drops the cache
entry). With ``SPARK_HOME`` set, a worker imports pyspark from
``python/lib/pyspark.zip`` and has the ``spark-core`` jar on
``sys.path``, so it holds one cached zipimporter per imported pyspark
subpackage plus the jar's: measured on a 4-vCPU host, Spark 4.1.2,
CPython 3.11.7, 14 importers and 214-231 ms per task, paid by every
Python task of every stage even with warm reused workers.

Run as the daemon, this module swaps in an ``invalidate_caches`` that
re-reads an archive only when its ``(st_mtime_ns, st_size)`` differs
from the stat recorded at that importer's last read, calls it once so
the daemon's own importers hold a recorded stat, then hands over to
``pyspark.daemon.manager()`` unchanged. Forked workers inherit those
stats, so a new worker's first task does not re-read the archives the
daemon already read. Semantics are kept: a zip added
at run time (``addPyFile``) gets a new importer that reads it on first
use, and a zip rewritten in place changes its stat and is re-read.
Importing this module has no side effects; the patch is applied only
under ``__main__``.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stat(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self: zipimport.zipimporter) -> None:
    """Re-read ``self.archive`` only if it changed since this importer's
    last read through here (the first call always reads)."""
    st = _stat(self.archive)
    if st is not None and st == getattr(self, "_pda_read_stat", None):
        return
    _reread(self)
    self._pda_read_stat = st


if __name__ == "__main__":
    # Patch with the importable copy's function, not ``__main__``'s, so
    # the worker-side method names its real module.
    from pda_spark._daemon import invalidate_caches as _invalidate_caches

    zipimport.zipimporter.invalidate_caches = _invalidate_caches

    import importlib

    from pyspark import daemon

    importlib.invalidate_caches()
    daemon.manager()
