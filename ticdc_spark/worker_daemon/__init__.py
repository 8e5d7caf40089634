"""The engine's PySpark daemon: ``pyspark.daemon`` with a stat-guarded
``zipimporter.invalidate_caches``.

Every PySpark task starts with ``setup_spark_files``, which calls
``importlib.invalidate_caches()``.  Before CPython 3.13 (gh-103200 made
it lazy) that makes every ``zipimporter`` on ``sys.path`` re-read its
whole archive directory.  A Spark worker has ``pyspark.zip``, the py4j
zip and the spark-core jar first on its path, so each task, even on a
warm reused worker, re-reads 16 importers and ~27k entries (~180 ms on
3.11) before it touches a row.

``invalidate_caches`` below is a guard that re-reads an archive only
when its ``(st_mtime_ns, st_size)`` differs from the stat taken before
that importer's last read, or when ``stat`` fails; a changed archive is
still re-read.  ``__main__`` installs it on ``zipimport.zipimporter``,
primes the daemon's importers and runs ``pyspark.daemon.manager()``
unchanged, so every forked worker inherits the guard and the primed
stats.

``get_spark`` names this package in ``spark.python.daemon.module``
(``pyspark.daemon`` ignores a ``spark.python.worker.module`` whose name
does not start with ``pyspark``, so the daemon is the hook).  The
daemon runs as ``python -m ticdc_spark.worker_daemon``; ``get_spark``
also puts this checkout on the worker path, where the engine's own UDFs
are imported from too.
"""

from __future__ import annotations

import os
import zipimport

_reread = zipimport.zipimporter.invalidate_caches


def _stat_key(path: str) -> tuple[int, int] | None:
    try:
        st = os.stat(path)
    except OSError:
        return None
    return st.st_mtime_ns, st.st_size


def invalidate_caches(self) -> None:
    """Re-read this importer's archive directory only if the archive
    changed since the last read (or cannot be stat'ed)."""
    key = _stat_key(self.archive)
    if key is not None and self.__dict__.get("_read_stat") == key:
        return
    _reread(self)
    self._read_stat = key

