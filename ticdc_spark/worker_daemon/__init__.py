"""The engine's PySpark daemon: ``pyspark.daemon`` with a stat-guarded
``zipimporter.invalidate_caches`` and the engine's task imports loaded
before the first fork.

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
primes the daemon's importers, imports ``PRELOAD``, sets ``preloaded``
and runs ``pyspark.daemon.manager()`` unchanged, so every forked worker
inherits the guard, the primed stats and the loaded modules.

Warm forks matter because workers come and go: the daemon forks a new
worker whenever a stage runs more Python tasks than there are idle
workers (a backlog epoch whose produce stage AQE splits in two), and
Spark's worker factory stops a worker left idle for a minute
(``PythonWorkerFactory``'s idle timeout), so the next epoch after a
quiet minute forks again.  Without ``PRELOAD`` such a worker imports
pandas, pyarrow and the produce path (~380 modules, 0.12-0.18 s before
the UDF's first row, ~0.4 s of task wall) in the middle of the epoch it
holds up.  The daemon holds those modules once (~60 MB more RSS); a
forked worker starts with them mapped copy-on-write.  Importing numpy and
pyarrow starts native threads in the daemon (the BLAS pool, jemalloc's
background thread); both libraries register ``pthread_atfork``
handlers, and a forked worker starts its own threads when it needs them.

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

# What a cold worker imports in its first produce task (~380 modules):
# the Arrow-UDF runtime every mapInPandas/mapInArrow task loads
# (pyarrow's pandas shim imports pyarrow.vendored.version lazily), the
# live produce path (``kafka_live`` holds the produce UDF and pulls in
# the ``sinks`` package; its ``_send`` imports ``kafka_client``, which
# brings ``kafka_wire`` and ``native_accel``) and ``encodings.idna``,
# which the socket layer loads to encode a host name.
# ``pyspark.sql.pandas.serializers`` is not listed: ``pyspark.worker``
# already imports it in the daemon.
PRELOAD = (
    "pyarrow",
    "pandas",
    "pyarrow.pandas_compat",
    "pyarrow.vendored.version",
    "ticdc_spark.sinks.kafka_live",
    "ticdc_spark.sinks.kafka_client",
    "encodings.idna",
)

# set by ``__main__`` once PRELOAD is imported, before the first fork
preloaded = False

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

