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
the produce path (~70 modules) in the middle of the epoch it holds up.
With it, a forked worker's first ``produce_frame`` task imports no
module: the daemon holds them once (98 MB RSS, 467 modules, on a
4-vCPU x86 host with CPython 3.11, pyarrow 16.1 and PySpark 4.1) and a
worker starts with them mapped copy-on-write (~72 MB RSS).  pandas is
not among them (with it the daemon held 802 modules in 132 MB): the
sink tasks cross the Arrow boundary in ``functions/arrow_rows.py``,
which avoids the pyarrow calls that import it.  A query that runs a
pandas UDF imports it in its own worker.  Importing numpy and pyarrow
starts native threads in the daemon (the BLAS pool, jemalloc's
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

# What a cold worker imports in its first produce task: the Arrow
# runtime every mapInArrow task loads, the live produce path
# (``kafka_live`` holds the produce task and pulls in the ``sinks``
# package and ``functions.arrow_rows``; its ``_send`` imports
# ``kafka_client``, which brings ``kafka_wire`` and ``native_accel``) and
# ``encodings.idna``, which the socket layer loads to encode a host name.
# ``pyspark.sql.pandas.serializers`` is not listed: ``pyspark.worker``
# already imports it in the daemon.
PRELOAD = (
    "pyarrow",
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

