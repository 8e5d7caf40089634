"""``python -m ticdc_spark.worker_daemon``: PySpark's daemon under the
archive-stat guard, with ``PRELOAD`` imported before the first fork
(see the package docstring)."""

import importlib
import zipimport

from pyspark.daemon import manager

from ticdc_spark import worker_daemon

zipimport.zipimporter.invalidate_caches = worker_daemon.invalidate_caches
# read each importer once here, so forked workers start with its stat
importlib.invalidate_caches()
for name in worker_daemon.PRELOAD:
    importlib.import_module(name)
worker_daemon.preloaded = True
manager()
