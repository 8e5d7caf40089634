"""``python -m ticdc_spark.worker_daemon``: PySpark's daemon under the
archive-stat guard (see the package docstring)."""

import importlib
import zipimport

from pyspark.daemon import manager

from ticdc_spark.worker_daemon import invalidate_caches

zipimport.zipimporter.invalidate_caches = invalidate_caches
# read each importer once here, so forked workers start with its stat
importlib.invalidate_caches()
manager()
