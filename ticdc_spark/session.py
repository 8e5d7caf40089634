"""SparkSession factory tuned for the engine.

Local testing runs on ``local[N]``; the same config block is what we would
ship to a 1000-executor cluster (AQE on, UTC, Arrow) — only master/memory
and ``spark.sql.shuffle.partitions`` change with cluster size.

Python workers fork from the engine's own daemon
(``ticdc_spark.worker_daemon``), which is ``pyspark.daemon`` with a
stat guard on ``zipimporter.invalidate_caches``.  Without it, every
Python task (each ``mapInPandas``/``mapInArrow``/RDD stage, including
a live epoch's Kafka produce) re-reads the whole directory of
``pyspark.zip``, the py4j zip and the spark-core jar before touching a
row: ~180 ms of fixed cost per task on CPython < 3.13.  The daemon also
imports the engine's task modules (``worker_daemon.PRELOAD``: pyarrow
and the live Kafka produce path; no pandas) before its first fork, so a
worker starts warm.  That matters whenever a worker is new: a stage that runs
more Python tasks than there are idle workers forks one mid-stage (a
backlog epoch's produce split in two), and Spark stops workers left idle
for a minute, so the epoch after a quiet minute forks again.  A cold
fork would import ~70 modules in its first produce task.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# the directory holding this ``ticdc_spark`` package
_PACKAGE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def get_spark(app_name: str = "ticdc_spark", shuffle_partitions: int | None = None) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
        # default 1g fails any full-result collect past ~2.5M rows — the
        # sf1 differential sweep collects whole changelog-sized outputs
        # into the oracle compare (correctness tooling, not a data-path
        # collect; the engine's own operators never collect at scale)
        .config("spark.driver.maxResultSize",
                os.environ.get("SPARK_GRAFT_MAX_RESULT", "8g"))
        # UI off by default (port + thread cost in tests); bench enables
        # it to read shuffle-write bytes from the status REST API
        .config("spark.ui.enabled",
                "true" if os.environ.get("SPARK_GRAFT_UI") == "1"
                else "false")
        # keep byte counters stable across a whole bench probe (the
        # default store evicts at 1000 stages and deltas go negative)
        .config("spark.ui.retainedStages", "100000")
        .config("spark.sql.parquet.filterPushdown", "true")
        # HotSpot never JIT-compiles a method over 8000 bytecode bytes
        # (DontCompileHugeMethods), so a whole-stage method past that runs
        # interpreted; at this limit Spark runs such a stage without
        # whole-stage codegen instead (a one-stage changelog + canal-json
        # encode: 2.6 -> 1.6 s at sf0.1).  Stages under it are unchanged.
        .config("spark.sql.codegen.hugeMethodLimit", "8000")
        # local mode defaults to task maxFailures=1: one transient Python
        # worker death (co-tenant memory spike on this host) aborts the
        # whole job.  A real cluster runs with 4; match it so a single
        # worker crash retries instead of failing the bench/suite run.
        .config("spark.task.maxFailures", "4")
        .config("spark.python.worker.faulthandler.enabled", "true")
        .config("spark.python.daemon.module", "ticdc_spark.worker_daemon")
        # the daemon and the engine's UDFs import ticdc_spark in the
        # worker, which starts in the driver's working directory: put
        # this checkout on the worker path wherever the driver started
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_ROOT)
        # testdata parquet stores TIMESTAMP(NANOS); Spark reads them as
        # LongType nanos under this flag (sources/changelog.py converts).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
