"""The engine's PySpark daemon: the stat guard on
``zipimporter.invalidate_caches`` skips unchanged archives, still
re-reads a changed one, and is what ``get_spark``'s workers run under;
its workers fork with ``PRELOAD`` already imported and still produce."""

from __future__ import annotations

import importlib
import sys
import zipfile
import zipimport

import pytest

from ticdc_spark import worker_daemon


@pytest.fixture
def zip_on_path(tmp_path, monkeypatch):
    """A zip holding module ``a`` at the front of ``sys.path``, under the
    guard (the stock method is restored afterwards)."""
    archive = tmp_path / "mods.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("a.py", "X = 1\n")
    monkeypatch.syspath_prepend(str(archive))
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    yield archive
    sys.path_importer_cache.pop(str(archive), None)
    for name in ("a", "b"):
        sys.modules.pop(name, None)


def _count_reads(monkeypatch) -> list:
    reads = []
    read = zipimport._read_directory

    def counting(path):
        reads.append(path)
        return read(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def test_unchanged_archive_is_not_reread(zip_on_path, monkeypatch):
    import a

    assert a.X == 1
    importlib.invalidate_caches()  # first call: reads and records the stat
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(zip_on_path) not in reads


def test_changed_archive_is_reread(zip_on_path, monkeypatch):
    import a  # noqa: F401

    importlib.invalidate_caches()
    with zipfile.ZipFile(zip_on_path, "a") as z:
        z.writestr("b.py", "Y = 2\n")
    reads = _count_reads(monkeypatch)
    importlib.invalidate_caches()
    assert str(zip_on_path) in reads
    import b

    assert b.Y == 2


def test_spark_workers_run_under_the_guard(spark):
    def probe(it):
        import zipimport

        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame(
            {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(0, 1, 1, 1).mapInPandas(probe, "m string").collect()
    assert [r.m for r in got] == ["ticdc_spark.worker_daemon"]


def test_spark_workers_fork_with_preload(spark):
    names = worker_daemon.PRELOAD

    def probe(it):
        import sys

        # read before this UDF imports anything itself
        missing = [n for n in names if n not in sys.modules]
        daemon = sys.modules.get("ticdc_spark.worker_daemon")
        preloaded = bool(getattr(daemon, "preloaded", False))
        import pandas as pd

        for _ in it:
            pass
        yield pd.DataFrame({"missing": [",".join(missing)],
                            "preloaded": [preloaded]})

    got = spark.range(0, 4, 1, 4).mapInPandas(
        probe, "missing string, preloaded boolean").collect()
    assert [(r.missing, r.preloaded) for r in got] == [("", True)] * 4


def test_live_produce_on_preloaded_workers(spark):
    """The produce path (sockets, the ctypes crc32c kernel, the Arrow
    row boundary) works in workers forked after the daemon loaded it."""
    import pyspark.sql.functions as F

    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kafka_client import KafkaConn
    from ticdc_spark.sinks.kafka_live import produce_frame

    with KafkaBroker(default_partitions=3) as b:
        frame = spark.range(0, 3000, 1, 3).select(
            F.lit("t").alias("topic"),
            (F.col("id") % 3).cast("int").alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).alias("value"),
            F.col("id").alias("seq"))
        produce_frame(frame, b.bootstrap)
        with KafkaConn.from_bootstrap(b.bootstrap, sasl=None) as c:
            for p in range(3):
                got = [int(r.key) for _, r in c.fetch_all("t", p)]
                assert got == list(range(p, 3000, 3))
