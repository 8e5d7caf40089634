"""The shared endpoint lifecycle: every stand-in server stops cleanly
before it ever started, starts, and stops twice, each step promptly, and
leaves its port free."""

from __future__ import annotations

import socket
import threading

import pytest

from ticdc_spark.api import ApiServer
from ticdc_spark.codec.oauth2 import MiniOAuth2Server
from ticdc_spark.codec.schema_registry import (InMemoryConfluentRegistry,
                                               registry_http_server)
from ticdc_spark.sinks.azblob_server import MiniAzureBlobServer
from ticdc_spark.sinks.gcs_server import MiniGCSServer
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kdc_server import MiniKDC
from ticdc_spark.sinks.mysql_server import MiniMySQLServer
from ticdc_spark.sinks.pulsar_broker import PulsarBroker
from ticdc_spark.sinks.s3_server import MiniS3Server
from ticdc_spark.streaming.registry import ChangefeedRegistry

_ENDPOINTS = {
    "kafka": lambda tmp_path: KafkaBroker(),
    "pulsar": lambda tmp_path: PulsarBroker(),
    "mysql": lambda tmp_path: MiniMySQLServer(),
    "kdc": lambda tmp_path: MiniKDC(),
    "s3": lambda tmp_path: MiniS3Server(),
    "gcs": lambda tmp_path: MiniGCSServer(),
    "azblob": lambda tmp_path: MiniAzureBlobServer(),
    "oauth2": lambda tmp_path: MiniOAuth2Server("id", "secret", "jwt"),
    "registry": lambda tmp_path: registry_http_server(
        InMemoryConfluentRegistry()),
    "api": lambda tmp_path: ApiServer(
        ChangefeedRegistry(str(tmp_path / "reg"))),
}


def _within(step, limit_s: float = 2.0) -> None:
    """Run ``step`` on a daemon thread; fail if it has not returned
    within ``limit_s`` (a hung stop must fail the test, not hang it)."""
    t = threading.Thread(target=step, daemon=True)
    t.start()
    t.join(limit_s)
    assert not t.is_alive(), f"{step.__qualname__} did not return"


@pytest.mark.parametrize("name", sorted(_ENDPOINTS))
def test_stop_before_start_and_twice_after(name, tmp_path):
    ep = _ENDPOINTS[name](tmp_path)
    _within(ep.stop)  # never started: a no-op
    _within(ep.start)
    port = ep.port
    _within(ep.stop)
    _within(ep.stop)  # already stopped: a no-op
    with socket.socket() as s:
        s.bind(("127.0.0.1", port))


@pytest.mark.parametrize("name", sorted(_ENDPOINTS))
def test_start_then_stop_is_prompt(name, tmp_path):
    """stop() does not wait out a long serve-loop poll interval."""
    import time

    ep = _ENDPOINTS[name](tmp_path)
    t0 = time.perf_counter()
    ep.start()
    ep.stop()
    assert time.perf_counter() - t0 < 0.25
