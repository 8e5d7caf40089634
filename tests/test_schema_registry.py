"""Schema-registry wire clients: Confluent REST over real sockets, retry
semantics, cache behavior, Glue create-or-update + UUID headers.

Parity targets: `pkg/sink/codec/avro/confluent_schema_registry.go`,
`glue_schema_registry.go`, and the server behavior of the reference's
own `mock_schema_registry.go`.
"""

import json

import pytest

from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    FakeGlueClient,
    GlueSchemaManager,
    InMemoryConfluentRegistry,
    InMemoryTransport,
    RegistryError,
    parse_msg_header,
    registry_http_server,
    topic_name_to_schema_subject,
)

SCHEMA_A = json.dumps({
    "type": "record", "name": "t1", "namespace": "default.test",
    "fields": [{"name": "id", "type": "long"}],
})
SCHEMA_B = json.dumps({
    "type": "record", "name": "t1", "namespace": "default.test",
    "fields": [{"name": "id", "type": "long"},
               {"name": "v", "type": ["null", "string"], "default": None}],
})


def _mgr(registry=None, **kw):
    registry = registry or InMemoryConfluentRegistry()
    return ConfluentSchemaManager(
        "http://registry.local", transport=InMemoryTransport(registry),
        backoff_s=0.001, **kw), registry


# -- Confluent over real HTTP (socket-level protocol check) -----------------

def test_confluent_http_roundtrip():
    registry = InMemoryConfluentRegistry()
    with registry_http_server(registry) as url:
        mgr = ConfluentSchemaManager(url, backoff_s=0.001)
        subject = topic_name_to_schema_subject("cdc_test_t1", "-value")
        sid = mgr.register(subject, SCHEMA_A)
        assert sid == 1
        # identical schema -> same global id (idempotent re-register)
        assert mgr.register(subject, SCHEMA_A) == sid
        # evolved schema -> new id, new version
        sid2 = mgr.register(subject, SCHEMA_B)
        assert sid2 == 2
        # lookup by id returns the compacted schema text
        got = json.loads(mgr.lookup(subject, sid))
        assert got["fields"][0]["name"] == "id"
        # delete is idempotent-ish: first 200, second 404 (accepted)
        mgr.clear_registry(subject)
        mgr.clear_registry(subject)


def test_confluent_connectivity_probe_rejects_non_empty():
    class BadTransport:
        def request(self, method, url, body, headers):
            return 200, '{"unexpected": true}'

    with pytest.raises(RegistryError):
        ConfluentSchemaManager("http://x", transport=BadTransport())


# -- retry/backoff (httpRetry :420) ----------------------------------------

def test_confluent_retries_500_then_succeeds():
    mgr, registry = _mgr()
    registry.fail_next = 3  # three 500s, then healthy
    sid = mgr.register("s-value", SCHEMA_A)
    assert sid == 1


def test_confluent_gives_up_after_max_retries():
    mgr, registry = _mgr(max_retries=2)
    registry.fail_next = 10
    with pytest.raises(RegistryError, match="status 500"):
        mgr.register("s-value", SCHEMA_A)


def test_confluent_no_sleep_after_last_try(monkeypatch):
    """The backoff runs between tries only: three failed tries sleep
    twice, on the doubling schedule."""
    from ticdc_spark.codec import schema_registry

    class Down:
        def request(self, method, url, body, headers):
            if url.endswith(".local/"):  # the constructor's probe
                return 200, "{}"
            raise OSError("connection refused")

    sleeps = []
    monkeypatch.setattr(schema_registry.time, "sleep", sleeps.append)
    mgr = ConfluentSchemaManager("http://registry.local", transport=Down(),
                                 max_retries=3, backoff_s=0.05)
    with pytest.raises(RegistryError):
        mgr.register("s-value", SCHEMA_A)
    assert sleeps == [0.05, 0.1]


def test_confluent_client_error_is_final_no_retry():
    calls = []

    class Counting:
        def __init__(self, inner):
            self.inner = inner

        def request(self, method, url, body, headers):
            if method == "POST":
                calls.append(1)
                return 422, '{"error_code": 42201}'
            return self.inner.request(method, url, body, headers)

    registry = InMemoryConfluentRegistry()
    mgr = ConfluentSchemaManager(
        "http://x", transport=Counting(InMemoryTransport(registry)),
        backoff_s=0.001)
    with pytest.raises(RegistryError):
        mgr.register("s-value", SCHEMA_A)
    assert len(calls) == 1  # 4xx is not retried


# -- cache (GetCachedOrRegister :299) --------------------------------------

def test_get_cached_or_register_hits_until_version_bump():
    mgr, registry = _mgr()
    gen_calls = []

    def gen():
        gen_calls.append(1)
        return SCHEMA_A

    s1, h1 = mgr.get_cached_or_register("t-value", table_version=7, schema_gen=gen)
    s2, h2 = mgr.get_cached_or_register("t-value", table_version=7, schema_gen=gen)
    assert (s1, h1) == (s2, h2) and len(gen_calls) == 1  # cache hit
    # version bump -> regenerate + re-register; same schema -> same id/header
    s3, h3 = mgr.get_cached_or_register("t-value", table_version=8, schema_gen=gen)
    assert len(gen_calls) == 2 and h3 == h1


def test_confluent_header_wire_format():
    assert ConfluentSchemaManager.get_msg_header(1) == b"\x00\x00\x00\x00\x01"
    assert ConfluentSchemaManager.get_msg_header(0x01020304) == \
        b"\x00\x01\x02\x03\x04"


# -- Glue ------------------------------------------------------------------

def test_glue_register_create_then_update():
    mgr = GlueSchemaManager("default")
    v1 = mgr.register("cdc_test_t1", SCHEMA_A)
    # same definition -> same version id
    assert mgr.register("cdc_test_t1", SCHEMA_A) == v1
    v2 = mgr.register("cdc_test_t1", SCHEMA_B)
    assert v2 != v1
    assert mgr.lookup("cdc_test_t1", v1) == SCHEMA_A
    assert mgr.lookup("cdc_test_t1", v2) == SCHEMA_B
    with pytest.raises(RegistryError, match="not found"):
        mgr.lookup("cdc_test_t1", "00000000-0000-0000-0000-000000000000")


def test_glue_header_is_version3_uuid():
    mgr = GlueSchemaManager("default")
    vid = mgr.register("t", SCHEMA_A)
    header = mgr.get_msg_header(vid)
    assert header[0] == 3 and header[1] == 0 and len(header) == 18
    import uuid
    assert str(uuid.UUID(bytes=header[2:])) == vid


def test_glue_missing_registry_rejected():
    with pytest.raises(RegistryError):
        GlueSchemaManager("nope", FakeGlueClient("default"))


# -- integration with the avro schema generator ----------------------------

def test_registry_consistent_with_avro_binary_envelope():
    """The header the manager caches is the Confluent envelope prefix of
    an encoded message, and ``parse_msg_header`` reads it back."""
    from ticdc_spark.codec.avro_protocol import encode_row_key

    mgr, _ = _mgr()
    sid = mgr.register("cdc_test_t1-value", SCHEMA_A)
    header = mgr.get_msg_header(sid)
    assert parse_msg_header(header + b"\x0a") == (sid, 5)
    rec = encode_row_key(mgr, "cdc_test_t1", "test", "t1", {"id": 5})
    _, key_header = mgr.get_cached_or_register(
        "cdc_test_t1-key", 1, lambda: pytest.fail("cached"))
    assert rec[:5] == key_header and rec[5:] == b"\x0a"
    glue = GlueSchemaManager("default")
    vid = glue.register("t", SCHEMA_A)
    assert parse_msg_header(glue.get_msg_header(vid)) == (vid, 18)
    for bad in (b"", b"\x00\x00", b"\x01\x00\x00\x00\x01", b"\x03\x00"):
        with pytest.raises(ValueError, match="bad confluent envelope"):
            parse_msg_header(bad)
