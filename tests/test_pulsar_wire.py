"""Pulsar binary protocol: protobuf codec, framing, live broker TCP."""

import pytest

from ticdc_spark.codec import pulsar_wire as pw
from ticdc_spark.sinks.pulsar_broker import PulsarBroker
from ticdc_spark.sinks.pulsar_client import PulsarConn


# ------------------------------------------------------------------ protobuf

def test_pb_roundtrip_scalars_and_nested():
    enc = pw.pb_encode({1: 5, 2: "topic", 3: {1: 7, 2: 9}, 4: [b"a", b"b"]})
    msg = pw.pb_decode(enc)
    assert pw.pb_one(msg, 1) == 5
    assert pw.pb_str(msg, 2) == "topic"
    nested = pw.pb_decode(pw.pb_one(msg, 3))
    assert (pw.pb_one(nested, 1), pw.pb_one(nested, 2)) == (7, 9)
    assert msg[4] == [b"a", b"b"]


def test_pb_known_wire_bytes():
    # field 1 varint 1 -> 0x08 0x01; field 2 string "a" -> 0x12 0x01 0x61
    assert pw.pb_encode({1: 1}) == b"\x08\x01"
    assert pw.pb_encode({2: "a"}) == b"\x12\x01a"
    assert pw.pb_encode({1: 300}) == b"\x08\xac\x02"


def test_pb_negative_int_as_64bit_varint():
    enc = pw.pb_encode({2: -1})
    assert pw.pb_one(pw.pb_decode(enc), 2) == (1 << 64) - 1  # int32 -1 on the wire


def test_base_command_type_matches_field():
    cmd = pw.cmd_producer("t", 3, 9)
    cmd_type, sub = pw.parse_base_command(cmd)
    assert cmd_type == pw.PRODUCER
    assert pw.pb_str(sub, 1) == "t"
    assert pw.pb_one(sub, 2) == 3


# ------------------------------------------------------------------ framing

def test_simple_frame_layout():
    cmd = pw.cmd_ping()
    frame = pw.frame_simple(cmd)
    import struct

    total, cmd_size = struct.unpack_from(">II", frame, 0)
    assert total == 4 + len(cmd) and cmd_size == len(cmd)
    assert frame[8:] == cmd


def test_payload_frame_crc_roundtrip_and_corruption():
    md = pw.message_metadata("p", 1, 0, "key")
    frame = pw.frame_payload(pw.cmd_send(1, 1), md, b"payload")
    command, metadata, payload = pw.parse_frame(frame[4:])
    assert payload == b"payload"
    assert pw.parse_message_metadata(metadata)["partition_key"] == "key"
    bad = bytearray(frame[4:])
    bad[-1] ^= 0xFF
    with pytest.raises(ValueError, match="crc mismatch"):
        pw.parse_frame(bytes(bad))


def test_batch_payload_roundtrip():
    items = [(b"v1", "k1"), (b"", None), (b"v3" * 100, "k3")]
    payload = pw.encode_batch_payload(items)
    assert pw.parse_batch_payload(payload, 3) == items
    with pytest.raises(Exception):
        pw.parse_batch_payload(payload + b"x", 3)


def test_message_metadata_properties():
    md = pw.message_metadata("p", 7, 123, None, [("a", "1"), ("b", "2")])
    parsed = pw.parse_message_metadata(md)
    assert parsed["producer_name"] == "p"
    assert parsed["sequence_id"] == 7
    assert parsed["publish_time"] == 123
    assert parsed["partition_key"] is None
    assert parsed["properties"] == [("a", "1"), ("b", "2")]


# ------------------------------------------------------------------ live broker

@pytest.fixture()
def broker():
    with PulsarBroker() as b:
        yield b


def test_live_produce_read(broker):
    with PulsarConn.from_service_url(broker.service_url) as c:
        pid = c.create_producer("t")
        assert c.send(pid, b"one", partition_key="k1") == 0
        assert c.send(pid, b"two") == 1
        msgs = c.read_all("t")
        assert [(m["payload"], m["partition_key"]) for m in msgs] == [
            (b"one", "k1"), (b"two", None)]
        assert c.read_all("empty-topic") == []


def test_live_batched_pipelined_send(broker):
    msgs = [(b"m%d" % i, "k%d" % (i % 3)) for i in range(2500)]
    with PulsarConn.from_service_url(broker.service_url) as c:
        pid = c.create_producer("tb")
        assert c.send_pipelined(pid, msgs, window=2, batch_size=100) == 2500
        assert broker.topic_size("tb") == 25  # one entry per batch
        got = c.read_all("tb", permits_per_flow=7)
        assert len(got) == 2500
        assert [m["payload"] for m in got] == [m[0] for m in msgs]
        assert got[1234]["partition_key"] == "k%d" % (1234 % 3)


def test_live_mixed_single_and_batch(broker):
    with PulsarConn.from_service_url(broker.service_url) as c:
        pid = c.create_producer("tm")
        c.send(pid, b"solo", partition_key="s")
        c.send_pipelined(pid, [(b"b1", None), (b"b2", "x")], batch_size=2)
        got = c.read_all("tm")
        assert [m["payload"] for m in got] == [b"solo", b"b1", b"b2"]
        assert got[0]["batch_index"] is None
        assert [m["batch_index"] for m in got[1:]] == [0, 1]


def test_live_corrupt_frame_error(broker):
    import socket as s
    import struct

    sock = s.create_connection((broker.host, broker.port))
    frame = bytearray(pw.frame_payload(pw.cmd_send(1, 0), b"\x08\x01", b"x"))
    frame[-1] ^= 0xFF
    sock.sendall(bytes(frame))
    hdr = sock.recv(4)
    (total,) = struct.unpack(">I", hdr)
    body = sock.recv(total)
    cmd_type, sub = pw.parse_base_command(pw.parse_frame(body)[0])
    assert cmd_type == pw.ERROR and "crc" in pw.pb_str(sub, 3)
    sock.close()


def test_live_concurrent_producers(broker):
    import threading

    def work(tid):
        with PulsarConn.from_service_url(broker.service_url) as c:
            pid = c.create_producer("shared")
            c.send_pipelined(pid, [(b"%d-%d" % (tid, i), None) for i in range(40)],
                             batch_size=10)

    threads = [threading.Thread(target=work, args=(t,)) for t in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with PulsarConn.from_service_url(broker.service_url) as c:
        got = c.read_all("shared")
    assert len(got) == 240
    assert broker.topic_size("shared") == 24


def test_producer_retry_survives_connection_drops():
    """Chaos: the broker kills connections mid-conversation; the produce
    task's writer (``pulsar_live.producer``) reconnects, re-registers its
    producer, and resends — at-least-once delivery (duplicates possible
    when the drop lands between append and receipt)."""
    from ticdc_spark import failpoint
    from ticdc_spark.sinks.pulsar_live import producer

    failpoint.disable_all()
    try:
        with PulsarBroker() as broker:
            failpoint.enable("pulsar/drop-connection", "3*return(1)")
            with producer(broker.service_url, batching_max_messages=4) as w:
                w.sleep = lambda s: None
                for i in range(6):
                    w.send(("t", [(b"m%d-%d" % (i, j), None)
                                  for j in range(8)]))
            failpoint.disable_all()

            with PulsarConn.from_service_url(broker.service_url) as c:
                got = {m["payload"] for m in c.read_all("t")}
            want = {b"m%d-%d" % (i, j) for i in range(6) for j in range(8)}
            assert got >= want  # every message delivered at least once
    finally:
        failpoint.disable_all()


def test_token_authentication():
    with PulsarBroker(token="secret-jwt") as b:
        with PulsarConn.from_service_url(b.service_url, token="secret-jwt") as c:
            pid = c.create_producer("t")
            assert c.send(pid, b"ok") == 0
        with pytest.raises(IOError, match="AuthenticationError|pulsar error"):
            PulsarConn.from_service_url(b.service_url, token="wrong")
        with pytest.raises(IOError):
            PulsarConn.from_service_url(b.service_url)  # no token at all
    # token-less broker still accepts anonymous connects
    with PulsarBroker() as b:
        with PulsarConn.from_service_url(b.service_url) as c:
            c.create_producer("t")


def test_pulsar_ssl_listener_with_token():
    """pulsar+ssl:// + token auth — real TLS session, pinned CA."""
    import ssl

    from ticdc_spark.codec.tlsutil import make_self_signed

    with PulsarBroker(tls=True, token="jwt") as b:
        assert b.service_url.startswith("pulsar+ssl://")
        with PulsarConn(b.host, b.port, token="jwt", tls_ca=b.ca_pem) as c:
            assert c.sock.version() is not None
            pid = c.create_producer("t")
            c.send(pid, b"enc")
            assert c.read_all("t")[0]["payload"] == b"enc"
        other_ca, _ = make_self_signed()
        with pytest.raises((ssl.SSLError, IOError)):
            PulsarConn(b.host, b.port, token="jwt", tls_ca=other_ca)


def test_pulsar_oauth2_auth():
    """Pulsar OAuth2 (reference `pkg/config/sink.go:581-597` wired in
    `pkg/sink/pulsar/factory.go:110-118`): client-credentials exchange
    against the issuer, access token presented as token auth on
    CONNECT; broker verifies HS256 signature, expiry, and audience."""
    from ticdc_spark.codec.oauth2 import MiniOAuth2Server, fetch_token, jwt_encode

    aud = "urn:pulsar:cluster-a"
    with MiniOAuth2Server("cid", "csec", jwt_secret="sek",
                          audience=aud) as issuer:
        with PulsarBroker(oauth2_jwt_secret="sek",
                          oauth2_audience=aud) as b:
            conf = {"issuer_url": issuer.token_url, "client_id": "cid",
                    "client_secret": "csec", "audience": aud,
                    "scope": "produce"}
            with PulsarConn.from_service_url(b.service_url,
                                             oauth2=conf) as c:
                pid = c.create_producer("t")
                c.send(pid, b"via-oauth2")
                assert c.read_all("t")[0]["payload"] == b"via-oauth2"

            # wrong audience: the issuer refuses the token request
            # (400 invalid_target, RFC 8707)
            import urllib.error

            bad = dict(conf, audience="urn:pulsar:other")
            with pytest.raises(urllib.error.HTTPError):
                PulsarConn.from_service_url(b.service_url, oauth2=bad)

            # a token minted for another audience (forged issuer) is
            # rejected by the BROKER's aud check
            forged = jwt_encode(
                {"iss": "mini-oauth2", "sub": "cid", "iat": 1_700_000_000,
                 "exp": 1_700_003_600, "aud": "urn:pulsar:other"}, "sek")
            with pytest.raises(IOError, match="oauth2"):
                PulsarConn.from_service_url(b.service_url, token=forged)

            # wrong signature rejected
            wrong_sig = jwt_encode(
                {"iss": "x", "sub": "cid", "iat": 1_700_000_000,
                 "exp": 1_700_003_600, "aud": aud}, "other-secret")
            with pytest.raises(IOError, match="oauth2"):
                PulsarConn.from_service_url(b.service_url, token=wrong_sig)

            # expired token rejected (exp before the broker's clock)
            expired = jwt_encode(
                {"iss": "mini-oauth2", "sub": "cid", "iat": 1, "exp": 2,
                 "aud": aud}, "sek")
            with pytest.raises(IOError, match="oauth2"):
                PulsarConn.from_service_url(b.service_url, token=expired)

        # client secret mismatch is refused at the issuer
        with pytest.raises(Exception):
            fetch_token(issuer.token_url, "cid", "wrong", audience=aud)
