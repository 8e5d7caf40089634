"""Kafka wire protocol: codec vectors, record batches, live broker TCP."""

import hashlib
import random
import struct

import pytest

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.codec.kafka_wire import Reader, Record, crc32c, enc_varint
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn


# ------------------------------------------------------------------ crc32c

def test_crc32c_vectors():
    # RFC 3720 §B.4 / common CRC-32C check values
    assert crc32c(b"") == 0
    assert crc32c(b"123456789") == 0xE3069283
    assert crc32c(b"a") == 0xC1D04330
    assert crc32c(b"\x00" * 32) == 0x8A9136AA
    assert crc32c(bytes(range(32))) == 0x46DD794E


def test_crc32c_incremental_matches_oneshot():
    data = bytes(range(256)) * 7
    # slicing-by-8 path must agree with the bytewise tail path
    assert crc32c(data) == crc32c(data[:13] + data[13:])
    assert crc32c(data[:7]) == crc32c(data[:7])  # pure tail loop


# ------------------------------------------------------------------ varint

@pytest.mark.parametrize("v", [0, 1, -1, 63, 64, -64, -65, 127, 128, 300, -300,
                               1 << 31, -(1 << 31), (1 << 62) - 1, -(1 << 62)])
def test_varint_zigzag_roundtrip(v):
    r = Reader(enc_varint(v))
    assert r.varint() == v


def test_varint_known_bytes():
    # zigzag: 0->0, -1->1, 1->2, -2->3
    assert enc_varint(0) == b"\x00"
    assert enc_varint(-1) == b"\x01"
    assert enc_varint(1) == b"\x02"
    assert enc_varint(-2) == b"\x03"
    assert enc_varint(150) == b"\xac\x02"  # 300 varint


# ------------------------------------------------------------------ record batch

def _recs():
    return [
        Record(b"k1", b"v1" * 50, [("h1", b"x"), ("h2", None)], timestamp_delta=5),
        Record(None, b"tombstone-value"),
        Record(b"key-only", None),
        Record(b"", b""),
    ]


@pytest.mark.parametrize("comp", ["none", "gzip", "lz4", "zstd"])
def test_record_batch_roundtrip(comp):
    batch = kw.encode_record_batch(_recs(), base_offset=42, base_timestamp=1000,
                                   compression=comp)
    [(base, recs)] = kw.decode_record_batches(batch)
    assert base == 42
    assert [r.key for r in recs] == [b"k1", None, b"key-only", b""]
    assert [r.value for r in recs] == [b"v1" * 50, b"tombstone-value", None, b""]
    assert recs[0].headers == [("h1", b"x"), ("h2", None)]
    assert [r.offset_delta for r in recs] == [0, 1, 2, 3]
    assert recs[0].timestamp_delta == 1005  # decoder returns absolute ts


def _golden_records(n=15_360):
    """Records of 150-450 B (one of 9,000 B per 16), null keys and values,
    headers with null and empty values, and timestamp deltas on both
    sides of the 8,191 varint-table edge."""
    rng = random.Random(8)
    recs = []
    for i in range(n):
        kind = i % 16
        key = None if kind == 1 else rng.randbytes(rng.randrange(0, 40))
        value = (None if kind == 2 else
                 rng.randbytes(9_000 if kind == 4 else rng.randrange(150, 450)))
        headers = ([] if kind < 12 else
                   [("hü", None if kind == 13 else rng.randbytes(5)),
                    ("k%d" % kind, b"")])
        ts = (rng.choice((-5, 0, 127, 128, 8190, 8191, 70_000, 1 << 40))
              if kind == 3 else i // 4)
        recs.append(Record(key, value, headers, ts))
    return recs


def test_record_batch_bytes_match_golden_digest():
    """The encoder's bytes are pinned: this digest was taken from the
    record-by-record encoder the varint table replaced, over one whole-set
    batch (offset deltas past 8,191) and the live produce's 512-record
    batches."""
    recs = _golden_records()
    h = hashlib.sha256()
    h.update(kw.encode_record_batch(recs, base_offset=7,
                                    base_timestamp=1_700_000_000_000))
    for i in range(0, len(recs), 512):
        h.update(kw.encode_record_batch(recs[i:i + 512]))
    assert h.hexdigest() == (
        "ec70e18db6d81df2904849a97ab7cc6a6f63f5e64f798e1f8e462f597b4651dd")


@pytest.mark.parametrize("comp", ["none", "zstd"])
def test_record_batch_golden_roundtrip(comp):
    recs = _golden_records()
    [(base, got)] = kw.decode_record_batches(kw.encode_record_batch(
        recs, base_offset=7, base_timestamp=1000, compression=comp))
    assert base == 7
    assert [(r.key, r.value, r.headers, r.timestamp_delta - 1000, r.offset_delta)
            for r in got] == [(r.key, r.value, r.headers, r.timestamp_delta, i)
                              for i, r in enumerate(recs)]


def test_record_batch_crc_detects_corruption():
    batch = bytearray(kw.encode_record_batch(_recs()))
    batch[-1] ^= 0xFF
    with pytest.raises(ValueError, match="crc mismatch"):
        kw.decode_record_batches(bytes(batch))


def test_record_batch_magic_guard():
    batch = bytearray(kw.encode_record_batch(_recs()))
    batch[16] = 1  # magic byte position
    with pytest.raises(ValueError, match="magic"):
        kw.decode_record_batches(bytes(batch))


def test_multi_batch_record_set():
    b1 = kw.encode_record_batch([Record(b"a", b"1")], base_offset=0)
    b2 = kw.encode_record_batch([Record(b"b", b"2"), Record(b"c", b"3")], base_offset=1)
    out = kw.decode_record_batches(b1 + b2)
    assert [(o, len(rs)) for o, rs in out] == [(0, 1), (1, 2)]


def test_zstd_batch_without_content_size(monkeypatch):
    """A streaming zstd frame (no Frame_Content_Size, RFC 8878 §3.1.1.1)
    is a legal batch payload: other producers write them."""
    import pyarrow as pa

    def streaming_zstd(codec, payload):
        sink = pa.BufferOutputStream()
        with pa.CompressedOutputStream(sink, "zstd") as out:
            out.write(payload)
        frame = sink.getvalue().to_pybytes()
        assert frame[4] >> 6 == 0 and not frame[4] & 0x20  # no content size
        return frame

    monkeypatch.setattr(kw, "_compress", streaming_zstd)
    batch = kw.encode_record_batch(_recs(), compression="zstd")
    monkeypatch.undo()
    [(_, recs)] = kw.decode_record_batches(batch)
    assert [r.value for r in recs] == [b"v1" * 50, b"tombstone-value", None, b""]


# ------------------------------------------------------------------ framing

def test_request_response_framing():
    req = kw.frame_request(kw.API_PRODUCE, 3, 7, "cid", b"BODY")
    (size,) = struct.unpack(">i", req[:4])
    assert size == len(req) - 4
    api_key, ver, corr, cid, r = kw.parse_request_header(req[4:])
    assert (api_key, ver, corr, cid) == (kw.API_PRODUCE, 3, 7, "cid")
    assert r.raw(4) == b"BODY"

    resp = kw.frame_response(kw.API_PRODUCE, 3, 7, b"OK")
    rr = Reader(resp[4:])
    assert rr.i32() == 7 and rr.raw(2) == b"OK"


def test_produce_request_codec_roundtrip():
    rs = kw.encode_record_batch([Record(b"k", b"v")])
    body = kw.enc_produce_request(3, {"t": {0: rs, 3: rs}}, acks=-1)
    txn, acks, timeout, td = kw.dec_produce_request(Reader(body), 3)
    assert txn is None and acks == -1 and set(td["t"]) == {0, 3}
    assert td["t"][0] == rs


# ------------------------------------------------------------------ live broker

@pytest.fixture()
def broker():
    with KafkaBroker(default_partitions=2) as b:
        yield b


def test_live_handshake_metadata_produce_fetch(broker):
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        assert kw.API_PRODUCE in c.api_versions
        md = c.metadata(["topic-a"])  # auto-created
        assert len(md["topics"]["topic-a"]["partitions"]) == 2
        base = c.produce("topic-a", 1, [Record(b"k%d" % i, b"v%d" % i) for i in range(5)])
        assert base == 0
        base2 = c.produce("topic-a", 1, [Record(b"k5", b"v5")], compression="lz4")
        assert base2 == 5
        got = c.fetch_all("topic-a", 1)
        assert [o for o, _ in got] == list(range(6))
        assert got[5][1].value == b"v5"
        assert c.fetch_all("topic-a", 1, from_offset=4) == got[4:]
        assert c.fetch_all("topic-a", 0) == []


def test_live_corrupt_batch_rejected(broker, monkeypatch):
    bad_crc = bytearray(kw.encode_record_batch([Record(b"a", b"b")]))
    bad_crc[-1] ^= 0xFF
    # a valid CRC32C over an LZ4 frame whose one block is garbage: the
    # codec's error must map to CORRUPT_MESSAGE, not drop the connection
    garbage_frame = (bytes.fromhex("04224d18604082") + b"\x08\x00\x00\x00"
                     + b"\xff" * 8 + b"\x00" * 4)
    monkeypatch.setattr(kw, "_compress", lambda codec, payload: garbage_frame)
    bad_lz4 = kw.encode_record_batch([Record(b"a", b"b")], compression="lz4")
    monkeypatch.undo()
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        for rs in (bytes(bad_crc), bad_lz4):
            resp = kw.dec_produce_response(c._call(
                kw.API_PRODUCE, 3, kw.enc_produce_request(3, {"t": {0: rs}})), 3)
            assert resp["t"][0] == (2, -1)  # CORRUPT_MESSAGE
        # log untouched
        assert broker.high_watermark("t", 0) == 0


def test_live_unknown_partition(broker):
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        rs = kw.encode_record_batch([Record(b"a", b"b")])
        resp = kw.dec_produce_response(c._call(
            kw.API_PRODUCE, 3, kw.enc_produce_request(3, {"t": {9: rs}})), 3)
        assert resp["t"][9] == (3, -1)  # UNKNOWN_TOPIC_OR_PARTITION


def test_live_concurrent_producers(broker):
    import threading

    def work(tid):
        with KafkaConn.from_bootstrap(broker.bootstrap) as c:
            for i in range(20):
                c.produce("shared", 0, [Record(b"%d" % tid, b"%d" % i)])

    threads = [threading.Thread(target=work, args=(t,)) for t in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        got = c.fetch_all("shared", 0)
    assert [o for o, _ in got] == list(range(160))  # contiguous under contention


def test_producer_retry_survives_connection_drops():
    """Chaos: the broker kills connections mid-conversation; the produce
    task's writer (``kafka_live.producer``, reference defaultMaxRetry=5)
    reconnects and resends — every message lands at least once, offsets
    stay contiguous."""
    from ticdc_spark import failpoint
    from ticdc_spark.sinks.kafka_live import producer

    failpoint.disable_all()
    try:
        with KafkaBroker(default_partitions=1) as broker:
            # drop 4 requests: under the 5-retry budget even in the worst
            # case where every reconnect handshake eats a drop too
            failpoint.enable("kafka/drop-connection", "4*return(1)")
            # acks=1: the plain (non-idempotent) at-least-once path
            with producer(broker.bootstrap, acks=1) as w:
                w.sleep = lambda s: None
                for i in range(20):
                    w.send((("t", 0), [Record(b"k%d" % i, b"v%d" % i)]))
            failpoint.disable_all()

            with KafkaConn.from_bootstrap(broker.bootstrap) as c:
                got = c.fetch_all("t", 0)
            offsets = [o for o, _ in got]
            assert offsets == list(range(len(offsets)))  # contiguous
            values = {r.value for _, r in got}
            # at-least-once: every produced value present (duplicates OK
            # when the drop hit between append and receipt)
            assert values >= {b"v%d" % i for i in range(20)}
            assert len(got) >= 20
    finally:
        failpoint.disable_all()


# ------------------------------------------------------------------ admin

def test_create_topics_and_describe_configs():
    from ticdc_spark.sinks.kafka_client import (adjust_options, create_topic,
                                                describe_configs)

    with KafkaBroker(default_partitions=4) as broker:
        with KafkaConn.from_bootstrap(broker.bootstrap) as c:
            # AdjustOptions, missing topic: broker message.max.bytes adopted,
            # topic created with defaultPartitionNum=3
            opts = adjust_options(c, "fresh")
            assert opts == {"max_message_bytes": 1048588, "partition_num": 3}
            assert len(c.metadata(["fresh"])["topics"]["fresh"]["partitions"]) == 3
            # new topics inherit broker max.message.bytes
            assert describe_configs(c, kw.RESOURCE_TOPIC, "fresh",
                                    ["max.message.bytes"]) == {
                "max.message.bytes": "1048588"}

            # AdjustOptions, existing topic: its own max.message.bytes wins,
            # partition-num reconciles against the real count
            create_topic(c, "cfgd", 8, configs={"max.message.bytes": "2048"})
            assert adjust_options(c, "cfgd") == {
                "max_message_bytes": 2048, "partition_num": 8}
            assert adjust_options(c, "cfgd", partition_num=5)["partition_num"] == 5
            with pytest.raises(ValueError, match="partition-num"):
                adjust_options(c, "cfgd", partition_num=9)

            with pytest.raises(FileExistsError):
                create_topic(c, "cfgd", 2)
            with pytest.raises(IOError, match="error 37"):
                create_topic(c, "zero", 0)
            # validate_only leaves no topic behind
            create_topic(c, "ghost", 2, validate_only=True)
            assert "ghost" not in broker.topics


# ------------------------------------------------------------------ sasl

def test_scram_sha256_rfc7677_vector():
    from ticdc_spark.codec import scram

    cf = scram.client_first_message("user", "rOprNGfwEbeRWgbNEkqO")
    assert cf == "n,,n=user,r=rOprNGfwEbeRWgbNEkqO"
    sf = ("r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,"
          "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    final, server_sig = scram.client_final_message(cf, sf, "pencil")
    assert final.endswith("p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    ok, sfin = scram.server_verify_final(cf, sf, final, "pencil")
    assert ok and sfin == "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="
    assert scram.client_check_server_final(sfin, server_sig)
    assert not scram.server_verify_final(cf, sf, final, "wrong")[0]


def test_sasl_gates_apis_and_authenticates():
    with KafkaBroker(default_partitions=2, sasl_users={"cdc": "pw1"}) as b:
        # pre-auth API use is rejected (ILLEGAL_SASL_STATE shape)
        c = KafkaConn.from_bootstrap(b.bootstrap)
        with pytest.raises(Exception):
            c.metadata(["t"])
        c.close()

        with KafkaConn.from_bootstrap(b.bootstrap, sasl=("PLAIN", "cdc", "pw1")) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1
        with KafkaConn.from_bootstrap(
                b.bootstrap, sasl=("SCRAM-SHA-256", "cdc", "pw1")) as c:
            assert c.produce("t", 0, [Record(b"k2", b"v2")]) == 1

        for mech in ("PLAIN", "SCRAM-SHA-256"):
            with pytest.raises(IOError, match="failed"):
                KafkaConn.from_bootstrap(b.bootstrap, sasl=(mech, "cdc", "bad"))
        # SCRAM-SHA-512 is a supported mechanism too
        with KafkaConn.from_bootstrap(
                b.bootstrap, sasl=("SCRAM-SHA-512", "cdc", "pw1")) as c:
            assert c.produce("t", 0, [Record(b"k3", b"v3")]) >= 0
        with pytest.raises(IOError, match="failed"):
            KafkaConn.from_bootstrap(b.bootstrap,
                                     sasl=("SCRAM-SHA-512", "cdc", "bad"))
        with pytest.raises(IOError, match="rejected"):
            KafkaConn.from_bootstrap(b.bootstrap,
                                     sasl=("GSSAPI", "cdc", "pw1"))
        with pytest.raises(IOError, match="failed"):
            KafkaConn.from_bootstrap(b.bootstrap,
                                     sasl=("PLAIN", "nobody", "pw1"))


def test_sasl_disabled_broker_rejects_handshake():
    with KafkaBroker() as b:
        with pytest.raises(IOError, match="rejected"):
            KafkaConn.from_bootstrap(b.bootstrap, sasl=("PLAIN", "u", "p"))


def test_distributed_produce_fetch_under_sasl(spark, sf_dir):
    """The whole distributed produce/fetch path authenticates: every
    executor connection runs the SCRAM exchange before producing, and
    the fetch plan's connections do too."""
    from pyspark.sql import functions as F

    from ticdc_spark.sinks.kafka_live import fetch_df, produce_frame

    sasl = ("SCRAM-SHA-256", "cdc", "wire-pw")
    with KafkaBroker(default_partitions=4, sasl_users={"cdc": "wire-pw"}) as b:
        frame = spark.range(200).select(
            F.lit("t").alias("topic"),
            (F.col("id") % 4).cast("int").alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).alias("value"),
        ).repartition(8)
        produce_frame(frame, b.bootstrap, sasl=sasl)
        got = fetch_df(spark, b.bootstrap, [("t", p) for p in range(4)], sasl=sasl)
        assert got.count() == 200
        # without credentials the same plan fails closed
        bad = fetch_df(spark, b.bootstrap, [("t", 0)])
        with pytest.raises(Exception):
            bad.count()


def test_list_offsets_earliest_latest(broker):
    from ticdc_spark.sinks.kafka_client import list_offset

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        c.produce("lo", 0, [Record(b"k", b"v%d" % i) for i in range(7)])
        assert list_offset(c, "lo", 0, kw.OFFSET_EARLIEST) == 0
        assert list_offset(c, "lo", 0, kw.OFFSET_LATEST) == 7
        with pytest.raises(IOError, match="error 3"):
            list_offset(c, "lo", 9)
        # timestamp lookup: all 7 records carry base_timestamp 0, so a
        # future ts finds nothing (-1) and ts<=0 finds offset 0
        from ticdc_spark.sinks.kafka_client import offset_for_timestamp
        assert offset_for_timestamp(c, "lo", 0, 12345) == (-1, -1)
        assert offset_for_timestamp(c, "lo", 0, 0) == (0, 0)


# ------------------------------------------------------------------ tls

def test_tls_and_sasl_ssl_listener():
    """SSL listener with a pinned CA (enable-tls + ca-path semantics):
    SASL_SSL works end to end, plaintext clients and wrong CAs fail the
    handshake, and the payload path is byte-identical over TLS."""
    import ssl

    from ticdc_spark.codec.tlsutil import make_self_signed

    with KafkaBroker(default_partitions=2, tls=True,
                     sasl_users={"cdc": "pw"}) as b:
        assert b.ca_pem is not None
        with KafkaConn.from_bootstrap(
                b.bootstrap, tls_ca=b.ca_pem,
                sasl=("SCRAM-SHA-256", "cdc", "pw")) as c:
            assert c.sock.version() is not None  # real TLS session
            c.produce("t", 0, [Record(b"k", b"v1"), Record(None, b"v2")],
                      compression="lz4")
            got = c.fetch_all("t", 0)
            assert [(r.key, r.value) for _, r in got] == [
                (b"k", b"v1"), (None, b"v2")]
        with pytest.raises(Exception):
            KafkaConn.from_bootstrap(b.bootstrap)  # plaintext vs TLS
        other_ca, _ = make_self_signed()
        with pytest.raises(ssl.SSLError):
            KafkaConn.from_bootstrap(b.bootstrap, tls_ca=other_ca)


def test_tls_without_sasl():
    with KafkaBroker(default_partitions=1, tls=True) as b:
        with KafkaConn.from_bootstrap(b.bootstrap, tls_ca=b.ca_pem) as c:
            assert c.produce("t", 0, [Record(b"a", b"b")]) == 0


def test_distributed_roundtrip_over_sasl_ssl(spark, sf_dir):
    """The full distributed produce/fetch under SASL_SSL: every executor
    connection does the TLS handshake + SCRAM exchange."""
    from pyspark.sql import functions as F

    from ticdc_spark.sinks.kafka_live import fetch_df, produce_frame

    sasl = ("SCRAM-SHA-256", "cdc", "pw")
    with KafkaBroker(default_partitions=2, tls=True,
                     sasl_users={"cdc": "pw"}) as b:
        frame = spark.range(60).select(
            F.lit("t").alias("topic"),
            (F.col("id") % 2).cast("int").alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).alias("value"))
        produce_frame(frame, b.bootstrap, sasl=sasl, tls_ca=b.ca_pem)
        got = fetch_df(spark, b.bootstrap, [("t", 0), ("t", 1)],
                       sasl=sasl, tls_ca=b.ca_pem)
        assert got.count() == 60


def test_oauthbearer_with_live_token_endpoint():
    """The reference's OAUTHBEARER flow: client-credentials grant against
    a real HTTP token endpoint -> HS256 JWT -> RFC 7628 SASL response;
    the broker verifies signature and expiry."""
    from ticdc_spark.codec import oauth2

    with oauth2.MiniOAuth2Server("cdc-client", "cdc-secret", "jwt-hs256-key") as idp:
        with KafkaBroker(default_partitions=1, sasl_users={},
                         oauth_jwt_secret="jwt-hs256-key") as b:
            with KafkaConn.from_bootstrap(
                    b.bootstrap,
                    sasl=("OAUTHBEARER", idp.token_url,
                          "cdc-client:cdc-secret")) as c:
                assert c.produce("t", 0, [Record(b"k", b"v")]) == 0
            # wrong client secret -> the token endpoint refuses (401)
            with pytest.raises(Exception):
                KafkaConn.from_bootstrap(
                    b.bootstrap,
                    sasl=("OAUTHBEARER", idp.token_url, "cdc-client:wrong"))
            # forged token (wrong signing key) -> broker rejects
            forged = oauth2.jwt_encode(
                {"sub": "x", "exp": 1_700_003_600}, "other-key")
            from ticdc_spark.codec import kafka_wire as _kw

            conn = KafkaConn.from_bootstrap(b.bootstrap)
            _kw.dec_sasl_handshake_response(conn._call(
                _kw.API_SASL_HANDSHAKE, 1,
                _kw.enc_sasl_handshake_request(1, "OAUTHBEARER")), 1)
            err, msg, body = _kw.dec_sasl_authenticate_response(conn._call(
                _kw.API_SASL_AUTHENTICATE, 0,
                _kw.enc_sasl_authenticate_request(
                    0, oauth2.oauthbearer_initial_response(forged))), 0)
            assert err == _kw.ERR_SASL_AUTHENTICATION_FAILED
            assert b"invalid_token" in body
            conn.close()
            # expired token rejected too
            expired = oauth2.jwt_encode(
                {"sub": "x", "exp": 1_700_000_000}, "jwt-hs256-key")
            assert oauth2.jwt_verify(expired, "jwt-hs256-key",
                                     1_700_000_100) is None


def test_jwt_roundtrip_and_tamper():
    from ticdc_spark.codec import oauth2

    tok = oauth2.jwt_encode({"sub": "a", "exp": 2_000_000_000}, "k")
    claims = oauth2.jwt_verify(tok, "k", 1_900_000_000)
    assert claims["sub"] == "a"
    assert oauth2.jwt_verify(tok, "other", 1_900_000_000) is None
    h, p, s = tok.split(".")
    assert oauth2.jwt_verify(f"{h}.{p}x.{s}", "k", 1_900_000_000) is None
    resp = oauth2.oauthbearer_initial_response("T0K")
    assert oauth2.parse_oauthbearer_response(resp) == "T0K"
    assert oauth2.parse_oauthbearer_response(b"garbage") is None


def test_truncated_tail_batch_keeps_log_consistent(broker):
    """A record set whose trailing batch is truncated mid-header must not
    corrupt the log: complete batches append once with contiguous base
    offsets, next_offset advances, and the connection stays alive."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        good = kw.encode_record_batch([Record(b"k0", b"v0"), Record(b"k1", b"v1")])
        tail = kw.encode_record_batch([Record(b"k2", b"v2")])
        # cut the second batch inside its header (<12 bytes of tail left
        # after the first batch) — decode_record_batches tolerates this
        rs = good + tail[:8]
        resp = kw.dec_produce_response(c._call(
            kw.API_PRODUCE, 3, kw.enc_produce_request(3, {"tt": {0: rs}})), 3)
        assert resp["tt"][0] == (0, 0)
        # a follow-up produce must get base offset 2, not a duplicate 0
        base = c.produce("tt", 0, [Record(b"k2", b"v2")])
        assert base == 2
        got = c.fetch_all("tt", 0)
        assert [o for o, _ in got] == [0, 1, 2]


def test_produce_acks0_sends_no_response(broker):
    """acks=0 is fire-and-forget: the broker appends but must NOT reply,
    or a spec-conforming client's correlation ids desynchronize."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        rs = kw.encode_record_batch([Record(b"a", b"b")])
        c._corr += 1
        c.sock.sendall(kw.frame_request(
            kw.API_PRODUCE, 3, c._corr, c.client_id,
            kw.enc_produce_request(3, {"t0": {0: rs}}, acks=0)))
        # next call reuses the same socket; any stray produce response
        # would surface as a correlation-id mismatch here
        md = c.metadata(["t0"])
        assert "t0" in md["topics"]
        assert broker.high_watermark("t0", 0) == 1


def test_scram_saslname_escaping():
    """RFC 5802 §5.1: ',' and '=' in usernames travel as =2C/=3D; a
    username containing both authenticates end-to-end over SCRAM."""
    from ticdc_spark.codec import scram as s
    assert s.saslname_escape("a,b=c") == "a=2Cb=3Dc"
    assert s.saslname_unescape("a=2Cb=3Dc") == "a,b=c"
    with pytest.raises(ValueError):
        s.saslname_unescape("bad=4Dname")
    assert "n=we=2Cird=3Du," in s.client_first_message("we,ird=u", "nonce")

    users = {"we,ird=u": "pw"}
    with KafkaBroker(sasl_users=users) as b:
        with KafkaConn.from_bootstrap(
                b.bootstrap,
                sasl=("SCRAM-SHA-256", "we,ird=u", "pw")) as c:
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1


# --------------------------------------------------- flexible versions


def test_flexible_primitives_roundtrip():
    assert kw.enc_uvarint(0) == b"\x00"
    assert kw.enc_uvarint(127) == b"\x7f"
    assert kw.enc_uvarint(300) == b"\xac\x02"
    r = Reader(kw.enc_uvarint(300))
    assert r.uvarint() == 300
    w = kw.Writer(flexible=True)
    w.string(None)
    w.string("")
    w.string("topic-a")
    w.bytes_(b"xyz")
    buf = w.done()
    assert buf[:2] == b"\x00\x01"  # null, then empty
    r = Reader(buf, flexible=True)
    assert r.string() is None and r.string() == ""
    assert r.string() == "topic-a"
    assert r.bytes_() == b"xyz"
    # tagged fields: unknown tags must be skipped cleanly
    tagged = kw.enc_uvarint(2) + kw.enc_uvarint(5) + kw.enc_uvarint(3) + b"abc" \
        + kw.enc_uvarint(9) + kw.enc_uvarint(1) + b"z" + b"\xde\xad"
    r = Reader(tagged, flexible=True)
    r.skip_tags()
    assert r.raw(2) == b"\xde\xad"


def test_produce_v9_fetch_v12_codec_roundtrip():
    rs = kw.encode_record_batch([Record(b"k", b"v")])
    body = kw.enc_produce_request(9, {"t": {0: rs}}, acks=-1)
    txn, acks, _, data = kw.dec_produce_request(Reader(body), 9)
    assert txn is None and acks == -1 and data == {"t": {0: rs}}
    resp = kw.enc_produce_response(9, {"t": {0: (0, 42)}})
    assert kw.dec_produce_response(Reader(resp), 9) == {"t": {0: (0, 42)}}

    fbody = kw.enc_fetch_request(12, [("t", 1, 5, 1 << 26)], isolation=1)
    assert kw.dec_fetch_request(Reader(fbody), 12) == (
        1, 0, -1, [("t", 1, 5, 1 << 26)], [])
    fresp = kw.enc_fetch_response(12, [("t", 1, 0, 9, rs)])
    assert kw.dec_fetch_response(Reader(fresp), 12) == (
        0, 0, [("t", 1, 0, 9, 9, [], rs)])
    # 7-tuple form carries lso + aborted ranges through
    fresp = kw.enc_fetch_response(12, [("t", 1, 0, 9, rs, 4, [(1000, 2)])])
    assert kw.dec_fetch_response(Reader(fresp), 12) == (
        0, 0, [("t", 1, 0, 9, 4, [(1000, 2)], rs)])


def test_apiversions_v3_negotiation_and_flexible_live():
    """ApiVersions v3 exchange picks Produce v9 / Fetch v12; the live
    roundtrip runs entirely on flexible frames."""
    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            assert c._ver[kw.API_PRODUCE] == 9
            assert c._ver[kw.API_FETCH] == 12
            assert c._ver[kw.API_LIST_OFFSETS] == 7
            base = c.produce("t", 0, [Record(b"k%d" % i, b"v%d" % i)
                                      for i in range(4)])
            assert base == 0
            got = c.fetch_all("t", 0)
            assert [o for o, _ in got] == [0, 1, 2, 3]
            assert got[3][1].value == b"v3"


def test_flexible_only_broker_rejects_classic_versions():
    """A modern broker advertising only Produce>=9 / Fetch>=12: the
    client negotiates up and everything works; a classic-version call is
    answered UNSUPPORTED_VERSION."""
    with KafkaBroker(flexible_only=True) as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            assert c._ver[kw.API_PRODUCE] == 9 and c._ver[kw.API_FETCH] == 12
            c.produce("t", 0, [Record(b"k", b"v")], compression="lz4")
            assert len(c.fetch_all("t", 0)) == 1
            # hand-rolled classic Produce v3 -> error 35
            rs = kw.encode_record_batch([Record(b"a", b"b")])
            r = c._call(kw.API_PRODUCE, 3,
                        kw.enc_produce_request(3, {"t": {0: rs}}))
            assert r.i16() == kw.ERR_UNSUPPORTED_VERSION


def test_broker_refuses_versions_without_a_layout(broker):
    """The broker advertises Metadata 1..9 and Produce 3..9, but the codec
    lays out only the classic floor and the flexible version of each: a
    version in between is answered UNSUPPORTED_VERSION, not with another
    version's body."""
    assert broker.supported[kw.API_METADATA] == (1, 9)
    assert broker.supported[kw.API_PRODUCE] == (3, 9)
    rs = kw.encode_record_batch([Record(b"k", b"v")])
    # Metadata v4 adds allow_auto_topic_creation to the v1 body
    metadata_v4 = kw.enc_metadata_request(1, ["t"]) + b"\x01"
    # Produce v5's request body is the v3 one
    produce_v5 = kw.enc_produce_request(3, {"t": {0: rs}})
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        for api, version, body in ((kw.API_METADATA, 4, metadata_v4),
                                   (kw.API_PRODUCE, 5, produce_v5)):
            r = c._call(api, version, body)
            assert r.i16() == kw.ERR_UNSUPPORTED_VERSION
    assert broker.high_watermark("t", 0) == 0


def test_list_offsets_by_timestamp_live(broker):
    from ticdc_spark.sinks.kafka_client import offset_for_timestamp

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        # two batches at distinct base timestamps
        c.produce("ts", 0, [Record(b"k", b"v0"), Record(b"k", b"v1")],
                  base_timestamp=1000)
        c.produce("ts", 0, [Record(b"k", b"v2")], base_timestamp=2000)
        assert offset_for_timestamp(c, "ts", 0, 500) == (1000, 0)
        assert offset_for_timestamp(c, "ts", 0, 1000) == (1000, 0)
        assert offset_for_timestamp(c, "ts", 0, 1001) == (2000, 2)
        assert offset_for_timestamp(c, "ts", 0, 2001) == (-1, -1)


def test_idempotent_producer_dedups_retry(broker):
    """KIP-98: a retried batch with the same (pid, sequence) appends
    nothing and answers the ORIGINAL base offset; a sequence gap is
    rejected OUT_OF_ORDER_SEQUENCE; independent pids don't interact."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        pid = c.init_producer_id()
        assert pid[0] >= 1000 and pid[1] == 0
        recs = [Record(b"k", b"v%d" % i) for i in range(3)]
        base = c.produce("idem", 0, recs, producer=pid, base_sequence=0)
        assert base == 0
        # exact retry -> deduped, same offset, nothing appended
        assert c.produce("idem", 0, recs, producer=pid, base_sequence=0) == 0
        assert broker.high_watermark("idem", 0) == 3
        # next in sequence appends
        assert c.produce("idem", 0, [Record(b"k", b"v3")],
                         producer=pid, base_sequence=3) == 3
        # sequence gap -> error 45
        with pytest.raises(IOError, match="error_code=45"):
            c.produce("idem", 0, [Record(b"k", b"v9")],
                      producer=pid, base_sequence=9)
        # another pid on the same partition is tracked independently
        pid2 = c.init_producer_id()
        assert pid2[0] != pid[0]
        assert c.produce("idem", 0, [Record(b"k", b"w0")],
                         producer=pid2, base_sequence=0) == 4
        got = c.fetch_all("idem", 0)
        assert [r.value for _, r in got] == [b"v0", b"v1", b"v2", b"v3", b"w0"]


def test_idempotent_produce_exactly_once_under_drops():
    """Chaos: connection drops force resends; with idempotent sequences
    (``kafka_live.producer`` at acks=-1 keeps its pid across reconnects
    and resends the same base sequence) the broker log holds each record
    EXACTLY once (the plain retry path would duplicate)."""
    from ticdc_spark import failpoint
    from ticdc_spark.sinks.kafka_live import producer

    failpoint.disable_all()
    try:
        with KafkaBroker(default_partitions=1) as b:
            with producer(b.bootstrap) as w:
                w.sleep = lambda s: None
                w.send((("t", 0), [Record(b"k", b"a%d" % i) for i in range(4)]))
                # drop the next TWO requests mid-flight: the produce may
                # or may not have appended before the cut — the resend
                # must not double-append either way
                failpoint.enable("kafka/drop-connection", "2*return(1)")
                w.send((("t", 0), [Record(b"k", b"b%d" % i) for i in range(4)]))
                w.send((("t", 0), [Record(b"k", b"c0")]))
            with KafkaConn.from_bootstrap(b.bootstrap) as c:
                vals = [r.value for _, r in c.fetch_all("t", 0)]
            assert vals == [b"a0", b"a1", b"a2", b"a3",
                            b"b0", b"b1", b"b2", b"b3", b"c0"]
    finally:
        failpoint.disable_all()


def test_transactions_commit_abort_and_read_committed(broker):
    """KIP-98 txn half: transactional batches, AddPartitionsToTxn,
    EndTxn markers, READ_COMMITTED filtering, zombie fencing."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        txn = c.init_producer_id("cf-txn")
        assert txn[1] == 0
        # txn 1: produce 2 records, COMMIT
        c.add_partitions_to_txn("cf-txn", txn, {"tx": [0]})
        c.produce("tx", 0, [Record(b"k", b"c0"), Record(b"k", b"c1")],
                  producer=txn, base_sequence=0, transactional=True)
        c.end_txn("cf-txn", txn, commit=True)
        # txn 2: produce 2 records, ABORT
        c.add_partitions_to_txn("cf-txn", txn, {"tx": [0]})
        c.produce("tx", 0, [Record(b"k", b"a0"), Record(b"k", b"a1")],
                  producer=txn, base_sequence=2, transactional=True)
        c.end_txn("cf-txn", txn, commit=False)
        # txn 3: committed again
        c.add_partitions_to_txn("cf-txn", txn, {"tx": [0]})
        c.produce("tx", 0, [Record(b"k", b"c2")],
                  producer=txn, base_sequence=4, transactional=True)
        c.end_txn("cf-txn", txn, commit=True)

        # READ_UNCOMMITTED sees all data (markers never surface)
        vals = [r.value for _, r in c.fetch_all("tx", 0)]
        assert vals == [b"c0", b"c1", b"a0", b"a1", b"c2"]
        # READ_COMMITTED hides the aborted transaction
        vals = [r.value for _, r in
                c.fetch_all("tx", 0, isolation="read_committed")]
        assert vals == [b"c0", b"c1", b"c2"]

        # an OPEN transaction stays below the LSO for READ_COMMITTED
        c.add_partitions_to_txn("cf-txn", txn, {"tx": [0]})
        c.produce("tx", 0, [Record(b"k", b"open0")],
                  producer=txn, base_sequence=5, transactional=True)
        vals = [r.value for _, r in
                c.fetch_all("tx", 0, isolation="read_committed")]
        assert vals == [b"c0", b"c1", b"c2"]
        vals = [r.value for _, r in c.fetch_all("tx", 0)]
        assert vals[-1] == b"open0"
        c.end_txn("cf-txn", txn, commit=True)
        vals = [r.value for _, r in
                c.fetch_all("tx", 0, isolation="read_committed")]
        assert vals == [b"c0", b"c1", b"c2", b"open0"]


def test_transaction_zombie_fencing(broker):
    """Re-initializing the same transactional.id bumps the epoch; the
    old incarnation's produces and EndTxn are fenced (errors 47)."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        old = c.init_producer_id("cf-fence")
        new = c.init_producer_id("cf-fence")
        assert new[0] == old[0] and new[1] == old[1] + 1
        with pytest.raises(IOError, match="error 47"):
            c.add_partitions_to_txn("cf-fence", old, {"tz": [0]})
        c.add_partitions_to_txn("cf-fence", new, {"tz": [0]})
        with pytest.raises(IOError, match="error_code=47"):
            c.produce("tz", 0, [Record(b"k", b"z")],
                      producer=old, base_sequence=0, transactional=True)
        with pytest.raises(IOError, match="error 47"):
            c.end_txn("cf-fence", old, commit=True)
        c.produce("tz", 0, [Record(b"k", b"n")],
                  producer=new, base_sequence=0, transactional=True)
        c.end_txn("cf-fence", new, commit=True)
        vals = [r.value for _, r in
                c.fetch_all("tz", 0, isolation="read_committed")]
        assert vals == [b"n"]


def test_rejected_txn_batch_does_not_pin_lso(broker):
    """A transactional batch rejected by the sequence check (or deduped
    as a retry) must leave no open-txn entry behind: the LSO stays at
    the high watermark and no later ABORT range can swallow other
    producers' committed data."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        txn = c.init_producer_id("cf-stage")
        c.add_partitions_to_txn("cf-stage", txn, {"st": [0]})
        c.produce("st", 0, [Record(b"k", b"c0")],
                  producer=txn, base_sequence=0, transactional=True)
        c.end_txn("cf-stage", txn, commit=True)
        # sequence-gap transactional produce -> rejected, and must NOT
        # open a txn (pre-fix it pinned the LSO at the reject offset)
        with pytest.raises(IOError, match="error_code=45"):
            c.produce("st", 0, [Record(b"k", b"bad")],
                      producer=txn, base_sequence=9, transactional=True)
        log = broker.log("st", 0)
        assert log.ongoing == {}
        vals = [r.value for _, r in
                c.fetch_all("st", 0, isolation="read_committed")]
        assert vals == [b"c0"]
        # late duplicate retry of the committed batch after EndTxn:
        # deduped, and must not RE-open ongoing (no marker will ever pop it)
        c.produce("st", 0, [Record(b"k", b"c0")],
                  producer=txn, base_sequence=0, transactional=True)
        assert log.ongoing == {}
        # another producer's data stays visible under READ_COMMITTED
        pid2 = c.init_producer_id()
        c.produce("st", 0, [Record(b"k", b"other")],
                  producer=pid2, base_sequence=0)
        vals = [r.value for _, r in
                c.fetch_all("st", 0, isolation="read_committed")]
        assert vals == [b"c0", b"other"]


def test_aborted_range_filters_only_transactional_batches(broker):
    """READ_COMMITTED abort filtering applies to transactional batches
    only: an idempotent (non-transactional) batch from the same pid that
    lands inside an aborted range stays visible, like a real broker."""
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        txn = c.init_producer_id("cf-mix")
        c.add_partitions_to_txn("cf-mix", txn, {"mx": [0]})
        c.produce("mx", 0, [Record(b"k", b"t0")],
                  producer=txn, base_sequence=0, transactional=True)
        # same pid, idempotent-only batch interleaved before the marker
        c.produce("mx", 0, [Record(b"k", b"plain")],
                  producer=txn, base_sequence=1)
        c.end_txn("cf-mix", txn, commit=False)
        vals = [r.value for _, r in
                c.fetch_all("mx", 0, isolation="read_committed")]
        assert vals == [b"plain"]


def test_fetch_session_read_committed(broker):
    """FetchSession honors isolation=read_committed exactly like
    KafkaConn.fetch: control batches never surface, aborted
    transactional data is dropped, open transactions stay invisible
    (LSO), and committed data appears after its marker."""
    from ticdc_spark.sinks.kafka_client import FetchSession

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        txn = c.init_producer_id("cf-fsrc")
        c.add_partitions_to_txn("cf-fsrc", txn, {"frc": [0]})
        c.produce("frc", 0, [Record(b"k", b"aborted")],
                  producer=txn, base_sequence=0, transactional=True)
        # idempotent-only batch from the same pid stays visible
        c.produce("frc", 0, [Record(b"k", b"plain")],
                  producer=txn, base_sequence=1)
        c.end_txn("cf-fsrc", txn, commit=False)

        fs = FetchSession(c, {("frc", 0): 0},
                          isolation="read_committed")
        got = fs.poll()
        assert [r.value for _, r in got[("frc", 0)]] == [b"plain"]
        # open transaction: invisible until its marker lands (LSO stop)
        c.add_partitions_to_txn("cf-fsrc", txn, {"frc": [0]})
        c.produce("frc", 0, [Record(b"k", b"pending")],
                  producer=txn, base_sequence=2, transactional=True)
        assert fs.poll() == {}
        c.end_txn("cf-fsrc", txn, commit=True)
        got = fs.poll()
        assert [r.value for _, r in got[("frc", 0)]] == [b"pending"]
        # control markers never surfaced anywhere above; a second poll
        # past the COMMIT marker returns nothing and the session stays
        # healthy
        assert fs.poll() == {}
        # read_uncommitted sees the aborted record too (from scratch)
        fs2 = FetchSession(c, {("frc", 0): 0})
        vals = [r.value for _, r in fs2.poll()[("frc", 0)]]
        assert vals == [b"aborted", b"plain", b"pending"]


def test_fetch_session_client_relists_consumed_partitions(broker):
    """KIP-227 conformance: the broker never advances cached fetch
    offsets; the client re-lists a consumed partition with its new
    position in the next incremental request — so the broker cache
    converges to the client position without server-side magic."""
    from ticdc_spark.sinks.kafka_client import FetchSession

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        c.produce("rl", 0, [Record(b"k", b"x0"), Record(b"k", b"x1")])
        fs = FetchSession(c, {("rl", 0): 0})
        got = fs.poll()
        assert len(got[("rl", 0)]) == 2
        # the broker cache still holds the ORIGINAL offset (no
        # auto-advance)...
        sess = broker._fetch_sessions[fs.session_id]
        assert sess["parts"][("rl", 0)][0] == 0
        # ...and the next poll re-lists the partition at position 2,
        # returning no duplicates
        assert fs.poll() == {}
        assert sess["parts"][("rl", 0)][0] == 2
        # steady state: repeated polls re-read nothing
        assert fs.poll() == {}


def test_offset_for_timestamp_rejects_classic_negotiation():
    """offset_for_timestamp follows the negotiated ListOffsets version;
    against a classic-only broker (v1 ceiling) it raises a clear error
    instead of sending an unsupported v7 frame."""
    from ticdc_spark.sinks.kafka_client import offset_for_timestamp

    with KafkaBroker(default_partitions=1) as b:
        b.supported[kw.API_LIST_OFFSETS] = (1, 1)
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            assert c._ver[kw.API_LIST_OFFSETS] == 1
            c.produce("t", 0, [Record(b"k", b"v")])
            with pytest.raises(RuntimeError, match="timestamp lookup"):
                offset_for_timestamp(c, "t", 0, 0)


def test_metadata_v9_flexible_live():
    """Metadata rides the flexible encoding too (compact broker/topic/
    partition arrays + tagged fields); a flexible_only broker advertises
    only v9 and the client negotiates it."""
    with KafkaBroker(default_partitions=3, flexible_only=True) as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            assert c._ver[kw.API_METADATA] == 9
            md = c.metadata(["m-topic"])
            assert md["brokers"][0]["port"] == b.port
            assert len(md["topics"]["m-topic"]["partitions"]) == 3
            # full listing (null topics array)
            md = c.metadata(None)
            assert "m-topic" in md["topics"]


def test_fetch_session_incremental(broker):
    """KIP-227: full request opens a session; incremental polls list no
    partitions, the broker serves from cached state and OMITS unchanged
    partitions; new data arrives without re-listing."""
    from ticdc_spark.sinks.kafka_client import FetchSession

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        c.produce("fs", 0, [Record(b"k", b"a0"), Record(b"k", b"a1")])
        c.produce("fs", 1, [Record(b"k", b"b0")])
        fs = FetchSession(c, {("fs", 0): 0, ("fs", 1): 0})
        got = fs.poll()
        assert [r.value for _, r in got[("fs", 0)]] == [b"a0", b"a1"]
        assert [r.value for _, r in got[("fs", 1)]] == [b"b0"]
        assert fs.session_id > 0 and fs.epoch == 1
        # nothing new: the incremental response carries NO partitions
        assert fs.poll() == {}
        assert fs.epoch == 2
        # new data on one partition only -> only that partition returns
        c.produce("fs", 1, [Record(b"k", b"b1")])
        got = fs.poll()
        assert list(got) == [("fs", 1)]
        assert [r.value for _, r in got[("fs", 1)]] == [b"b1"]


def test_fetch_session_seek_forget_and_recovery(broker):
    from ticdc_spark.codec import kafka_wire as kw2
    from ticdc_spark.sinks.kafka_client import FetchSession

    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        c.produce("fz", 0, [Record(b"k", b"v%d" % i) for i in range(4)])
        c.produce("fz", 1, [Record(b"k", b"w0")])
        fs = FetchSession(c, {("fz", 0): 0, ("fz", 1): 0})
        fs.poll()
        # seek partition 0 back to offset 2: replays v2, v3 exactly
        fs.seek("fz", 0, 2)
        got = fs.poll()
        assert [r.value for _, r in got[("fz", 0)]] == [b"v2", b"v3"]
        assert ("fz", 1) not in got
        # forget partition 0: new data there no longer surfaces
        fs.forget("fz", 0)
        c.produce("fz", 0, [Record(b"k", b"v4")])
        c.produce("fz", 1, [Record(b"k", b"w1")])
        got = fs.poll()
        assert list(got) == [("fz", 1)]
        # broker loses the session (cache eviction/restart): the next
        # poll transparently re-opens a full session and misses nothing
        old_sid = fs.session_id
        broker._fetch_sessions.clear()
        c.produce("fz", 1, [Record(b"k", b"w2")])
        got = fs.poll()
        assert [r.value for _, r in got[("fz", 1)]] == [b"w2"]
        assert fs.session_id != old_sid and fs.session_id > 0
        # a stale epoch on a LIVE session answers error 71; the client
        # rule (reset to full) also covers it
        fs.epoch = 99
        c.produce("fz", 1, [Record(b"k", b"w3")])
        got = fs.poll()
        assert [r.value for _, r in got[("fz", 1)]] == [b"w3"]
        # raw-frame check: unknown session id -> top-level error 69
        body = kw2.enc_fetch_request(12, [], session_id=424242,
                                     session_epoch=5)
        r = c._call(kw2.API_FETCH, 12, body)
        err, sid, parts = kw2.dec_fetch_response(r, 12)
        assert err == kw2.ERR_FETCH_SESSION_ID_NOT_FOUND
