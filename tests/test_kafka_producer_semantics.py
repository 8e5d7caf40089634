"""Kafka producer-semantics config consumption (round 7):
required-acks / auto-create-topic / replication-factor /
kafka-client-id / kafka-version — `pkg/sink/kafka/options.go:80-138,
253-255,287-289,555-568`, `requireAcksFromString` values."""

from __future__ import annotations

import pytest

from ticdc_spark.codec import kafka_wire as kw
from ticdc_spark.codec.kafka_wire import Record
from ticdc_spark.config import parse_changefeed_config
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn, create_topic


def test_acks_0_no_response_and_durable_after_drain():
    """acks=0: the broker sends NO response (fire-and-forget); the
    records still land — poll the high watermark to drain."""
    import time

    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            base = c.produce("t", 0, [Record(b"k", b"v")], acks=0)
            assert base == -1  # no offset came back
            # the SAME connection keeps working: correlation ids stayed
            # in sync because the broker skipped the acks=0 response
            c.produce("t", 0, [Record(b"k2", b"v2")], acks=-1)
            for _ in range(100):
                if b.high_watermark("t", 0) >= 2:
                    break
                time.sleep(0.01)
            assert b.high_watermark("t", 0) == 2
            assert len(c.fetch_all("t", 0)) == 2
        assert b.seen_produce_acks == [0, -1]


def test_acks_1_waits_and_returns_offset():
    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            assert c.produce("t", 0, [Record(b"k", b"v")], acks=1) == 0
            assert c.produce("t", 0, [Record(b"k", b"v")], acks=1) == 1
        assert b.seen_produce_acks == [1, 1]


def test_auto_create_disabled_broker_refuses_unknown_topic():
    with KafkaBroker(auto_create_topics=False) as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            md = c.metadata(["nope"])
            assert md["topics"]["nope"]["error"] == 3  # UNKNOWN_TOPIC
            with pytest.raises(IOError, match="error_code=3"):
                c.produce("nope", 0, [Record(b"k", b"v")])
            # explicit creation then works
            create_topic(c, "nope", 2)
            md2 = c.metadata(["nope"])
            assert md2["topics"]["nope"]["error"] == 0
            assert len(md2["topics"]["nope"]["partitions"]) == 2
            assert c.produce("nope", 0, [Record(b"k", b"v")]) == 0


def test_replication_factor_above_broker_count_refused():
    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            with pytest.raises(IOError, match="Replication factor: 3"):
                create_topic(c, "rf3", 4, replication_factor=3)
            # rf=1 and the sarama default -1 both pass
            create_topic(c, "rf1", 4, replication_factor=1)
            create_topic(c, "rfd", 4, replication_factor=-1)


def test_kafka_version_downgrade_pins_classic_frames():
    with KafkaBroker() as b:  # classic floors available
        with KafkaConn.from_bootstrap(b.bootstrap,
                                      kafka_version="2.3.1") as c:
            assert c._ver[kw.API_PRODUCE] == 3
            assert c._ver[kw.API_FETCH] == 4
            assert c._ver[kw.API_METADATA] == 1
            # the classic frames still round-trip
            c.produce("t", 0, [Record(b"k", b"v")])
            assert len(c.fetch_all("t", 0)) == 1
        with KafkaConn.from_bootstrap(b.bootstrap,
                                      kafka_version="3.6.0") as c2:
            assert c2._ver[kw.API_PRODUCE] == 9
            assert c2._ver[kw.API_FETCH] == 12


def test_ensure_topics_from_config():
    from ticdc_spark.sinks.kafka_live import ensure_topics_from_config

    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\nauto-create-topic = true\n"
        "replication-factor = 1\n")
    with KafkaBroker(auto_create_topics=False) as b:
        ensure_topics_from_config(b.bootstrap, cfg, ["t1", "t2"],
                                  n_partitions=3)
        assert set(b.topics) == {"t1", "t2"}
        assert len(b.topics["t1"]) == 3
    cfg_off = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t"\n'
        "[sink.kafka-config]\nauto-create-topic = false\n")
    with KafkaBroker(auto_create_topics=False) as b2:
        with pytest.raises(IOError, match="auto-create-topic is false"):
            ensure_topics_from_config(b2.bootstrap, cfg_off, ["t1"])


def test_client_id_reaches_wire():
    cfg = parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?kafka-client-id=my-cdc-42"\n')
    with KafkaBroker() as b:
        with KafkaConn.from_bootstrap(
                b.bootstrap,
                client_id=cfg.kafka_config["kafka-client-id"]) as c:
            assert c.client_id == "my-cdc-42"
            c.produce("t", 0, [Record(b"k", b"v")])


def test_txn_apis_honor_auto_create_topics():
    """ADVICE r7: AddPartitionsToTxn must not materialize unknown
    topics on a broker with auto-create disabled — it answers
    UNKNOWN_TOPIC_OR_PARTITION (3) like Metadata/Produce."""
    with KafkaBroker(auto_create_topics=False) as b:
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            producer = c.init_producer_id(txn_id="tx-1")
            with pytest.raises(IOError, match="error 3"):
                c.add_partitions_to_txn("tx-1", producer, {"ghost": [0]})
            assert "ghost" not in b.topics  # not created as a side effect
            create_topic(c, "ghost", 1)
            c.add_partitions_to_txn("tx-1", producer, {"ghost": [0]})
            c.end_txn("tx-1", producer, commit=True)


def test_acks_0_produce_frame_then_immediate_fetch(spark):
    """ADVICE r7: an acks=0 produce_frame used to race the fetch —
    the broker might not have appended buffered fire-and-forget
    requests yet.  produce_frame now sends one request/response
    barrier per connection before closing, so an immediate fetch is
    deterministic."""
    import pyspark.sql.functions as F

    from ticdc_spark.sinks.kafka_live import fetch_df, produce_frame

    with KafkaBroker(default_partitions=2) as b:
        frame = spark.range(500).select(
            F.lit("t0").alias("topic"),
            (F.col("id") % 2).cast("int").alias("partition"),
            F.col("id").cast("string").alias("key"),
            F.concat(F.lit("v"), F.col("id")).cast("string").alias("value"))
        produce_frame(frame, b.bootstrap, acks=0)
        got = fetch_df(spark, b.bootstrap, [("t0", 0), ("t0", 1)])
        assert got.count() == 500
        assert 0 in b.seen_produce_acks


def test_produce_all_sends_every_partition_in_one_request():
    """A broadcast is ONE Produce request carrying a batch per partition
    (the changefeed's DDL and watermark broadcasts); every partition's
    error code is checked, so one unknown partition fails the call."""
    with KafkaBroker(default_partitions=3) as b:
        b.create_topic("a", 3)
        b.create_topic("b", 2)
        with KafkaConn.from_bootstrap(b.bootstrap) as c:
            n0 = len(b.seen_produce_acks)
            c.produce_all({
                "a": {p: [Record(None, b"a%d" % p)] for p in range(3)},
                "b": {p: [Record(None, b"b%d" % p)] for p in range(2)},
            })
            assert len(b.seen_produce_acks) == n0 + 1
            for t, n in (("a", 3), ("b", 2)):
                for p in range(n):
                    got = c.fetch_all(t, p)
                    assert [(off, r.value) for off, r in got] == [
                        (0, b"%s%d" % (t.encode(), p))]
            with pytest.raises(IOError, match="a/7 failed: error_code=3"):
                c.produce_all({"a": {0: [Record(None, b"x")],
                                     7: [Record(None, b"y")]}})
