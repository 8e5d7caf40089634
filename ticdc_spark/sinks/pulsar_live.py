"""Live Pulsar round-trip: sink frame -> binary-protocol produce -> read back.

Same composition as sinks/kafka_live.py for the Pulsar frame shape
(topic, key, value — no partition column; the key rides
MessageMetadata.partition_key exactly like the reference's Go producer
sets it for broker-side key hashing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.arrow_rows import map_batches
from ticdc_spark.sinks.writer import (SUMMARY_SCHEMA, RetryPolicy, TaskWriter,
                                      transient)

_LIVE_BROKERS: list = []


def start_broker():
    from ticdc_spark.sinks.pulsar_broker import PulsarBroker

    broker = PulsarBroker().start()
    _LIVE_BROKERS.append(broker)
    return broker


def start_broker_oauth2():
    """Broker + in-process OAuth2 issuer: the reference's pulsar sink
    OAuth2 block (`pkg/config/sink.go:581-597`,
    `pkg/sink/pulsar/factory.go:110-118`) — client-credentials exchange
    against the issuer, access token presented on CONNECT, broker
    verifies signature + audience.  -> (broker, oauth2_conf)."""
    from ticdc_spark.codec.oauth2 import MiniOAuth2Server
    from ticdc_spark.sinks.pulsar_broker import PulsarBroker

    audience = "urn:pulsar:cluster-a"
    issuer = MiniOAuth2Server("cdc-client", "cdc-secret",
                              jwt_secret="pulsar-oauth2-jwt",
                              audience=audience).start()
    broker = PulsarBroker(oauth2_jwt_secret="pulsar-oauth2-jwt",
                          oauth2_audience=audience).start()
    _LIVE_BROKERS.extend([issuer, broker])
    conf = {"issuer_url": issuer.token_url, "client_id": "cdc-client",
            "client_secret": "cdc-secret", "audience": audience}
    return broker, conf


#: producer retry budget, the Kafka producer's (defaultMaxRetry=5)
RETRY = RetryPolicy(max_tries=6, base_delay=0.1, max_delay=2.0)


def producer(service_url: str, oauth2: dict | None = None,
             batching_max_messages: int = 500, **conn_kw) -> TaskWriter:
    """A produce task's writer; ``send((topic, messages))`` sends one
    buffer of ``(payload, key)`` pairs pipelined, awaiting receipts.
    Producers die with their connection, so a reconnect registers each
    topic's producer again before it resends."""
    from ticdc_spark.sinks.pulsar_client import PulsarConn

    producer_ids: dict[str, int] = {}

    def open_():
        producer_ids.clear()
        return PulsarConn.from_service_url(service_url, oauth2=oauth2,
                                           **conn_kw)

    def send(conn, item) -> None:
        topic, msgs = item
        pid = producer_ids.get(topic)
        if pid is None:
            pid = producer_ids[topic] = conn.create_producer(topic)
        conn.send_pipelined(pid, msgs, batch_size=batching_max_messages)

    return TaskWriter(open_, send, transient(OSError), RETRY)


def produce_frame(frame: DataFrame, service_url: str,
                  oauth2: dict | None = None,
                  batching_max_messages: int = 500,
                  **conn_kw) -> list:
    """Distributed produce: tasks register one producer per topic they see
    and send each row as a payload frame, awaiting receipts; returns the
    tasks' SUMMARY_SCHEMA rows."""
    shaped = frame.select(
        "topic",
        F.col("key").cast("string").alias("key"),
        F.col("value").cast("binary").alias("value"),
    ).repartition("topic")

    def _send(batches):
        buffers: dict[str, list] = {}
        flush_at = 2000
        with producer(service_url, oauth2, batching_max_messages,
                      **conn_kw) as w:
            # Arrow batches across the boundary (guide §4.1), not
            # pickled Rows; binary cells arrive as ``bytes``
            for c in batches:
                w.tally(c)
                for t, k, v in zip(c["topic"], c["key"], c["value"]):
                    buf = buffers.setdefault(t, [])
                    buf.append((b"" if v is None else v, k))
                    if len(buf) >= flush_at:
                        w.send((t, buf))
                        buffers[t] = []
            for topic, buf in buffers.items():
                if buf:
                    w.send((topic, buf))
        yield list(w.summary())

    return map_batches(shaped, _send, SUMMARY_SCHEMA).collect()


def read_df(spark: SparkSession, service_url: str, topics: list[str],
            oauth2: dict | None = None, **conn_kw) -> DataFrame:
    """Distributed read-back: one task per topic, reader earliest->last."""
    tdf = spark.createDataFrame([(t,) for t in topics], "topic string").repartition(
        max(1, min(len(topics), 64)), "topic"
    )

    def _read(batches):
        from ticdc_spark.sinks.pulsar_client import PulsarConn

        conn = None
        try:
            for c in batches:
                for topic in c["topic"]:
                    if conn is None:
                        conn = PulsarConn.from_service_url(
                            service_url, oauth2=oauth2, **conn_kw)
                    msgs = conn.read_all(topic)
                    # batch members share an entry id; entries must be
                    # non-decreasing and cover 0..max with no gaps
                    entries = [m["entry_id"] for m in msgs]
                    distinct = sorted(set(entries))
                    if entries != sorted(entries) or (
                        distinct and distinct != list(range(distinct[-1] + 1))
                    ):
                        raise ValueError(f"non-contiguous entries on {topic}")
                    if not msgs:
                        continue
                    yield [(topic, m["partition_key"],
                            m["payload"].decode("utf-8")) for m in msgs]
        finally:
            if conn is not None:
                conn.close()

    return map_batches(tdf, _read, "topic string, key string, value string")


def pulsar_live_roundtrip(frame: DataFrame) -> DataFrame:
    """The roundtrip rides OAuth2 auth end-to-end: every executor task's
    connection runs its own client-credentials exchange against the
    in-process issuer, and the broker verifies signature + audience on
    every CONNECT — no unauthenticated path remains in this query."""
    spark = frame.sparkSession
    broker, oauth2 = start_broker_oauth2()
    produce_frame(frame, broker.service_url, oauth2=oauth2)
    topics = list(broker.topics)
    return read_df(spark, broker.service_url, topics, oauth2=oauth2)


def start_broker_basic(users: dict[str, str]):
    """Broker demanding basic auth (`pkg/sink/pulsar/factory.go:105-109`
    AuthenticationBasic: method "basic", data "user:password")."""
    from ticdc_spark.sinks.pulsar_broker import PulsarBroker

    broker = PulsarBroker(basic_users=users).start()
    _LIVE_BROKERS.append(broker)
    return broker


def start_broker_authtls():
    """Broker demanding mTLS *authentication* (`factory.go:122-125`
    AuthenticationTLS): mutual-TLS transport plus CONNECT method "tls"."""
    from ticdc_spark.sinks.pulsar_broker import PulsarBroker

    broker = PulsarBroker(tls=True, mutual_tls=True,
                          require_tls_auth=True).start()
    _LIVE_BROKERS.append(broker)
    return broker
