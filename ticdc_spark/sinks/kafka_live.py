"""Live Kafka round-trip: Spark sink frame -> real TCP produce -> fetch back.

Composes the sink message frame (`sinks/kafka.py`) with the wire-protocol
broker (`sinks/kafka_broker.py`) and client (`sinks/kafka_client.py`):

- produce: every Spark partition dials the broker and sends Produce
  requests at the negotiated version (v9 against ``start_broker``'s
  flexible-only broker) with v2 record batches (acks=-1), exactly what
  the reference's `pkg/sink/kafka` producers put on the wire. Runs as a construction-time
  job (trainer precedent — this is a sink flush, not a lazy view).
- fetch: the returned DataFrame is a distributed Fetch scan, one task
  per (topic, partition), each verifying offset contiguity 0..hw-1 —
  a dropped or duplicated batch fails the query, so correctness of the
  broker log is checked inside the plan, not just by the oracle.

Scale: in production the same producer bytes target a real cluster and the
broker here disappears; the Spark-side shape (repartition by topic+partition,
one connection per task, bounded record batches) is the deployment shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.functions.arrow_rows import map_batches
from ticdc_spark.sinks.writer import (SUMMARY_SCHEMA, RetryPolicy, TaskWriter,
                                      transient)

# keep brokers alive for the lifetime of the process: the driver evaluates
# the returned fetch plan (possibly several times) after construction returns
_LIVE_BROKERS: list = []

_BATCH_RECORDS = 512


def start_broker(n_partitions: int = 16, flexible_only: bool = True):
    """flexible_only=True (default): the broker advertises only the
    modern Produce v9 / Fetch v12 / ListOffsets v7 — so every live
    query's traffic is pinned to flexible frames (compact encodings +
    tagged fields), the post-2.4 broker shape sarama negotiates."""
    from ticdc_spark.sinks.kafka_broker import KafkaBroker

    broker = KafkaBroker(default_partitions=n_partitions,
                         flexible_only=flexible_only).start()
    _LIVE_BROKERS.append(broker)
    return broker


#: the producer retry budget: `pkg/sink/kafka` defaultMaxRetry=5
RETRY = RetryPolicy(max_tries=6, base_delay=0.1, max_delay=2.0)


def producer(bootstrap: str, compression: str = "none", acks: int = -1,
             **conn_kw) -> TaskWriter:
    """A produce task's writer; ``send(((topic, partition), records))``
    produces one batch.  At acks=-1 it is an idempotent producer
    (KIP-98): the pid is KEPT across reconnects and a (topic, partition)
    sequence advances only after a confirmed produce, so a retry resends
    the SAME base sequence and the broker dedups it.  sarama refuses
    idempotence at acks 0/1; those run at-least-once (the consumer's
    idempotent apply absorbs a duplicated batch)."""
    from ticdc_spark.sinks.kafka_client import KafkaConn

    pid = None
    seqs: dict[tuple[str, int], int] = {}

    def send(conn, item) -> None:
        nonlocal pid
        (topic, partition), records = item
        if acks != -1:
            conn.produce(topic, partition, records, compression=compression,
                         acks=acks)
            return
        if pid is None:
            pid = conn.init_producer_id()
        seq = seqs.get((topic, partition), 0)
        conn.produce(topic, partition, records, compression=compression,
                     producer=pid, base_sequence=seq)
        seqs[(topic, partition)] = seq + len(records)

    return TaskWriter(lambda: KafkaConn.from_bootstrap(bootstrap, **conn_kw),
                      send, transient(OSError), RETRY)


def produce_frame(
    frame: DataFrame, bootstrap: str, compression: str = "none",
    sasl: tuple[str, str, str] | None = None, tls_ca: bytes | None = None,
    client_id: str = "ticdc-spark", acks: int = -1,
    kafka_version: str | None = None, tls_insecure: bool = False,
    tls_client_cert: tuple[bytes, bytes] | None = None,
) -> list:
    """Distributed produce of a (topic, partition, key, value) frame;
    returns the tasks' SUMMARY_SCHEMA rows (one per task and topic).

    The frame is clustered by (topic, partition) and, on whichever of the
    replay keys (``commit_ts, start_ts, dml_order, seq``) it carries,
    sorted inside each partition AFTER that shuffle, so every partition's
    log is in commit order.  Each task groups its rows by (topic,
    partition) and sends batches of ≤512 records per Produce request
    through its ``producer`` writer: a dropped connection reconnects and
    resends the in-flight batch under ``RETRY``."""
    from ticdc_spark.operators.ordering import SORT_KEYS, ordered

    cols = dict(frame.dtypes)
    if "key" not in cols:  # keyless frames ride null keys, like the reference
        key_col = F.lit(None).cast("binary")
    elif cols["key"] == "string":
        key_col = F.col("key").cast("binary")
    else:
        key_col = F.col("key")
    val_col = F.col("value").cast("binary") if cols.get("value") == "string" else F.col("value")
    summarized = ["commit_ts"] if "commit_ts" in cols else []
    shaped = ordered(
        frame.select(
            "topic", F.col("partition").cast("int").alias("partition"),
            key_col.alias("key"), val_col.alias("value"),
            *[c for c in SORT_KEYS if c in cols],
        ),
        # co-locate each (topic, partition) so batches aren't 1-row sprays
        ["topic", "partition"],
    ).select("topic", "partition", "key", "value", *summarized)
    conn_kw = dict(sasl=sasl, tls_ca=tls_ca, client_id=client_id,
                   kafka_version=kafka_version, tls_insecure=tls_insecure,
                   tls_client_cert=tls_client_cert)

    def _send(batches):
        from ticdc_spark.codec.kafka_wire import Record

        pending: dict[tuple[str, int], list] = {}
        with producer(bootstrap, compression, acks, **conn_kw) as w:
            # rows arrive as Arrow batches of exact Python values
            # (``arrow_rows.pylist``): binary cells are ``bytes`` already
            for c in batches:
                w.tally(c)
                for t, p, k, v in zip(c["topic"], c["partition"],
                                      c["key"], c["value"]):
                    tp = (t, p)
                    batch = pending.setdefault(tp, [])
                    batch.append(Record(k, v))
                    if len(batch) >= _BATCH_RECORDS:
                        w.send((tp, batch))
                        pending[tp] = []
            for tp, batch in pending.items():
                if batch:
                    w.send((tp, batch))
            if acks == 0 and w.conn is not None:
                # acks=0 produces are fire-and-forget: the broker may not
                # have processed buffered requests when this task returns,
                # and an immediate fetch could miss tail records.  One
                # request/response barrier on the SAME connection suffices
                # — the broker handles a connection's requests in order,
                # so the Metadata response implies every earlier produce
                # was appended.
                w.conn.metadata([])
        # reported only once every batch is acknowledged
        yield list(w.summary())

    return map_batches(shaped, _send, SUMMARY_SCHEMA).collect()


def fetch_df(spark: SparkSession, bootstrap: str,
             topic_partitions: list[tuple[str, int]], **conn_kw) -> DataFrame:
    """Distributed fetch: one task per (topic, partition); verifies offset
    contiguity 0..hw-1 inside the kernel (raises on gaps/dups).
    ``conn_kw`` are ``KafkaConn``'s connection options (``conn_options``
    of a config's ``produce_options``)."""
    pairs = spark.createDataFrame(topic_partitions, "topic string, partition int").repartition(
        max(1, min(len(topic_partitions), 64)), "topic", "partition"
    )

    def _fetch(batches):
        from ticdc_spark.sinks.kafka_client import KafkaConn

        conn = None
        try:
            for c in batches:
                for topic, partition in zip(c["topic"], c["partition"]):
                    if conn is None:
                        conn = KafkaConn.from_bootstrap(bootstrap,
                                                        **conn_kw)
                    got = conn.fetch_all(topic, partition)
                    offsets = [o for o, _ in got]
                    if offsets != list(range(len(offsets))):
                        raise ValueError(
                            f"non-contiguous offsets on {topic}/{partition}: "
                            f"{offsets[:5]}..{offsets[-5:]} (n={len(offsets)})")
                    if not got:
                        continue
                    yield [(topic, partition,
                            r.key.decode("utf-8") if r.key is not None else None,
                            r.value.decode("utf-8") if r.value is not None else None)
                           for _, r in got]
        finally:
            if conn is not None:
                conn.close()

    return map_batches(pairs, _fetch,
                       "topic string, partition int, key string, value string")


def consumer_group_fetch_df(
    spark: SparkSession, bootstrap: str, group_id: str, topics: list[str],
    n_members: int = 4,
) -> DataFrame:
    """Cooperative consumption: ``n_members`` tasks each run one
    ConsumerGroupMember (JoinGroup/SyncGroup/range assignment over the
    live wire) and fetch their assigned partitions from offset 0.

    Task scheduling decides how the group forms — members may overlap
    across generations — so exactly-once is restored downstream by a
    (topic, partition, offset) distinct, the same idempotence contract
    the reference consumer's apply relies on."""
    seats = spark.createDataFrame(
        [(i,) for i in range(n_members)], "seat int"
    ).repartition(n_members, "seat")

    def _consume(batches):
        import time as _time

        from ticdc_spark.sinks.kafka_client import ConsumerGroupMember

        for c in batches:
            for _ in c["seat"]:
                with ConsumerGroupMember(bootstrap, group_id, topics) as m:
                    m.join_and_sync()
                    # brief stabilization so concurrently-scheduled seats
                    # join the same generation (late seats still converge:
                    # they either split the range or fetch overlap the
                    # distinct removes).  Event-driven fast path: the
                    # leader's assignor user_data carries the member
                    # count, so once THIS member's generation contains
                    # every seat the group cannot rebalance again and
                    # the settle wall is pure wait — skip it.  When
                    # seats exceed cores the group never fully forms
                    # concurrently and the timeout semantics below are
                    # unchanged (the low-core case that made a pure
                    # event wait a deadlock).
                    settle_until = _time.monotonic() + 0.5
                    while (m.group_size != n_members
                           and _time.monotonic() < settle_until):
                        if m.heartbeat() != 0:
                            m.join_and_sync()
                            settle_until = _time.monotonic() + 0.5
                        else:
                            _time.sleep(0.02)
                    rows = [
                        (topic, p, off,
                         rec.key.decode() if rec.key is not None else None,
                         rec.value.decode() if rec.value is not None else None)
                        for topic, parts in m.assignment.items()
                        for p in parts
                        for off, rec in m.conn.fetch_all(topic, p)]
                    m.leave()
                    if rows:
                        yield rows

    fetched = map_batches(
        seats, _consume,
        "topic string, partition int, offset long, key string, value string")
    return fetched.dropDuplicates(["topic", "partition", "offset"])


def kafka_live_roundtrip(
    frame: DataFrame, n_partitions: int = 16, compression: str = "none"
) -> DataFrame:
    """Produce `frame` to an in-process wire-protocol broker, return the
    distributed fetch-back plan with identical columns."""
    spark = frame.sparkSession
    broker = start_broker(n_partitions)
    produce_frame(frame, broker.bootstrap, compression=compression)
    pairs = [(t, p) for t, parts in broker.topics.items() for p in parts]
    return fetch_df(spark, broker.bootstrap, pairs)


def kafka_list_offsets_by_ts(cl: DataFrame, n_probes: int = 8) -> DataFrame:
    """Timestamp-based ListOffsets over the live wire (sarama's
    Client.GetOffset(ts) — the consumer's "start from time T" seek).

    Construction: the changelog is produced to a single-partition topic
    in commit_ts order, each record stamped with its commit_ts (batch
    base_timestamp + per-record deltas).  The returned plan probes
    ``n_probes`` evenly spaced timestamps through ListOffsets v7 and
    yields (probe_ts, found_ts, log_offset) — first record at-or-after
    each probe.  Offsets are ts-order ranks, so the result is exact
    regardless of equal-timestamp tie order.

    Scale note: single partition by design — a time index is per
    partition in Kafka; probing is O(n_probes) metadata calls."""
    spark = cl.sparkSession
    broker = start_broker(1)
    bootstrap = broker.bootstrap
    topic = "cdc_ts_index"

    rows = (
        cl.select(F.col("commit_ts").cast("long").alias("ts"))
        .repartition(1)
        .sortWithinPartitions("ts")
    )

    def _produce(batches):
        from ticdc_spark.codec.kafka_wire import Record
        from ticdc_spark.sinks.kafka_client import KafkaConn

        batch: list = []
        n = 0
        with KafkaConn.from_bootstrap(bootstrap) as conn:
            def flush():
                if not batch:
                    return
                base = batch[0]
                conn.produce(topic, 0, [
                    Record(None, b"%d" % ts, timestamp_delta=ts - base)
                    for ts in batch], base_timestamp=base)
                batch.clear()

            for c in batches:
                n += len(c["ts"])
                for ts in c["ts"]:
                    batch.append(ts)
                    if len(batch) >= _BATCH_RECORDS:
                        flush()
            flush()
        yield [(n,)]

    map_batches(rows, _produce, "n long").collect()

    # probe bounds: a 1-row aggregate (metadata, not a data collect)
    mn, mx = cl.agg(F.min("commit_ts"), F.max("commit_ts")).first()
    mn, mx = int(mn), int(mx)
    probes = [mn + (mx - mn) * k // (n_probes - 1) for k in range(n_probes)]
    probe_df = spark.createDataFrame(
        [(p,) for p in probes], "probe_ts long").repartition(1)

    def _lookup(batches):
        from ticdc_spark.sinks.kafka_client import (KafkaConn,
                                                    offset_for_timestamp)

        with KafkaConn.from_bootstrap(bootstrap) as conn:
            for c in batches:
                yield [(p, *offset_for_timestamp(conn, topic, 0, p))
                       for p in c["probe_ts"]]

    return map_batches(
        probe_df, _lookup, "probe_ts long, found_ts long, log_offset long")


def kafka_live_gssapi_roundtrip(frame: DataFrame,
                                n_partitions: int = 16) -> DataFrame:
    """The live roundtrip with SASL/GSSAPI end to end: an in-process
    KDC issues tickets, every executor connection runs kinit -> TGS ->
    RFC 4121 context -> RFC 4752 negotiation before producing, and the
    fetch-back connections authenticate the same way."""
    from ticdc_spark.sinks.kafka_broker import KafkaBroker
    from ticdc_spark.sinks.kdc_server import MiniKDC

    spark = frame.sparkSession
    realm, svc, svc_pw = "TEST.REALM", "kafka/127.0.0.1", "svc-secret"
    kdc = MiniKDC(realm=realm, principals={
        "cdc-client": "client-pw", svc: svc_pw}).start()
    _LIVE_BROKERS.append(kdc)
    broker = KafkaBroker(default_partitions=n_partitions,
                         sasl_users={}, sasl_mechanisms=(),
                         gssapi_service=(svc, svc_pw, realm),
                         flexible_only=True).start()
    _LIVE_BROKERS.append(broker)
    sasl = ("GSSAPI", "cdc-client", "client-pw",
            {"kdc": kdc.address, "realm": realm, "service": svc})
    produce_frame(frame, broker.bootstrap, sasl=sasl)
    pairs = [(t, p) for t, parts in broker.topics.items() for p in parts]
    return fetch_df(spark, broker.bootstrap, pairs, sasl=sasl)


def sasl_from_spec(spec: dict | None,
                   broker_host: str = "127.0.0.1"):
    """``config.kafka_sasl_spec`` output → the ``KafkaConn`` ``sasl``
    argument — the dialer half of the reference's sarama SASL setup
    (`pkg/sink/kafka/sarama_config.go:100-140`):

    - GSSAPI: KDC resolved from sasl-gssapi-kerberos-config-path (the
      krb5.conf [realms] block); auth-type "keytab" loads the client's
      long-term key from sasl-gssapi-keytab-path (MIT keytab format),
      "user" authenticates with sasl-gssapi-password; the broker
      service principal is ``<service-name>/<broker-host>``.
    - OAUTHBEARER: the sasl-oauth-* family rides as the token-provider
      options (client-credentials exchange at connect time).
    - PLAIN/SCRAM: (mechanism, sasl-user, sasl-password)."""
    if spec is None:
        return None
    mech = spec["mechanism"]
    if mech == "GSSAPI":
        from ticdc_spark.config import parse_krb5_conf

        g = spec["gssapi"]
        realm = g["realm"]
        kdc = parse_krb5_conf(g["kerberos_config_path"])[realm]
        opts = {"kdc": kdc, "realm": realm,
                "service": f"{g['service_name']}/{broker_host}"}
        if g["auth_type"] == "keytab":
            from ticdc_spark.sinks.kdc_server import read_keytab_key

            opts["key"] = read_keytab_key(
                g["keytab_path"], realm, g["user"])
            return (mech, g["user"], "", opts)
        return (mech, g["user"], g["password"], opts)
    if mech == "OAUTHBEARER":
        return (mech, "", "", dict(spec["oauth2"]))
    return (mech, spec["user"], spec["password"])


def produce_options(cfg, broker_host: str = "127.0.0.1") -> dict:
    """A changefeed config's Kafka connection options as ``produce_frame``
    keywords (``KafkaConn``'s plus ``acks``): SASL, required-acks,
    kafka-client-id, kafka-version (`pkg/sink/kafka/options.go:80-138`)
    and, with enable-tls, the ``ca``, insecure-skip-verify and the
    ``cert``/``key`` identity.  An empty config gives the plain wire."""
    from ticdc_spark.config import kafka_sasl_spec

    def pem(path: str) -> bytes:
        with open(path, "rb") as f:
            return f.read()

    kc = cfg.kafka_config or {}
    opts = {"sasl": sasl_from_spec(kafka_sasl_spec(cfg), broker_host),
            "client_id": kc.get("kafka-client-id", "ticdc-spark"),
            "acks": kc.get("required-acks", -1),
            "kafka_version": kc.get("kafka-version"),
            "tls_ca": None, "tls_insecure": False, "tls_client_cert": None}
    if cfg.enable_tls:
        opts["tls_insecure"] = cfg.insecure_skip_verify
        if cfg.tls_ca_path:
            opts["tls_ca"] = pem(cfg.tls_ca_path)
        elif not cfg.insecure_skip_verify:
            # no system trust store here: refuse rather than dial plain
            raise ValueError("enable-tls needs a ca or insecure-skip-verify")
        if cfg.tls_cert_path:
            opts["tls_client_cert"] = (pem(cfg.tls_cert_path),
                                       pem(cfg.tls_key_path))
    return opts


def conn_options(opts: dict) -> dict:
    """``produce_options`` without ``acks``: ``KafkaConn``'s keywords."""
    return {k: v for k, v in opts.items() if k != "acks"}


def kafka_live_config_roundtrip(frame: DataFrame, cfg,
                                broker) -> DataFrame:
    """Produce/fetch roundtrip whose connection options come ENTIRELY
    from the changefeed config (``produce_options``)."""
    spark = frame.sparkSession
    opts = produce_options(cfg, broker.bootstrap.rsplit(":", 1)[0])
    if not getattr(broker, "auto_create_topics", True):
        # bounded control-plane collect: |topics| = filtered table count
        topics = [r.topic for r in frame.select("topic").distinct().collect()]
        ensure_topics_from_config(broker.bootstrap, cfg, topics,
                                  n_partitions=16)
    produce_frame(frame, broker.bootstrap, **opts)
    pairs = [(t, p) for t, parts in broker.topics.items() for p in parts]
    return fetch_df(spark, broker.bootstrap, pairs, **conn_options(opts))


def ensure_topics_from_config(bootstrap: str, cfg, topics: list[str],
                              n_partitions: int = 16) -> None:
    """The reference's topic-provisioning step (`pkg/sink/kafka/
    options.go:555-568`): a missing sink topic is CREATED when
    auto-create-topic is true and is an error when false.  Driver-side:
    one admin connection over the config's ``produce_options``."""
    from ticdc_spark.sinks.kafka_client import KafkaConn, create_topic

    kc = cfg.kafka_config or {}
    auto = kc.get("auto-create-topic", True)
    rf = kc.get("replication-factor", 1)
    opts = produce_options(cfg, bootstrap.rsplit(":", 1)[0])
    with KafkaConn.from_bootstrap(bootstrap, **conn_options(opts)) as conn:
        md = conn.metadata(list(topics))
        for t in topics:
            info = md["topics"].get(t)
            if info is not None and info.get("error", 0) == 0:
                continue
            if not auto:
                raise IOError(
                    f"unknown topic {t!r} and auto-create-topic is "
                    "false — create the topic first "
                    "(`options.go:287-289`)")
            create_topic(conn, t, n_partitions, replication_factor=rf)
