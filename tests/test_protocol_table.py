"""One protocol table: each ``pipeline.PROTOCOLS`` record's encoder,
consumer and control frames agree.

- Round trip for any table: encode → the record's ``decode`` (typed by
  the table's own image) → ``replay_to_state`` equals
  ``materialize_state``, for the ``events`` payload and for the typed
  ``orders`` changelog across its three schema versions.
- A live Kafka changefeed broadcasts the DDL and watermark frames of
  its own protocol: every record on every partition is that protocol's
  data, watermark or DDL frame, and every partition carries the
  checkpoint ts and the DDL.
- A protocol without live DDL and watermark frames is refused.
"""

from __future__ import annotations

import json
import os

import pytest
from conftest import SF_DIR

from ticdc_spark.operators import split_updates
from ticdc_spark.pipeline import PROTOCOLS, ChangefeedConfig
from ticdc_spark.sinks.consumer import replay_to_state
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn
from ticdc_spark.sinks.mysql import materialize_state
from ticdc_spark.sources.changelog import events_changelog
from ticdc_spark.streaming import Changefeed

# the sf0.01 corpus next to the suite's test corpus: its orders reach
# all three schema versions
SF = os.path.join(os.path.dirname(SF_DIR), "sf0.01")
JSON_PROTOCOLS = ["canal-json", "open-protocol", "debezium", "simple"]


def _same(a, b):
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


@pytest.fixture(scope="module")
def changelogs(spark, sf_dir):
    from ticdc_spark.sources.typed import orders_changelog

    orders = orders_changelog(spark, SF)
    versions = {r[0] for r in
                orders.select("schema_version").distinct().collect()}
    assert versions == {1, 2, 3}
    return {"events": split_updates(events_changelog(spark, sf_dir)),
            "orders": orders}


@pytest.mark.parametrize("table", ["events", "orders"])
@pytest.mark.parametrize("protocol", JSON_PROTOCOLS)
def test_roundtrip_any_table(changelogs, protocol, table):
    cl = changelogs[table]
    rec = PROTOCOLS[protocol]
    # canal-json carries the exact commit ts only with the extension
    msgs = rec.dml(cl, ChangefeedConfig(tidb_extension=True))
    state = replay_to_state(rec.decode(msgs, cl.schema["after"].dataType))
    _same(state, materialize_state(cl).select(*state.columns))


def _simple_control(key, value):
    m = json.loads(value)
    if m["type"] == "WATERMARK":
        return "watermark", m["commitTs"]
    return ("ddl", m["sql"]) if m["type"] == "DDL" else None


def _open_control(key, value):
    k = json.loads(key)
    if k["t"] == 3:
        assert value == b""
        return "watermark", k["ts"]
    return ("ddl", json.loads(value)["q"]) if k["t"] == 2 else None


def _debezium_control(key, value):
    p = json.loads(value)["payload"]
    if p.get("op") == "m":
        assert json.loads(key) == {"payload": {}}
        return "watermark", p["source"]["commit_ts"]
    return ("ddl", p["ddl"]) if "ddl" in p else None


CONTROL = {"simple": _simple_control, "open-protocol": _open_control,
           "debezium": _debezium_control}


@pytest.mark.parametrize("protocol", sorted(CONTROL))
def test_live_changefeed_broadcasts_its_own_protocol(spark, sf_dir, tmp_path,
                                                     protocol):
    cl = events_changelog(spark, sf_dir)
    tss = sorted(r[0] for r in cl.select("commit_ts").collect())
    ddl = {"commit_ts": tss[len(tss) // 2], "schema_name": "test",
           "table_name": "tp_click", "ddl_type": "add-column",
           "query": "ALTER TABLE tp_click ADD COLUMN note VARCHAR(16)"}
    cfg = ChangefeedConfig(
        dispatchers=[{"matcher": ["test.tp_*"], "partition": "index-value",
                      "topic": "cdc_{schema}_{table}"}],
        protocol=protocol)
    with KafkaBroker(default_partitions=16) as broker:
        cf = Changefeed(f"cf_{protocol}", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap)
        cf.ddl_events = [ddl]
        cf.start(spark, sf_dir, available_now=True)
        cf.wait(240)

        data, marks, ddls = [], {}, {}
        with KafkaConn.from_bootstrap(broker.bootstrap) as c:
            for topic, parts in broker.topics.items():
                for p in parts:
                    for _, rec in c.fetch_all(topic, p):
                        kind = CONTROL[protocol](rec.key, rec.value)
                        if kind is None:
                            data.append((rec.key and rec.key.decode(),
                                         rec.value.decode()))
                        elif kind[0] == "watermark":
                            marks.setdefault((topic, p), []).append(kind[1])
                        else:
                            ddls.setdefault((topic, p), []).append(kind[1])
        n_parts = sum(len(parts) for parts in broker.topics.values())
        assert n_parts > 0
        # every partition: a watermark at the checkpoint ts, and the DDL
        ckpt = cf.checkpoint_ts()
        assert ckpt is not None
        for topic, parts in broker.topics.items():
            for p in parts:
                assert max(marks.get((topic, p), [0])) == ckpt, (topic, p)
                assert ddls.get((topic, p)) == [ddl["query"]], (topic, p)

    # every other record decodes as the protocol's data, and the
    # consumer's replay equals the direct apply
    image = cl.schema["after"].dataType
    msgs = spark.createDataFrame(data, "key string, value string")
    decoded = PROTOCOLS[protocol].decode(msgs, image)
    rows = decoded.collect()
    assert len(rows) == len(data) > 0
    for r in rows:
        assert r.op in ("I", "U", "D") and r.commit_ts is not None
        assert (r.before if r.op == "D" else r.after) is not None
    state = replay_to_state(decoded)
    _same(state, materialize_state(split_updates(cl)).select(*state.columns))


@pytest.mark.parametrize("protocol",
                         ["csv", "avro-json", "avro", "debezium-avro"])
def test_live_changefeed_refuses_protocol_without_frames(spark, sf_dir,
                                                         tmp_path, protocol):
    cf = Changefeed("cf_refused", ChangefeedConfig(protocol=protocol),
                    str(tmp_path), live_bootstrap="127.0.0.1:9")
    with pytest.raises(ValueError, match=f"'{protocol}'"):
        cf.start(spark, sf_dir, available_now=True)
    assert cf.query is None
