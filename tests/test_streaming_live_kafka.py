"""Streaming changefeed into the LIVE Kafka wire endpoint.

The reference's real deployment shape: a continuous changefeed producing
canal-json to Kafka, broadcasting a TIDB_WATERMARK checkpoint event to
every partition after each flush, with at-least-once delivery (restart
replays append duplicates the consumer's idempotent apply absorbs).
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from ticdc_spark import failpoint
from ticdc_spark.failpoint import FailpointPanic
from ticdc_spark.pipeline import ChangefeedConfig, build_pipeline
from ticdc_spark.sinks.kafka_broker import KafkaBroker
from ticdc_spark.sinks.kafka_client import KafkaConn
from ticdc_spark.sources.changelog import events_changelog
from ticdc_spark.streaming import Changefeed


@pytest.fixture(autouse=True)
def _clean_failpoints():
    failpoint.disable_all()
    yield
    failpoint.disable_all()


CFG = dict(
    dispatchers=[{"matcher": ["test.tp_*"], "partition": "index-value",
                  "topic": "cdc_{schema}_{table}"}],
    protocol="canal-json",
)


def _drain(broker):
    """All (topic, partition, value-json) from the broker, split into data
    messages and watermark messages."""
    data, marks = [], {}
    with KafkaConn.from_bootstrap(broker.bootstrap) as c:
        for topic, parts in broker.topics.items():
            for p in parts:
                for _, rec in c.fetch_all(topic, p):
                    v = rec.value.decode()
                    if '"TIDB_WATERMARK"' in v:
                        marks.setdefault((topic, p), []).append(json.loads(v))
                    else:
                        data.append((topic, p, v))
    return data, marks


def test_changefeed_live_kafka_matches_batch(spark, sf_dir, tmp_path):
    with KafkaBroker(default_partitions=16) as broker:
        cfg = ChangefeedConfig(**CFG)
        cf = Changefeed("cf_live", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap)
        cf.start(spark, sf_dir, available_now=True)
        cf.wait(240)

        data, marks = _drain(broker)
        batch = build_pipeline(events_changelog(spark, sf_dir), cfg)
        expected = {(r["topic"], r["partition"], r["value"])
                    for r in batch.select("topic", "partition", "value").collect()}
        assert set(data) == expected
        assert len(data) == len(expected)  # no duplicates on a clean run

        # watermark broadcast reached EVERY partition of every topic,
        # carrying the changefeed's checkpoint ts
        ckpt = cf.checkpoint_ts()
        assert ckpt is not None
        for topic, parts in broker.topics.items():
            for p in parts:
                wms = marks.get((topic, p), [])
                assert wms, f"no watermark on {topic}/{p}"
                assert max(w["_tidb"]["watermarkTs"] for w in wms) == ckpt
                assert all(w["es"] == w["_tidb"]["watermarkTs"] // 1000
                           for w in wms)


def test_changefeed_live_kafka_crash_replay_idempotent(spark, sf_dir, tmp_path):
    """Crash after the flush (progress not recorded) -> restart re-delivers
    the epoch: the broker log gains duplicates (at-least-once), and the
    consumer's replay_to_state over the decoded log equals the clean
    batch state — the reference's exactly-once-at-the-consumer contract."""
    from ticdc_spark.sinks.consumer import decode_canal_json, replay_to_state

    with KafkaBroker(default_partitions=16) as broker:
        cfg = ChangefeedConfig(**CFG)
        cf = Changefeed("cf_crash", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap)
        failpoint.enable("changefeed/after-flush", "panic")
        with pytest.raises(Exception):
            cf.start(spark, sf_dir, available_now=True)
            cf.wait(240)
            # surface the foreachBatch panic if awaitTermination swallowed it
            cf.query.processAllAvailable()
        failpoint.disable_all()

        cf2 = Changefeed("cf_crash", cfg, str(tmp_path),
                         live_bootstrap=broker.bootstrap)
        cf2.start(spark, sf_dir, available_now=True)
        cf2.wait(240)

        data, _ = _drain(broker)
        n_distinct = len(set(data))
        assert len(data) > n_distinct, "expected duplicate delivery after replay"

        msgs = spark.createDataFrame([(v,) for _, _, v in data], "value string")
        cl = events_changelog(spark, sf_dir)
        image = cl.schema["after"].dataType
        state = replay_to_state(decode_canal_json(msgs, image),
                                order_col="commit_ts")
        clean = replay_to_state(
            decode_canal_json(build_pipeline(cl, cfg).select("value"), image),
            order_col="commit_ts")
        got = {tuple(r) for r in state.collect()}
        want = {tuple(r) for r in clean.collect()}
        assert got == want and len(want) > 0


def test_sink_uri_drives_live_broker(spark, sf_dir, tmp_path):
    """The deployment shape: a changefeed whose TOML sink-uri names the
    broker streams onto that broker's wire — config in, messages out."""
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.streaming.changefeed import bootstrap_from_sink_uri

    with KafkaBroker(default_partitions=16) as broker:
        cfg = parse_changefeed_config(f"""
sink-uri = "kafka://{broker.bootstrap}/cdc?protocol=canal-json"
[sink]
dispatchers = [{{matcher = ["test.tp_*"], partition = "index-value", topic = "cdc_{{schema}}_{{table}}"}}]
""")
        bootstrap = bootstrap_from_sink_uri(cfg)
        assert bootstrap == broker.bootstrap
        cf = Changefeed("cf_uri", cfg, str(tmp_path), live_bootstrap=bootstrap)
        cf.start(spark, sf_dir, available_now=True)
        cf.wait(240)
        total = sum(broker.high_watermark(t, p)
                    for t, parts in broker.topics.items() for p in parts)
        assert total > 0
        assert cf.checkpoint_ts() is not None


@pytest.mark.parametrize("secure", ["sasl", "tls"])
def test_changefeed_dials_with_its_own_connection_options(
        spark, sf_dir, tmp_path, secure):
    """A broker that demands SASL, or TLS, is reached through the
    changefeed config's own options — on every produce and on the
    watermark broadcast.  Without the credentials or the CA the same
    changefeed fails its first epoch instead of producing."""
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.sinks.kafka_live import conn_options
    from ticdc_spark.streaming.changefeed import bootstrap_from_sink_uri

    kw = {"sasl_users": {"alice": "pw"}} if secure == "sasl" else {"tls": True}
    with KafkaBroker(default_partitions=16, **kw) as broker:
        bare_uri = f"kafka://{broker.bootstrap}/cdc?protocol=canal-json"
        if secure == "sasl":
            uri = bare_uri + (
                "&sasl-mechanism=plain&sasl-user=alice&sasl-password=pw")
        else:
            ca = tmp_path / "ca.pem"
            ca.write_bytes(broker.ca_pem)
            uri = (f"kafka+ssl://{broker.bootstrap}/cdc"
                   f"?protocol=canal-json&ca={ca}")

        def feed(name, sink_uri):
            cfg = parse_changefeed_config(f"""
sink-uri = "{sink_uri}"
[sink]
dispatchers = [{{matcher = ["test.tp_*"], partition = "index-value", topic = "cdc_{{schema}}_{{table}}"}}]
""")
            cf = Changefeed(name, cfg, str(tmp_path),
                            live_bootstrap=bootstrap_from_sink_uri(cfg))
            cf.start(spark, sf_dir, available_now=True)
            return cf

        bare = feed("cf_bare", bare_uri)
        with pytest.raises(Exception):
            bare.wait(240)
        assert bare.checkpoint_ts() is None
        if secure == "tls":
            # TLS with no CA to verify against is refused, not dialed plain
            with pytest.raises(ValueError, match="enable-tls"):
                feed("cf_no_ca", uri.replace(f"&ca={ca}", ""))
        cf = feed("cf_opts", uri)
        cf.wait(240)
        data, marks = [], 0
        with KafkaConn.from_bootstrap(
                broker.bootstrap, **conn_options(cf.produce_opts)) as c:
            for topic, parts in broker.topics.items():
                for p in parts:
                    for _, rec in c.fetch_all(topic, p):
                        v = rec.value.decode()
                        if '"TIDB_WATERMARK"' in v:
                            marks += 1
                        else:
                            data.append((topic, p, v))
        batch = build_pipeline(events_changelog(spark, sf_dir),
                               ChangefeedConfig(**CFG))
        assert sorted(data) == sorted(
            (r["topic"], r["partition"], r["value"])
            for r in batch.select("topic", "partition", "value").collect())
        assert marks == sum(len(parts) for parts in broker.topics.values())
        assert cf.checkpoint_ts() is not None


def test_http_api_created_changefeed_streams_to_live_broker(spark, sf_dir, tmp_path):
    """The full control-plane story: POST /api/v2/changefeeds with a
    sink-uri naming the live broker, then registry.run streams the
    changefeed onto the wire — HTTP in, Kafka record batches out."""
    import urllib.request

    from ticdc_spark.api import ApiServer
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    with KafkaBroker(default_partitions=16) as broker:
        reg = ChangefeedRegistry(str(tmp_path), live=True)
        srv = ApiServer(reg)
        port = srv.start()
        try:
            toml = (
                '[sink]\n'
                'dispatchers = [{matcher = ["test.tp_*"], '
                'partition = "index-value", '
                'topic = "cdc_{schema}_{table}"}]\n')
            body = json.dumps({
                "changefeed_id": "cf-api-live",
                "sink_uri": f"kafka://{broker.bootstrap}/cdc?protocol=canal-json",
                "config_toml": toml,
            }).encode()
            req = urllib.request.Request(
                f"http://127.0.0.1:{port}/api/v2/changefeeds", data=body,
                headers={"Content-Type": "application/json"}, method="POST")
            with urllib.request.urlopen(req) as resp:
                assert resp.status in (200, 201, 202)
            reg.run("cf-api-live", spark, sf_dir, timeout_s=240)
            total = sum(broker.high_watermark(t, p)
                        for t, parts in broker.topics.items() for p in parts)
            assert total > 0
            assert reg.get("cf-api-live").checkpoint_ts() is not None
        finally:
            srv.stop()


def test_live_changefeed_ddl_barrier(spark, sf_dir, tmp_path):
    """W3 over the live wire: a mid-stream DDL splits the epoch at its
    commit ts — pre rows produce first, then the canal-json DDL message
    broadcasts to EVERY partition exactly once, then post rows — and the
    schema-version registry bumps."""
    cl = events_changelog(spark, sf_dir)
    tss = sorted(r[0] for r in cl.select("commit_ts").collect())
    ddl_ts = tss[len(tss) // 2]

    with KafkaBroker(default_partitions=4) as broker:
        cfg = ChangefeedConfig(**CFG, n_partitions=4)
        cf = Changefeed("cf_ddl", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap)
        cf.ddl_events = [{
            "commit_ts": ddl_ts, "schema_name": "test",
            "table_name": "tp_click", "ddl_type": "add-column",
            "query": "ALTER TABLE tp_click ADD COLUMN note VARCHAR(16)",
        }]
        cf.start(spark, sf_dir, available_now=True)
        cf.wait(240)

        with KafkaConn.from_bootstrap(broker.bootstrap) as c:
            for topic, parts in broker.topics.items():
                for p in parts:
                    msgs = [json.loads(rec.value.decode())
                            for _, rec in c.fetch_all(topic, p)]
                    ddls = [i for i, m in enumerate(msgs) if m.get("isDdl")]
                    # exactly once per partition
                    assert len(ddls) == 1, f"{topic}/{p}: {len(ddls)} DDLs"
                    i = ddls[0]
                    assert msgs[i]["type"] == "ALTER"
                    assert "ADD COLUMN note" in msgs[i]["sql"]
                    assert msgs[i]["es"] == ddl_ts // 1000
                    # barrier ordering: data before the DDL is at-or-below
                    # the barrier, data after is above it (es = ts//1000;
                    # compare at ms precision with the boundary excluded)
                    ddl_es = ddl_ts // 1000
                    for m in msgs[:i]:
                        if not m.get("isDdl") and m["type"] != "TIDB_WATERMARK":
                            assert m["es"] <= ddl_es
                    for m in msgs[i + 1:]:
                        if not m.get("isDdl") and m["type"] != "TIDB_WATERMARK":
                            assert m["es"] >= ddl_es

        # data completeness: the split epoch lost nothing vs the batch plan
        data, _marks = _drain(broker)
        data = [d for d in data if '"isDdl":true' not in d[2]]
        batch = build_pipeline(events_changelog(spark, sf_dir), cfg)
        expected = {(r["topic"], r["partition"], r["value"])
                    for r in batch.select("topic", "partition", "value").collect()}
        assert set(data) == expected and len(data) == len(expected)

        # registry bumped once; the ts book marks it applied
        import os
        vpath = os.path.join(str(tmp_path), "schema_versions", "cf_ddl.jsonl")
        with open(vpath) as f:
            versions = [json.loads(ln) for ln in f]
        assert [v["version"] for v in versions] == [1]
        assert versions[0]["ddl_ts"] == ddl_ts
        from ticdc_spark.streaming.barrier import DDLTsBook
        book = DDLTsBook(os.path.join(str(tmp_path), "ddl", "cf_ddl.book.jsonl"))
        assert not book.should_apply(ddl_ts)


def test_schema_registry_bump_idempotent_per_ddl_ts(tmp_path):
    """A crash between the registry append and the DDLTsBook record
    replays the DDL; the replayed bump must not create a phantom schema
    version (ADVICE r4: version derives from distinct ddl_ts)."""
    import json as _json

    from ticdc_spark.streaming.changefeed import bump_schema_registry

    path = str(tmp_path / "schema_versions" / "cf.jsonl")
    d1 = {"commit_ts": 100, "schema_name": "s", "table_name": "t",
          "query": "alter table t add column c int"}
    d2 = {"commit_ts": 200, "schema_name": "s", "table_name": "t",
          "query": "alter table t drop column c"}
    # two DISTINCT DDLs sharing one commit_ts (a multi-statement batch):
    # identity is (ddl_ts, query), so BOTH get version lines
    d2b = {"commit_ts": 200, "schema_name": "s", "table_name": "t2",
           "query": "alter table t2 add column d int"}
    bump_schema_registry(path, d1)
    bump_schema_registry(path, d1)  # crash-replay of the same DDL
    bump_schema_registry(path, d2)
    bump_schema_registry(path, d2)
    bump_schema_registry(path, d2b)  # same ts, different DDL -> new line
    bump_schema_registry(path, d2b)
    with open(path) as f:
        lines = [_json.loads(ln) for ln in f if ln.strip()]
    assert [(ln["version"], ln["ddl_ts"]) for ln in lines] == [
        (1, 100), (2, 200), (3, 200)]


def test_live_rewind_rebroadcasts_rewound_ddl(spark, sf_dir, tmp_path):
    """Resume with overwrite_checkpoint_ts on a LIVE changefeed: the
    rewound range re-produces (at-least-once, consumer dedups), rows at
    or below the rewind point do NOT, and a DDL inside the rewound
    range re-broadcasts exactly once per partition (its DDLTsBook entry
    was pruned) — the 'rewind a changefeed' operator workflow."""
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    cl = events_changelog(spark, sf_dir)
    tss = sorted(r[0] for r in cl.select("commit_ts").collect())
    ddl_ts = tss[len(tss) // 2]
    # rewind strictly below the DDL, on a CLEAN ms boundary so the
    # es-granularity (ms) message check has no boundary ambiguity
    rewind_ts = (ddl_ts // 1000 - 2) * 1000
    ddl = {"commit_ts": ddl_ts, "schema_name": "test",
           "table_name": "tp_click", "ddl_type": "add-column",
           "query": "ALTER TABLE tp_click ADD COLUMN note VARCHAR(16)"}

    toml = ('[sink]\n'
            'dispatchers = [{matcher = ["test.tp_*"], '
            'partition = "index-value", '
            'topic = "cdc_{schema}_{table}"}]\n')
    with KafkaBroker(default_partitions=16) as broker:
        reg = ChangefeedRegistry(str(tmp_path), live=True)
        reg.create(
            "cf_rw", toml,
            sink_uri=f"kafka://{broker.bootstrap}/cdc?protocol=canal-json")
        reg.get("cf_rw").ddl_events = [ddl]
        reg.run("cf_rw", spark, sf_dir, timeout_s=240)
        data1, _ = _drain(broker)
        assert len([d for d in data1 if '"isDdl":true' not in d[2]]) > 0

        reg.pause("cf_rw")
        reg.resume("cf_rw", overwrite_checkpoint_ts=rewind_ts)
        cf2 = reg.get("cf_rw")  # rebuilt: re-attach the DDL feed
        cf2.ddl_events = [ddl]
        assert cf2.cfg.start_ts == rewind_ts
        reg.run("cf_rw", spark, sf_dir, timeout_s=240)

        data2, _ = _drain(broker)
        msgs = [json.loads(v) for _, _, v in data2]
        ddls = [m for m in msgs if m.get("isDdl")]
        rows = [m for m in msgs if not m.get("isDdl")]
        # the DDL re-broadcast exactly once per partition (book pruned)
        n_parts = sum(len(parts) for parts in broker.topics.values())
        assert len(ddls) == 2 * n_parts
        # every re-delivered row is strictly above the rewind point;
        # rows at/below it appear exactly once (never re-produced)
        rewind_es = rewind_ts // 1000
        from collections import Counter

        by_es = Counter()
        for m in rows:
            by_es[m["es"] <= rewind_es] += 1
        batch = build_pipeline(events_changelog(spark, sf_dir),
                               ChangefeedConfig(**CFG))
        n_le = batch.filter(
            (F.col("commit_ts") / 1000).cast("long") <= rewind_es).count()
        n_gt = batch.count() - n_le
        assert by_es[True] == n_le          # delivered once
        assert by_es[False] == 2 * n_gt     # rewound range re-delivered


def test_crash_between_ddl_broadcast_and_checkpoint_commit(
        spark, sf_dir, tmp_path):
    """The checkpoint_race_ddl_crash window (reference e2e): kill the
    changefeed AFTER the DDL broadcast hits the wire but BEFORE the
    registry bump + DDLTsBook record + epoch commit.  Restart replays
    the epoch and re-broadcasts the DDL (at-least-once on the wire —
    the consumer dedup contract), but the schema-version registry gains
    exactly ONE line and the DDLTsBook exactly one entry: the DDL
    applies exactly once downstream."""
    import json as _json
    import os

    from ticdc_spark.sinks.consumer import decode_canal_json, replay_to_state
    from ticdc_spark.streaming.barrier import DDLTsBook

    cl = events_changelog(spark, sf_dir)
    tss = sorted(r[0] for r in cl.select("commit_ts").collect())
    ddl_ts = tss[len(tss) // 2]
    ddl = {"commit_ts": ddl_ts, "schema_name": "test",
           "table_name": "tp_click", "ddl_type": "add-column",
           "query": "ALTER TABLE tp_click ADD COLUMN note VARCHAR(16)"}

    with KafkaBroker(default_partitions=16) as broker:
        cfg = ChangefeedConfig(**CFG)
        cf = Changefeed("cf_ddl_race", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap)
        cf.ddl_events = [ddl]
        failpoint.enable("changefeed/after-ddl-broadcast", "1*panic")
        with pytest.raises(Exception):
            cf.start(spark, sf_dir, available_now=True)
            cf.wait(240)
            cf.query.processAllAvailable()
        failpoint.disable_all()

        # the broadcast DID land before the crash...
        data_mid, _ = _drain(broker)
        ddls_mid = [v for _, _, v in data_mid if '"isDdl":true' in v]
        assert ddls_mid, "DDL broadcast missing before the crash point"
        # ...but neither the version bump nor the book record happened
        reg_path = os.path.join(str(tmp_path), "schema_versions",
                                "cf_ddl_race.jsonl")
        assert not os.path.exists(reg_path)
        assert DDLTsBook(os.path.join(
            str(tmp_path), "ddl", "cf_ddl_race.book.jsonl")
        ).should_apply(ddl_ts)

        # owner restart with the same checkpoint: epoch replays
        cf2 = Changefeed("cf_ddl_race", cfg, str(tmp_path),
                         live_bootstrap=broker.bootstrap)
        cf2.ddl_events = [ddl]
        cf2.start(spark, sf_dir, available_now=True)
        cf2.wait(240)

        data, _ = _drain(broker)
        msgs = [_json.loads(v) for _, _, v in data]
        ddls = [m for m in msgs if m.get("isDdl")]
        # re-broadcast happened (2 frames per partition: crashed attempt
        # + replay) — at-least-once on the wire, like the data path
        n_parts = sum(len(parts) for parts in broker.topics.values())
        assert len(ddls) == 2 * n_parts

        # exactly-once downstream apply: ONE registry line, ONE book
        # entry, and a third run would skip the DDL entirely
        with open(reg_path) as f:
            lines = [_json.loads(ln) for ln in f if ln.strip()]
        assert [(ln["version"], ln["ddl_ts"]) for ln in lines] == [
            (1, ddl_ts)]
        book = DDLTsBook(os.path.join(
            str(tmp_path), "ddl", "cf_ddl_race.book.jsonl"))
        assert not book.should_apply(ddl_ts)

        # and the data stream dedups to the clean batch state
        rows = spark.createDataFrame(
            [(v,) for _, _, v in data if '"isDdl":true' not in v
             and '"TIDB_WATERMARK"' not in v], "value string")
        image = cl.schema["after"].dataType
        state = replay_to_state(decode_canal_json(rows, image),
                                order_col="commit_ts")
        clean = replay_to_state(
            decode_canal_json(build_pipeline(cl, cfg), image),
            order_col="commit_ts")
        assert state.exceptAll(clean).count() == 0
        assert clean.exceptAll(state).count() == 0


def test_overwrite_resume_forward_with_syncpoint(spark, sf_dir, tmp_path):
    """e2e `overwrite_resume_with_syncpoint`: a SYNC-POINT changefeed is
    paused and resumed with a FORWARD overwrite_checkpoint_ts (skip
    ahead).  Rows at/below the new ts never re-deliver (here: the whole
    corpus — zero new data messages), the changefeed stays healthy with
    a fresh checkpoint, and the syncpoint ledger keeps its monotone
    primary-ts sequence across the resume."""
    import json as _json
    import os

    from ticdc_spark.streaming.registry import ChangefeedRegistry

    toml = ('enable-sync-point = true\n'
            'sync-point-interval = "10m"\n'
            '[sink]\n'
            'dispatchers = [{matcher = ["test.tp_*"], '
            'partition = "index-value", '
            'topic = "cdc_{schema}_{table}"}]\n')
    with KafkaBroker(default_partitions=16) as broker:
        reg = ChangefeedRegistry(str(tmp_path), live=True)
        reg.create(
            "cf_fwd", toml,
            sink_uri=f"kafka://{broker.bootstrap}/cdc?protocol=canal-json")
        reg.run("cf_fwd", spark, sf_dir, timeout_s=240)
        data1, _ = _drain(broker)
        assert data1
        cf1 = reg.get("cf_fwd")
        ckpt = cf1.checkpoint_ts()
        assert ckpt is not None

        sp_path = os.path.join(str(tmp_path), "syncpoint", "cf_fwd.jsonl")
        with open(sp_path) as f:
            sp1 = [_json.loads(ln)["primary_ts"] for ln in f if ln.strip()]
        assert sp1 == sorted(set(sp1))  # monotone, no dups

        # skip AHEAD of everything delivered so far (+1s like the e2e's
        # checkpoint1 + 1000000 in tso units)
        reg.pause("cf_fwd")
        reg.resume("cf_fwd", overwrite_checkpoint_ts=ckpt + 1_000_000)
        cf2 = reg.get("cf_fwd")
        assert cf2.cfg.start_ts == ckpt + 1_000_000
        reg.run("cf_fwd", spark, sf_dir, timeout_s=240)

        # forward skip: nothing re-delivers (rows <= start_ts count as
        # already replicated)
        data2, _ = _drain(broker)
        assert len(data2) == len(data1)
        # changefeed is healthy (normal state, no error)
        assert reg.list()["cf_fwd"] in ("normal", "finished")
        # syncpoint ledger still monotone after the resume; no rewound
        # duplicate boundaries
        with open(sp_path) as f:
            sp2 = [_json.loads(ln)["primary_ts"] for ln in f if ln.strip()]
        assert sp2[:len(sp1)] == sp1
        assert sp2 == sorted(set(sp2))


def test_live_changefeed_commit_order_per_partition(spark, sf_dir, tmp_path):
    """Every partition's log is in commit order: the produce sorts on the
    replay key AFTER its (topic, partition) shuffle, because a shuffle
    concatenates the sorted runs of its inputs.  The input is a shuffled
    copy of the events in many row groups, scanned as several splits, so
    neither the file's row order nor a single split orders it."""
    import random

    import pyarrow.parquet as pq

    src = tmp_path / "src"
    src.mkdir()
    t = pq.read_table(f"{sf_dir}/events.parquet")
    t = t.take(random.Random(7).sample(range(t.num_rows), t.num_rows))
    pq.write_table(t, str(src / "events.parquet"), row_group_size=64)
    cfg = ChangefeedConfig(**CFG, n_partitions=4)
    old = spark.conf.get("spark.sql.files.maxPartitionBytes")
    spark.conf.set("spark.sql.files.maxPartitionBytes", "8k")
    try:
        with KafkaBroker(default_partitions=4) as broker:
            cf = Changefeed("cf_order", cfg, str(tmp_path / "work"),
                            live_bootstrap=broker.bootstrap)
            cf.start(spark, str(src), available_now=True)
            cf.wait(240)
            n_data = 0
            with KafkaConn.from_bootstrap(broker.bootstrap) as c:
                for topic, parts in broker.topics.items():
                    for p in parts:
                        es = [m["es"] for m in (
                            json.loads(rec.value.decode())
                            for _, rec in c.fetch_all(topic, p))
                            if m["type"] != "TIDB_WATERMARK"]
                        n_data += len(es)
                        assert es == sorted(es), f"{topic}/{p} out of order"
    finally:
        spark.conf.set("spark.sql.files.maxPartitionBytes", old)
    assert n_data == build_pipeline(
        events_changelog(spark, str(src)), cfg).count()


def _split_by_time(sf_dir, tmp_path, n=3):
    """The events cut into ``n`` commit-time slices: a stream dir with one
    file per slice (one epoch each under ``memory_quota=1``), and one
    batch dir per slice."""
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/events.parquet").sort_by("ts")
    k = t.num_rows // n
    ones = []
    for i in range(n):
        part = t.slice(i * k, k if i < n - 1 else None)
        d = tmp_path / "stream" / "events.parquet" / f"batch={i}"
        d.mkdir(parents=True)
        pq.write_table(part, str(d / "events.parquet"))
        one = tmp_path / f"slice{i}"
        one.mkdir()
        pq.write_table(part, str(one / "events.parquet"))
        ones.append(str(one))
    return str(tmp_path / "stream"), ones


@pytest.mark.parametrize("live", [True, False], ids=["live", "file"])
def test_epoch_summary_matches_batch_aggregate(spark, sf_dir, tmp_path, live):
    """The checkpoint is what the flush reported: each epoch's progress
    rows/resolved_ts equal a batch aggregate over that epoch's input — on
    the live wire (the produce tasks' summary) and on the file sink (one
    aggregate)."""
    import contextlib

    stream, slices = _split_by_time(sf_dir, tmp_path)
    cfg = ChangefeedConfig(**CFG, n_partitions=4, memory_quota=1)
    want = []
    for d in slices:
        n, ts = build_pipeline(events_changelog(spark, d), cfg).agg(
            F.count(F.lit(1)), F.max("commit_ts")).first()
        want.append((n, ts))
    work = str(tmp_path / "work")
    with (KafkaBroker(default_partitions=4) if live
          else contextlib.nullcontext()) as broker:
        cf = Changefeed("cf_sum", cfg, work,
                        live_bootstrap=broker.bootstrap if live else None)
        cf.start(spark, stream, available_now=True)
        cf.wait(240)
    with open(cf.progress_path) as f:
        got = [(e["rows"], e["resolved_ts"]) for e in map(json.loads, f)]
    assert sorted(got) == sorted(want)


@pytest.mark.parametrize("live", [True, False], ids=["live", "file"])
def test_filtered_out_epoch_records_nothing(spark, sf_dir, tmp_path, live):
    """A filter rule that drops every table: the epoch reports 0 rows, so
    no progress entry and no watermark broadcast."""
    import contextlib
    import os

    cfg = ChangefeedConfig(**CFG, n_partitions=4,
                           filter_rules=["nosuch.*"])
    with (KafkaBroker(default_partitions=4) if live
          else contextlib.nullcontext()) as broker:
        cf = Changefeed("cf_none", cfg, str(tmp_path),
                        live_bootstrap=broker.bootstrap if live else None)
        cf.start(spark, sf_dir, available_now=True)
        cf.wait(240)
        assert cf.query.lastProgress["numInputRows"] > 0
        if live:
            data, marks = _drain(broker)
            assert not data and not marks
    assert not os.path.exists(cf.progress_path)


def test_live_rewind_starts_past_the_progress_log(spark, sf_dir, tmp_path):
    """A live changefeed writes no sink epoch dirs, so a rewind takes its
    epoch-id namespace from the progress log: the rewound run's epochs
    get fresh ids and every progress entry keeps a unique epoch id."""
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    stream, slices = _split_by_time(sf_dir, tmp_path)
    rewind_ts = events_changelog(spark, slices[0]).agg(
        F.max("commit_ts")).first()[0]
    toml = ('memory-quota = 1\n'
            '[sink]\n'
            'dispatchers = [{matcher = ["test.tp_*"], '
            'partition = "index-value", '
            'topic = "cdc_{schema}_{table}"}]\n')
    work = str(tmp_path / "work")
    with KafkaBroker(default_partitions=16) as broker:
        reg = ChangefeedRegistry(work, live=True)
        reg.create(
            "cf_ids", toml,
            sink_uri=f"kafka://{broker.bootstrap}/cdc?protocol=canal-json")
        reg.run("cf_ids", spark, stream, timeout_s=240)
        reg.pause("cf_ids")
        reg.resume("cf_ids", overwrite_checkpoint_ts=rewind_ts)
        reg.run("cf_ids", spark, stream, timeout_s=240)
        cf = reg.get("cf_ids")
    with open(cf.progress_path) as f:
        epochs = [json.loads(ln)["epoch"] for ln in f]
    # the rewound run re-delivers every slice but the first
    assert epochs == [0, 1, 2, 4, 5]
    assert cf.epoch_offset == len(slices)


@pytest.mark.parametrize("quota, epochs", [(None, 1), (1, 3)],
                         ids=["default_quota", "quota_1"])
def test_backlog_epochs_follow_memory_quota(spark, sf_dir, tmp_path,
                                            quota, epochs):
    """Three files present before the start are a backlog: under the
    default memory-quota (1 GiB) they drain in ONE epoch, under
    memory-quota = 1 in one epoch per file.  Either way the progress log
    accounts for the batch pipeline's rows up to its max commit ts, the
    broker holds exactly the batch pipeline's records, and every
    partition is in commit order across the file boundaries."""
    stream, _slices = _split_by_time(sf_dir, tmp_path)
    cfg = ChangefeedConfig(**CFG, n_partitions=4,
                           **({} if quota is None else {"memory_quota": quota}))
    batch = build_pipeline(events_changelog(spark, sf_dir), cfg)
    n_rows, max_ts = batch.agg(F.count(F.lit(1)), F.max("commit_ts")).first()
    with KafkaBroker(default_partitions=4) as broker:
        cf = Changefeed("cf_backlog", cfg, str(tmp_path / "work"),
                        live_bootstrap=broker.bootstrap)
        cf.start(spark, stream, available_now=True)
        assert cf.wait(240) is True
        data, _marks = _drain(broker)
    with open(cf.progress_path) as f:
        log = [json.loads(ln) for ln in f]
    assert len(log) == epochs
    assert sum(e["rows"] for e in log) == n_rows
    assert log[-1]["resolved_ts"] == max_ts
    expected = {(r["topic"], r["partition"], r["value"])
                for r in batch.select("topic", "partition", "value").collect()}
    assert set(data) == expected and len(data) == len(expected)
    per_part: dict = {}
    for topic, p, v in data:
        per_part.setdefault((topic, p), []).append(json.loads(v)["es"])
    for (topic, p), es in per_part.items():
        assert es == sorted(es), f"{topic}/{p} out of order"


def test_live_epoch_splits_at_two_ddl_barriers(spark, sf_dir, tmp_path):
    """One backlog epoch spanning two DDLs splits at both: on every
    partition each DDL arrives exactly once and in ts order, the data
    before, between and after them stays within the barriers, nothing is
    lost against the batch plan, and the schema registry reads versions
    [1, 2]."""
    import os

    stream, _slices = _split_by_time(sf_dir, tmp_path)
    tss = sorted(r[0] for r in
                 events_changelog(spark, sf_dir).select("commit_ts").collect())
    ddls = [{"commit_ts": tss[len(tss) * i // 3], "schema_name": "test",
             "table_name": "tp_click", "ddl_type": "add-column",
             "query": f"ALTER TABLE tp_click ADD COLUMN c{i} INT"}
            for i in (1, 2)]
    # data es (ms) between barriers, boundaries inclusive at ms precision
    edges = [float("-inf"), *(d["commit_ts"] // 1000 for d in ddls),
             float("inf")]
    cfg = ChangefeedConfig(**CFG, n_partitions=4)
    work = str(tmp_path / "work")
    with KafkaBroker(default_partitions=4) as broker:
        cf = Changefeed("cf_ddl2", cfg, work,
                        live_bootstrap=broker.bootstrap)
        cf.ddl_events = ddls
        cf.start(spark, stream, available_now=True)
        assert cf.wait(240) is True
        with KafkaConn.from_bootstrap(broker.bootstrap) as c:
            for topic, parts in broker.topics.items():
                for p in parts:
                    msgs = [json.loads(rec.value.decode())
                            for _, rec in c.fetch_all(topic, p)]
                    at = [i for i, m in enumerate(msgs) if m.get("isDdl")]
                    assert [msgs[i]["sql"] for i in at] \
                        == [d["query"] for d in ddls], f"{topic}/{p}"
                    cuts = [-1, *at, len(msgs)]
                    for j in range(3):
                        for m in msgs[cuts[j] + 1:cuts[j + 1]]:
                            if m["type"] != "TIDB_WATERMARK":
                                assert edges[j] <= m["es"] <= edges[j + 1], \
                                    f"{topic}/{p} segment {j}"
        data, _marks = _drain(broker)
    with open(cf.progress_path) as f:
        assert len(f.readlines()) == 1  # both barriers in one epoch
    data = [d for d in data if '"isDdl":true' not in d[2]]
    batch = build_pipeline(events_changelog(spark, sf_dir), cfg)
    expected = {(r["topic"], r["partition"], r["value"])
                for r in batch.select("topic", "partition", "value").collect()}
    assert set(data) == expected and len(data) == len(expected)
    with open(os.path.join(work, "schema_versions", "cf_ddl2.jsonl")) as f:
        versions = [json.loads(ln) for ln in f]
    assert [v["version"] for v in versions] == [1, 2]
    assert [v["ddl_ts"] for v in versions] == [d["commit_ts"] for d in ddls]
