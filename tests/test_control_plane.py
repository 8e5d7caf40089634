"""Control plane: TOML config parsing + changefeed registry lifecycle,
large-message handling, active-active transforms."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import functions as F

from ticdc_spark.codec import encode_canal_json
from ticdc_spark.config import parse_changefeed_config
from ticdc_spark.operators.active_active import (
    deletes_to_soft_deletes,
    soft_deletes_to_deletes,
)
from ticdc_spark.operators.large_message import apply_handle_key_only, with_claim_check
from ticdc_spark.sources.changelog import events_changelog
from ticdc_spark.streaming.registry import ChangefeedRegistry

REFERENCE_TOML = """
[filter]
rules = ['*.*', '!test.tp_view']

[[filter.event-filters]]
matcher = ['test.tp_click']
ignore-event = ['update']

[[filter.event-filters]]
matcher = ['test.tp_*']
ignore-insert-value-expr = 'val > 195.0'

[sink]
protocol = "canal-json"
only-output-updated-columns = true

[[sink.column-selectors]]
matcher = ['test.tp_signup']
columns = ['id', 'val']

[[sink.dispatchers]]
matcher = ['test.tp_*']
partition = "index-value"
topic = "cdc_{schema}_{table}"
"""


def test_toml_config_parses_reference_field_names():
    cfg = parse_changefeed_config(REFERENCE_TOML)
    assert cfg.filter_rules == ["*.*", "!test.tp_view"]
    assert cfg.event_filters == [
        {"matcher": ["test.tp_click"], "ignore-event": ["update"]}
    ]
    assert cfg.expr_filter == {
        "matcher": ["test.tp_*"], "ignore-insert-value-expr": "val > 195.0"
    }
    assert cfg.column_selectors[0]["columns"] == ["id", "val"]
    assert cfg.dispatchers[0]["partition"] == "index-value"
    assert cfg.protocol == "canal-json"
    assert cfg.only_output_updated_columns is True


def test_registry_lifecycle(spark, sf_dir, tmp_path):
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf1", REFERENCE_TOML)
    assert reg.list() == {"cf1": "normal"}
    reg.run("cf1", spark, sf_dir, timeout_s=240)
    cf = reg.get("cf1")
    out = spark.read.json(f"{cf.sink_dir}/epoch=*")
    assert out.count() > 0
    # tp_view filtered out by rules; tp_click updates dropped
    topics = {r["topic"] for r in out.select("topic").distinct().collect()}
    assert "cdc_test_tp_view" not in topics
    reg.pause("cf1")
    assert reg.list()["cf1"] == "stopped"
    reg.resume("cf1")
    reg.remove("cf1")
    assert reg.list()["cf1"] == "removed"


def test_handle_key_only_fallback(spark, sf_dir):
    from ticdc_spark.operators.projections import delete_handle_key_only

    cl = events_changelog(spark, sf_dir).limit(200)
    encoded = encode_canal_json(cl)

    def small(df):
        # handle-key-only: strip BOTH images to pk columns then re-encode
        stripped = df
        for img in ("before", "after"):
            stripped = stripped.withColumn(
                img,
                F.when(
                    F.col(img).isNotNull(),
                    F.struct(
                        F.col(f"{img}.id").alias("id"),
                        F.lit(None).cast("double").alias("val"),
                        F.lit(None).cast("long").alias("k"),
                    ),
                ),
            )
        return encode_canal_json(stripped)

    out = apply_handle_key_only(encoded, small, max_bytes=260)
    rows = out.select("is_large", F.length("value").alias("len"), "value").collect()
    assert any(r["is_large"] for r in rows), "fixture produced no large messages"
    for r in rows:
        if r["is_large"]:
            assert '"val":null' in r["value"]


def test_claim_check(spark, sf_dir):
    cl = events_changelog(spark, sf_dir).limit(100)
    out = with_claim_check(encode_canal_json(cl), max_bytes=260)
    rows = out.collect()
    large = [r for r in rows if r["is_large"]]
    assert large
    for r in large:
        assert r["value"].startswith('{"claimCheckLocation":"s3://claims/')
        assert r["claim_location"] in r["value"]


def test_active_active_round_trip(spark, sf_dir):
    cl = events_changelog(spark, sf_dir).limit(300)
    soft = deletes_to_soft_deletes(cl)
    assert soft.filter(F.col("op") == "D").count() == 0
    assert soft.filter(F.col("soft_delete") & F.col("after").isNull()).count() == 0
    back = soft_deletes_to_deletes(soft)
    # round trip restores the original op multiset
    orig = {(r["seq"], r["op"]) for r in cl.select("seq", "op").collect()}
    rt = {(r["seq"], r["op"]) for r in back.select("seq", "op").collect()}
    assert orig == rt


def test_pipeline_all_protocols_and_knobs(spark, sf_dir):
    """Every protocol in the sink enum compiles and encodes through
    build_pipeline; large-message modes and compression compose on top;
    unknown names raise."""
    import pytest

    from ticdc_spark.pipeline import PROTOCOLS, ChangefeedConfig, build_pipeline
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir).limit(200)
    for proto in sorted(PROTOCOLS):
        out = build_pipeline(cl, ChangefeedConfig(protocol=proto))
        n = out.filter(out["value"].isNotNull()).count()
        assert n > 0, proto
    # handle-key-only: oversized rows shrink to pk-only messages
    out = build_pipeline(cl, ChangefeedConfig(
        protocol="canal-json",
        large_message_handle={"large-message-handle-option": "handle-key-only",
                              "max-message-bytes": 280},
    ))
    rows = out.select("is_large", "value").collect()
    assert any(r["is_large"] for r in rows)
    for r in rows:
        if r["is_large"]:
            assert '"val"' not in r["value"]  # non-key columns stripped
    # claim-check: pointers replace oversized payloads
    out = build_pipeline(cl, ChangefeedConfig(
        protocol="canal-json",
        large_message_handle={"large-message-handle-option": "claim-check",
                              "max-message-bytes": 280},
    ))
    assert out.filter(out["value"].contains("claimCheckLocation")).count() > 0
    # claim-check-raw-value: legal for canal-json, prohibited for the
    # open protocol (`pkg/config/large_message.go:89`)
    out = build_pipeline(cl, ChangefeedConfig(
        protocol="canal-json",
        large_message_handle={"large-message-handle-option": "claim-check",
                              "claim-check-raw-value": True,
                              "max-message-bytes": 280},
    ))
    big = out.filter(out["is_large"]).select("payload", "value").collect()
    assert big and all(r["payload"].startswith("{\"id\"")  # bare canal
                       for r in big)                       # value, no
    with pytest.raises(ValueError, match="raw value is not supported"):  # envelope
        build_pipeline(cl, ChangefeedConfig(
            protocol="open-protocol",
            large_message_handle={
                "large-message-handle-option": "claim-check",
                "claim-check-raw-value": True,
                "max-message-bytes": 280},
        ))
    # compression composes at the very end
    out = build_pipeline(cl, ChangefeedConfig(protocol="csv", compression="zlib"))
    assert dict(out.dtypes)["value"] == "binary"
    assert out.count() >= 200  # update-split expands key-changing updates
    with pytest.raises(ValueError):
        build_pipeline(cl, ChangefeedConfig(protocol="no-such-protocol"))
    with pytest.raises(ValueError):
        build_pipeline(cl, ChangefeedConfig(
            large_message_handle={"large-message-handle-option": "bogus"}))


FULL_TOML = """
case-sensitive = true
force-replicate = true
memory-quota = 536870912
enable-sync-point = true
sync-point-interval = "10m"
sync-point-retention = "24h"

[filter]
rules = ['*.*']

[sink]
protocol = "csv"
safe-mode = true
terminator = "\\n"
date-separator = "month"
file-index-width = 8

[sink.csv]
include-commit-ts = false
binary-encoding-method = "hex"
quote = ""

[integrity]
integrity-check-level = "correctness"
"""


def test_replica_config_full_surface():
    cfg = parse_changefeed_config(FULL_TOML)
    assert cfg.case_sensitive is True
    assert cfg.force_replicate is True
    assert cfg.memory_quota == 512 * 1024 * 1024
    assert cfg.enable_sync_point is True
    assert cfg.sync_point_interval_us == 600 * 1_000_000
    # nothing prunes the syncpoint ledger: a retention other than the
    # reference's 24h is refused by name
    with pytest.raises(ValueError, match="sync-point-retention"):
        parse_changefeed_config(
            FULL_TOML.replace('"24h"', '"1h30m"'))
    assert cfg.safe_mode is True
    assert cfg.terminator == "\n"
    assert cfg.date_separator == "month"
    assert cfg.file_index_width == 8
    assert cfg.csv_config == {
        "include-commit-ts": False,
        "binary-encoding-method": "hex",
        "quote": "",
    }
    assert cfg.integrity_check_level == "correctness"
    # defaults mirror the reference's
    d = parse_changefeed_config(REFERENCE_TOML)
    assert d.case_sensitive is False and d.memory_quota == 1024**3
    assert d.terminator == "\r\n" and d.integrity_check_level == "none"


def test_duration_parsing():
    from ticdc_spark.config import parse_duration_us

    assert parse_duration_us("30s") == 30_000_000
    assert parse_duration_us("1h30m") == 5400 * 1_000_000
    assert parse_duration_us("150ms") == 150_000
    for bad in ("", "10", "m10", "10x", "1h 30m"):
        with pytest.raises(ValueError):
            parse_duration_us(bad)


def test_csv_config_and_integrity_through_pipeline(spark, sf_dir):
    from ticdc_spark.pipeline import build_pipeline

    cfg = parse_changefeed_config(FULL_TOML)
    out = build_pipeline(events_changelog(spark, sf_dir), cfg)
    rows = out.select("value", "checksum").limit(5).collect()
    for r in rows:
        assert r["checksum"] is not None
        # quote="" selects escape mode: no quote chars on the wire
        assert '"' not in r["value"]
        # include-commit-ts=false: [op, schema, table, id, val, k]
        assert len(r["value"].split(",")) == 6


def test_bad_integrity_level_rejected(spark, sf_dir):
    from ticdc_spark.pipeline import build_pipeline

    cfg = parse_changefeed_config(REFERENCE_TOML)
    cfg.integrity_check_level = "paranoid"
    with pytest.raises(ValueError):
        build_pipeline(events_changelog(spark, sf_dir), cfg)


def test_syncpoint_stream_written(spark, sf_dir, tmp_path):
    import json as _json
    import os as _os

    from ticdc_spark.streaming.registry import ChangefeedRegistry

    # top-level keys must precede the first table header in TOML
    toml = ('enable-sync-point = true\nsync-point-interval = "1h"\n'
            + REFERENCE_TOML)
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf-sync", toml)
    reg.run("cf-sync", spark, sf_dir, timeout_s=240)
    path = _os.path.join(str(tmp_path), "syncpoint", "cf-sync.jsonl")
    assert _os.path.exists(path)
    pts = [_json.loads(line) for line in open(path)]
    assert pts, "no syncpoints written"
    iv = 3_600_000_000
    assert all(p["primary_ts"] % iv == 0 for p in pts)
    # strictly increasing, no duplicates across micro-batches
    primaries = [p["primary_ts"] for p in pts]
    assert primaries == sorted(set(primaries))
    assert all(p["secondary_ts"] >= p["primary_ts"] - iv for p in pts)


def test_sink_uri_scheme_dispatch(spark, sf_dir):
    """compile_changefeed shapes the DAG per sink scheme
    (`downstreamadapter/sink/sink.go:53`)."""
    from ticdc_spark.pipeline import ChangefeedConfig, compile_changefeed

    cl = events_changelog(spark, sf_dir).limit(300)
    # MQ: message frame
    mq = compile_changefeed(cl, ChangefeedConfig(
        sink_uri="kafka://broker:9092/topic",
        dispatchers=[{"matcher": ["*.*"], "partition": "index-value",
                      "topic": "cdc_{schema}_{table}"}]))
    assert {"topic", "partition", "value"} <= set(mq.columns)
    assert mq.count() > 0
    # DB: batched dialect SQL over compacted net rows
    db = compile_changefeed(cl, ChangefeedConfig(
        sink_uri="mysql://root@host:4000/"))
    stmts = [r["stmt"] for r in db.limit(50).collect()]
    assert stmts and all(
        s.startswith(("INSERT INTO", "DELETE FROM", "UPDATE ")) for s in stmts)
    # DB safe-mode: per-row REPLACE upserts
    safe = compile_changefeed(cl, ChangefeedConfig(
        sink_uri="tidb://root@host:4000/", safe_mode=True))
    ops = safe.select("op", "stmt").limit(200).collect()
    assert any(r["stmt"].startswith("REPLACE INTO") for r in ops
               if r["op"] in ("I", "U"))
    # storage: layout columns + encoded value
    st = compile_changefeed(cl, ChangefeedConfig(
        sink_uri="s3://bucket/prefix", protocol="csv",
        date_separator="month", file_index_width=8))
    row = st.select("path", "file_name", "value").first()
    assert row["path"].startswith("test/tp_")
    assert row["file_name"].startswith("CDC") and row["file_name"].endswith(".csv")
    assert len(row["file_name"]) == len("CDC") + 8 + len(".csv")
    # unknown scheme rejected
    with pytest.raises(ValueError):
        compile_changefeed(cl, ChangefeedConfig(sink_uri="ftp://nope"))


def test_changefeed_runs_mysql_and_storage_sinks(spark, sf_dir, tmp_path):
    """End-to-end streaming run for the DB and storage schemes — the
    sink tail executes inside foreachBatch."""
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf-db", 'sink-uri = "mysql://root@h:4000/"\n' + REFERENCE_TOML)
    reg.run("cf-db", spark, sf_dir, timeout_s=240)
    out = spark.read.json(f"{reg.get('cf-db').sink_dir}/epoch=*")
    assert out.count() > 0 and "stmt" in out.columns

    reg.create("cf-s3", 'sink-uri = "s3://bucket/p"\nenable-sync-point = true\n'
               + REFERENCE_TOML)
    reg.run("cf-s3", spark, sf_dir, timeout_s=240)
    out = spark.read.json(f"{reg.get('cf-s3').sink_dir}/epoch=*")
    assert out.count() > 0 and {"path", "file_name", "value"} <= set(out.columns)


def test_txn_atomicity_table_never_splits_txn(spark, sf_dir):
    from ticdc_spark.sinks.mysql import txn_flush_batches

    cl = events_changelog(spark, sf_dir)
    b = txn_flush_batches(cl, max_txn_row=16, atomicity="table")
    # invariant: one flush batch per (table, start_ts)
    spans = (b.groupBy("schema_name", "table_name", "start_ts")
             .agg(F.countDistinct("flush_batch").alias("n"))
             .filter(F.col("n") > 1).count())
    assert spans == 0
    # none-mode chunks at the row threshold (txns may split)
    n = txn_flush_batches(cl, max_txn_row=16, atomicity="none")
    sizes = [r["c"] for r in n.groupBy("schema_name", "table_name",
                                       "flush_batch")
             .agg(F.count(F.lit(1)).alias("c")).collect()]
    assert max(sizes) <= 16
    with pytest.raises(ValueError):
        txn_flush_batches(cl, atomicity="bogus").collect()
    # safe-mode + table atomicity stamps flush_batch on the stmt frame
    from ticdc_spark.pipeline import ChangefeedConfig, compile_changefeed
    out = compile_changefeed(cl.limit(100), ChangefeedConfig(
        sink_uri="mysql://h/", safe_mode=True,
        transaction_atomicity="table"))
    assert "flush_batch" in out.columns and "stmt" in out.columns


def test_failed_state_and_resume_clears_error(spark, sf_dir, tmp_path):
    """A changefeed whose pipeline raises lands in 'failed' with the
    error recorded; resume clears it and retries from 'normal'."""
    bad_toml = REFERENCE_TOML.replace(
        "ignore-insert-value-expr = 'val > 195.0'",
        "ignore-insert-value-expr = 'no_such_column > 1'")
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf-bad", bad_toml)
    with pytest.raises(Exception):
        reg.run("cf-bad", spark, sf_dir, timeout_s=120)
    assert reg.list()["cf-bad"] == "failed"
    info = reg.describe("cf-bad")
    assert "no_such_column" in info["error"] or "error" in info
    reg.resume("cf-bad")
    assert reg.list()["cf-bad"] == "normal"
    assert "error" not in reg.describe("cf-bad")


def test_active_active_tso_index_validation():
    """`pkg/check/active_active_tso_indexes.go`: distinct unique index,
    identical max index, fail-closed parsing."""
    import pytest as _pytest

    from ticdc_spark.operators.active_active import (
        TSOIndexIncompatible,
        validate_active_active_tso_indexes,
    )
    from ticdc_spark.pipeline import ChangefeedConfig

    up = [("pd-1", "tso-unique-index", "1"), ("pd-1", "tso-max-index", "4")]
    down_ok = [("pd-9", "tso-unique-index", "2"),
               ("pd-9", "tso-max-index", "4")]
    aa = ChangefeedConfig(bdr_mode=True, sink_uri="mysql://h:4000/")
    # compatible pair passes
    validate_active_active_tso_indexes(aa, up, down_ok)
    # same unique index -> collision risk
    with _pytest.raises(TSOIndexIncompatible, match="same"):
        validate_active_active_tso_indexes(aa, up, up)
    # differing max index
    with _pytest.raises(TSOIndexIncompatible, match="max"):
        validate_active_active_tso_indexes(
            aa, up, [("pd-9", "tso-unique-index", "2"),
                     ("pd-9", "tso-max-index", "8")])
    # fail-closed: missing key / bad value / cross-instance disagreement
    with _pytest.raises(TSOIndexIncompatible, match="missing"):
        validate_active_active_tso_indexes(
            aa, up, [("pd-9", "tso-unique-index", "2")])
    with _pytest.raises(TSOIndexIncompatible, match="not an integer"):
        validate_active_active_tso_indexes(
            aa, up, [("pd-9", "tso-unique-index", "two"),
                     ("pd-9", "tso-max-index", "4")])
    with _pytest.raises(TSOIndexIncompatible, match="differs across"):
        validate_active_active_tso_indexes(
            aa, up, [("pd-9", "tso-unique-index", "2"),
                     ("pd-8", "tso-unique-index", "3"),
                     ("pd-9", "tso-max-index", "4")])
    # skipped entirely: active-active off, or non-MySQL sink
    off = ChangefeedConfig(bdr_mode=False, sink_uri="mysql://h/")
    validate_active_active_tso_indexes(off, [], [])
    kafka = ChangefeedConfig(bdr_mode=True, sink_uri="kafka://b/t")
    validate_active_active_tso_indexes(kafka, [], [])


def test_replication_window_and_finished_state(tmp_path, spark, sf_dir):
    """StartTs/TargetTs: the window bounds the pipeline, and a bounded
    feed FINISHES after replicating through target-ts (FeedState
    finished, `pkg/config/changefeed.go`)."""
    from pyspark.sql import functions as F

    from ticdc_spark.sources.changelog import events_changelog
    from ticdc_spark.streaming.registry import ChangefeedRegistry

    cl = events_changelog(spark, sf_dir)
    mn, mx = cl.agg(F.min("commit_ts"), F.max("commit_ts")).collect()[0]
    lo = mn + (mx - mn) // 3
    hi = mn + 2 * ((mx - mn) // 3)
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf-win", f"start-ts = {lo}\ntarget-ts = {hi}\n")
    reg.run("cf-win", spark, sf_dir, timeout_s=240)
    assert reg.list()["cf-win"] == "finished"
    ckpt = reg.get("cf-win").checkpoint_ts()
    assert mn < ckpt <= hi  # never past target-ts


def test_target_before_start_refused():
    import pytest as _pytest

    from ticdc_spark.config import parse_changefeed_config

    with _pytest.raises(ValueError, match="target-ts"):
        parse_changefeed_config("start-ts = 100\ntarget-ts = 50\n")


def test_compile_redo_parallel_wal(spark, sf_dir):
    """[consistent] level=eventual attaches the redo WAL companion
    (`downstreamadapter/sink/redo` runs beside the sink): same filtered
    prefix, file names under consistent.storage, record JSON per row;
    level=none disables it (`redo/config.go:121-123`)."""
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import compile_redo
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    off = parse_changefeed_config("")
    assert compile_redo(cl, off) is None

    cfg = parse_changefeed_config(
        '[consistent]\nlevel = "eventual"\n'
        'storage = "file:///tmp/cdc-redo"\nmax-log-size = 64\n'
        '[filter]\nrules = ["test.tp_click"]\n')
    out = compile_redo(cl, cfg)
    rows = out.select("file_name", "value", "table_name").collect()
    assert rows and all(
        r.file_name.startswith("file:///tmp/cdc-redo/") for r in rows)
    assert all(r.table_name == "tp_click" for r in rows)  # filter applied
    assert all('"type":"row"' in r.value for r in rows)
    # max-log-size scales rotation: 128 MB -> half as many files
    cfg2 = parse_changefeed_config(
        '[consistent]\nlevel = "eventual"\nmax-log-size = 128\n')
    files_64 = compile_redo(
        cl, parse_changefeed_config(
            '[consistent]\nlevel = "eventual"\n')
    ).select("file_name").distinct().count()
    files_128 = compile_redo(cl, cfg2).select(
        "file_name").distinct().count()
    assert files_128 <= files_64


def test_sink_subblock_toggles_reach_encoders(spark, sf_dir):
    """[sink.open]/[sink.debezium] output-old-value,
    debezium-disable-schema, and content-compatible flow from TOML to
    the wire (`open/codec.go:85`, `debezium/codec.go:1122`,
    `canal_json_encoder.go:250`)."""
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import build_pipeline
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)

    def vals(toml, like=None):
        df = build_pipeline(cl, parse_changefeed_config(toml)).select("value")
        return df.filter(f"value like '{like}'") if like else df

    # open-protocol updates carry "p" by default, not when disabled
    assert vals('[sink]\nprotocol = "open-protocol"\n',
                '%"p":%').count() > 0
    assert vals('[sink]\nprotocol = "open-protocol"\n'
                '[sink.open]\noutput-old-value = false\n',
                '%"p":%').count() == 0
    # debezium default = full envelope WITH schema (replica_config.go:87)
    assert '"schema":' in vals(
        '[sink]\nprotocol = "debezium"\n').first().value
    # disable-schema + output-old-value=false: update rows lose before
    row = vals('[sink]\nprotocol = "debezium"\n'
               'debezium-disable-schema = true\n'
               '[sink.debezium]\noutput-old-value = false\n',
               '%"op":"u"%').first()
    assert '"schema":' not in row.value and '"before":' not in row.value
    # content-compatible canal: display-width integer descriptors
    assert 'bigint(20)' in vals(
        '[sink]\nprotocol = "canal-json"\ncontent-compatible = true\n'
    ).first().value


def test_avro_watermark_double_gate_through_pipeline(spark, sf_dir):
    """avro DELETE framing flips tombstone → 9-byte
    deleteByte(3)|commitTs marker only under BOTH enable-tidb-extension
    and avro-enable-watermark (`avro/encoder.go` EncodeRowChangedEvent
    delete branch), driven from sink-URI form params."""
    import pyspark.sql.functions as F

    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import build_pipeline
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    one_gate = build_pipeline(cl, parse_changefeed_config(
        '[sink]\nprotocol = "avro"\navro-enable-watermark = true\n'))
    assert one_gate.filter(F.length("value") == 9).count() == 0
    assert one_gate.filter("value is null").count() > 0  # tombstones
    both = build_pipeline(cl, parse_changefeed_config(
        'sink-uri = "kafka://b:9092/t?protocol=avro'
        '&enable-tidb-extension=true&avro-enable-watermark=true"\n'))
    assert both.filter(F.length("value") == 9).count() > 0
    assert both.filter("value is null").count() == 0


def test_compile_bootstrap_frames(spark, sf_dir):
    """send-bootstrap-* knobs gate the simple-protocol BOOTSTRAP
    companion (`sink.go:87-96`, simple/message.go:44): disabled for
    other protocols and interval<=0; to-all-partition broadcasts each
    table's frame to every partition."""
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import compile_bootstrap
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    assert compile_bootstrap(cl, parse_changefeed_config("")) is None
    assert compile_bootstrap(cl, parse_changefeed_config(
        '[sink]\nprotocol = "simple"\n'
        'send-bootstrap-interval-in-sec = 0\n')) is None
    all_parts = compile_bootstrap(cl, parse_changefeed_config(
        '[sink]\nprotocol = "simple"\n'))
    rows = all_parts.collect()
    n_tables = len({(r.schema_name, r.table_name) for r in rows})
    assert n_tables > 0 and len(rows) == n_tables * 16  # n_partitions
    assert all('"type":"BOOTSTRAP"' in r.value for r in rows)
    one_part = compile_bootstrap(cl, parse_changefeed_config(
        '[sink]\nprotocol = "simple"\n'
        'send-bootstrap-to-all-partition = false\n'))
    assert one_part.count() == n_tables
    assert one_part.select("partition").distinct().collect()[0][0] == 0


def test_streaming_redo_wal_per_epoch(spark, sf_dir, tmp_path):
    """[consistent] level=eventual persists the redo WAL per epoch
    BEFORE the sink flush on the DB path (recovery can replay it);
    disabled level writes nothing."""
    import glob
    import json as _json
    import os

    from ticdc_spark.streaming.registry import ChangefeedRegistry

    reg = ChangefeedRegistry(str(tmp_path))
    toml = ('sink-uri = "mysql://u:p@h:4000/"\n'
            '[consistent]\nlevel = "eventual"\n'
            '[filter]\nrules = ["test.tp_click"]\n')
    reg.create("cf-redo", toml)
    reg.run("cf-redo", spark, sf_dir, timeout_s=240)
    redo_dirs = glob.glob(os.path.join(str(tmp_path), "redo", "cf-redo",
                                       "epoch=*"))
    assert redo_dirs, "no redo epoch dirs written"
    recs = []
    for d in redo_dirs:
        for f in glob.glob(os.path.join(d, "part-*.json")):
            with open(f) as fh:
                recs += [_json.loads(ln) for ln in fh if ln.strip()]
    assert recs and all("file_name" in r and '"type":"row"' in r["value"]
                        for r in recs)
    # level none -> no redo dir
    reg.create("cf-noredo", 'sink-uri = "mysql://u:p@h:4000/"\n'
               '[filter]\nrules = ["test.tp_click"]\n')
    reg.run("cf-noredo", spark, sf_dir, timeout_s=240)
    assert not glob.glob(os.path.join(str(tmp_path), "redo",
                                      "cf-noredo", "*"))


def test_resume_with_overwrite_checkpoint_ts(spark, sf_dir, tmp_path):
    """ResumeChangefeed with overwrite_checkpoint_ts
    (`api/v2/changefeed.go:785-790`): the changefeed rewinds to the
    given ts and re-replicates exactly the rows with commit_ts > ts —
    delivered once by the rewound run, in a fresh epoch-id namespace
    that leaves the pre-rewind epochs intact — and the replayed state
    after the rewind matches the full batch pipeline (sync-diff
    green)."""
    import json as _json

    from ticdc_spark.sinks.consumer import replay_sink_dir

    toml = '[sink]\nprotocol = "canal-json"\n'
    reg = ChangefeedRegistry(str(tmp_path))
    reg.create("cf_rw", toml)
    reg.run("cf_rw", spark, sf_dir, timeout_s=240)
    cf = reg.get("cf_rw")
    state_before = replay_sink_dir(spark, cf.sink_dir)
    n_state = state_before.count()
    pre_epochs = set(glob.glob(f"{cf.sink_dir}/epoch=*"))
    assert pre_epochs

    # pick a rewind point: the median commit ts of the changelog
    cl = events_changelog(spark, sf_dir)
    ts_mid = cl.approxQuantile("commit_ts", [0.5], 0.01)[0]
    ts_mid = int(ts_mid)
    n_rewound = cl.filter(F.col("commit_ts") > ts_mid).count()
    assert n_rewound > 0

    reg.pause("cf_rw")
    reg.resume("cf_rw", overwrite_checkpoint_ts=ts_mid)
    reg.run("cf_rw", spark, sf_dir, timeout_s=240)
    cf2 = reg.get("cf_rw")

    # pre-rewind epoch dirs untouched; rewound epochs are NEW dirs
    post_epochs = set(glob.glob(f"{cf2.sink_dir}/epoch=*"))
    assert pre_epochs < post_epochs
    new_dirs = sorted(post_epochs - pre_epochs)
    # the rewound range was re-delivered exactly once: new epochs carry
    # exactly the > ts rows of the changelog (split rows excluded by
    # message count: count DISTINCT (pk, commit_ts) keys)
    new_msgs = spark.read.json(new_dirs)
    assert new_msgs.count() > 0
    decoded_ts = new_msgs.select(
        (F.get_json_object("value", "$.es") * 1000).alias("es_ms"))
    assert decoded_ts.filter(
        F.col("es_ms") <= (ts_mid // 1_000_000) * 1000 - 1000).count() == 0
    # sync-diff: replayed state over ALL epochs (old + rewound) matches
    # the pre-rewind state exactly — idempotent re-delivery
    state_after = replay_sink_dir(spark, cf2.sink_dir)
    assert state_after.count() == n_state
    assert state_after.exceptAll(state_before).count() == 0

    # validation + API surface
    with pytest.raises(ValueError):
        reg.resume("cf_rw", overwrite_checkpoint_ts=0)
    # registry state persisted the rewind bookkeeping
    st = _json.load(open(f"{tmp_path}/changefeeds.json"))
    assert st["cf_rw"]["overwrite_checkpoint_ts"] == ts_mid
    assert st["cf_rw"]["epoch_offset"] > 0


@pytest.mark.parametrize("proto", [
    "simple-avro", "canal-json-tidb", "debezium", "avro"])
def test_handle_key_only_fallback_uses_stream_protocol_options(
        spark, sf_dir, proto):
    """An oversized row's handle-key-only message is encoded with the
    stream's protocol options, so it decodes like the stream's normal
    messages: simple-avro stays Avro binary, canal-json keeps `_tidb`,
    debezium keeps its schema envelope, avro keeps its extension fields."""
    import json

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    from ticdc_spark.codec.avro import compile_avro_decoder, read_whole
    from ticdc_spark.codec.avro_protocol import (
        struct_columns,
        table_value_schema,
    )
    from ticdc_spark.codec.schema_registry import parse_msg_header
    from ticdc_spark.codec.simple_avro import decode_message
    from ticdc_spark.pipeline import ChangefeedConfig, build_pipeline
    from ticdc_spark.sources.changelog import events_changelog

    src = events_changelog(spark, sf_dir).limit(200)
    cl = spark.createDataFrame(src.collect(), src.schema)
    opts = {
        "simple-avro": dict(protocol="simple", encoding_format="avro"),
        "canal-json-tidb": dict(protocol="canal-json", tidb_extension=True),
        "debezium": dict(protocol="debezium"),
        "avro": dict(protocol="avro", tidb_extension=True),
    }[proto]
    full = build_pipeline(cl, ChangefeedConfig(**opts))
    sizes = sorted(r[0] for r in full.select(F.length("value")).collect()
                   if r[0] is not None)
    max_bytes = sizes[len(sizes) // 2]
    out = build_pipeline(cl, ChangefeedConfig(**opts, large_message_handle={
        "large-message-handle-option": "handle-key-only",
        "max-message-bytes": max_bytes}))
    rows = out.select("schema_name", "table_name", "op", "is_large",
                      "value").collect()
    assert any(r["is_large"] for r in rows)
    assert any(r["is_large"] is False for r in rows)
    all_fields = {f.name for f in cl.schema["after"].dataType.fields}
    for r in rows:
        if r["value"] is None:  # avro delete tombstone
            assert proto == "avro" and r["op"] == "D"
            continue
        fields = {"id"} if r["is_large"] else all_fields
        if proto == "simple-avro":
            p = decode_message(bytes(r["value"]))["payload"]
            assert set(p["old"] if r["op"] == "D" else p["data"]) == fields
        elif proto == "canal-json-tidb":
            doc = json.loads(r["value"])
            assert "_tidb" in doc and set(doc["data"][0]) == fields
        elif proto == "debezium":
            doc = json.loads(r["value"])
            img = doc["payload"]["after"] or doc["payload"]["before"]
            assert set(doc) == {"schema", "payload"} and set(img) == fields
        else:
            columns = struct_columns(StructType(
                [f for f in cl.schema["after"].dataType.fields
                 if f.name in fields]))
            schema = table_value_schema(r["schema_name"], r["table_name"],
                                        columns)
            buf = bytes(r["value"])
            _, pos = parse_msg_header(buf)
            got = read_whole(compile_avro_decoder(schema, {}), buf, pos,
                             "avro")
            assert set(got) == fields | {
                "_tidb_op", "_tidb_commit_ts", "_tidb_commit_physical_time"}
