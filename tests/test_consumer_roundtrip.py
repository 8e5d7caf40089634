"""Codec round-trip oracle (the reference's §5 MQ-path strategy):
changelog → canal-json encode → decode (consumer) → apply →
must equal state from applying the original changelog directly."""

from __future__ import annotations

from pyspark.sql import functions as F

from ticdc_spark.codec import encode_canal_json
from ticdc_spark.operators import split_updates
from ticdc_spark.pipeline import ChangefeedConfig
from ticdc_spark.sinks.consumer import decode_canal_json, replay_sink_dir, replay_to_state
from ticdc_spark.sinks.mysql import materialize_state
from ticdc_spark.sources.changelog import events_changelog
from ticdc_spark.streaming import Changefeed


def _state_key(df):
    return {
        (r["schema_name"], r["table_name"], r["id"]): (r["val"], r["k"])
        for r in df.collect()
    }


def test_canal_roundtrip_state_equality(spark, sf_dir):
    cl = split_updates(events_changelog(spark, sf_dir))
    direct = materialize_state(cl).select(
        "schema_name", "table_name", "id", "val", "k"
    )

    encoded = encode_canal_json(cl).select("value")
    decoded = decode_canal_json(encoded, cl.schema["after"].dataType)
    # millisecond es collisions would break ordering — assert the fixture
    # is collision-free per key before trusting the comparison
    dup = (
        decoded.groupBy("schema_name", "table_name", "commit_ts",
                        F.coalesce("after.id", "before.id"))
        .count().filter("count > 2")
    )
    assert dup.count() == 0
    replayed = replay_to_state(decoded)

    assert _state_key(direct) == _state_key(replayed)


def test_streaming_sink_replay(spark, sf_dir, tmp_path):
    """K6: rebuild state from a changefeed's sink files (redo replay)."""
    cfg = ChangefeedConfig(protocol="canal-json")
    cf = Changefeed("cf_replay", cfg, str(tmp_path))
    cf.start(spark, sf_dir, available_now=True)
    cf.wait(240)
    replayed = replay_sink_dir(spark, cf.sink_dir)
    direct = materialize_state(
        split_updates(events_changelog(spark, sf_dir))
    ).select("schema_name", "table_name", "id", "val", "k")
    assert _state_key(replayed) == _state_key(direct)


def test_open_protocol_roundtrip_state_equality(spark, sf_dir):
    """Second MQ protocol through the same consumer oracle: changelog →
    open-protocol key/value frames → decode → replay == direct apply."""
    from ticdc_spark.codec import encode_open_protocol
    from ticdc_spark.sinks.consumer import decode_open_protocol

    cl = split_updates(events_changelog(spark, sf_dir))
    direct = materialize_state(cl).select(
        "schema_name", "table_name", "id", "val", "k"
    )
    encoded = encode_open_protocol(cl).select("key", "value")
    decoded = decode_open_protocol(encoded, cl.schema["after"].dataType)
    replayed = replay_to_state(decoded, order_col="commit_ts")
    assert _state_key(direct) == _state_key(replayed)


def test_debezium_roundtrip_state_equality(spark, sf_dir):
    from ticdc_spark.codec import encode_debezium
    from ticdc_spark.sinks.consumer import decode_debezium

    cl = split_updates(events_changelog(spark, sf_dir))
    direct = materialize_state(cl).select(
        "schema_name", "table_name", "id", "val", "k"
    )
    decoded = decode_debezium(encode_debezium(cl).select("value"),
                              cl.schema["after"].dataType)
    replayed = replay_to_state(decoded, order_col="commit_ts")
    assert _state_key(direct) == _state_key(replayed)


def test_simple_roundtrip_state_equality(spark, sf_dir):
    from ticdc_spark.codec.simple_protocol import encode_simple
    from ticdc_spark.sinks.consumer import decode_simple

    cl = split_updates(events_changelog(spark, sf_dir))
    direct = materialize_state(cl).select(
        "schema_name", "table_name", "id", "val", "k"
    )
    decoded = decode_simple(encode_simple(cl).select("value"),
                            cl.schema["after"].dataType)
    replayed = replay_to_state(decoded, order_col="commit_ts")
    assert _state_key(direct) == _state_key(replayed)


def test_csv_old_value_storage_roundtrip(spark, sf_dir):
    """[sink.csv] output-old-value through the storage consumer: the
    UPDATE message's two lines (D old image, I new image, both
    is-updated=true) decode line-by-line like the reference's csv
    reader and replay to the same state as the direct apply."""
    import pyspark.sql.functions as F

    from ticdc_spark.codec.csv_codec import encode_csv
    from ticdc_spark.sinks.consumer import decode_csv_storage
    from ticdc_spark.sinks.mysql import materialize_state
    from ticdc_spark.sinks.storage import storage_paths

    cl = split_updates(events_changelog(spark, sf_dir))
    direct = materialize_state(cl).select(
        "schema_name", "table_name", "id", "val", "k")
    enc = encode_csv(cl, output_old_value=True)
    files = storage_paths(enc).select("path", "value")
    # a line-oriented reader: split multi-line messages into csv lines
    lines = files.select(
        "path", F.explode(F.split("value", "\r\n")).alias("value"))
    decoded = decode_csv_storage(lines, cl.schema["after"].dataType,
                                 output_old_value=True)
    replayed = replay_to_state(decoded, order_col="commit_ts")
    assert _state_key(direct) == _state_key(replayed)


def test_csv_consumer_header_dropped_null_op_survives(spark):
    """ADVICE r7: the header filter must be null-safe — only the
    output-field-header line is dropped; a malformed line (op parses
    as NULL) surfaces as a null row instead of silently vanishing."""
    import pyspark.sql.types as T

    from ticdc_spark.sinks.consumer import decode_csv_storage

    files = spark.createDataFrame(
        [("s/t/1/CDC000001.csv", "ticdc-meta$operation,ticdc-meta$table,"
          "ticdc-meta$schema,ticdc-meta$commit-ts,id,val,k"),
         ("s/t/1/CDC000001.csv", "I,t,s,100,7,2.5,1"),
         ("s/t/1/CDC000001.csv", "")],
        "path string, value string")
    out = decode_csv_storage(
        files, T.StructType.fromDDL("id bigint, val double, k bigint")
    ).collect()
    assert len(out) == 2  # header dropped, malformed line kept
    ops = sorted((r.op or "NULL") for r in out)
    assert ops == ["I", "NULL"]
