"""Native avro protocol (`pkg/sink/codec/avro/arvo.go`): schema shape,
extension fields, delete tombstone/marker semantics, and the pipeline
integration."""

from __future__ import annotations

import json

import pytest

from ticdc_spark.codec.avro_protocol import (
    DELETE_BYTE,
    TIDB_COMMIT_TS,
    TIDB_OP,
    TIDB_PHYSICAL_TIME,
    avro_namespace,
    decode_message,
    encode_row_key,
    encode_row_value,
    table_key_schema,
    table_value_schema,
)
from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    InMemoryConfluentRegistry,
    InMemoryTransport,
)


def _manager():
    return ConfluentSchemaManager(
        "http://registry.local",
        transport=InMemoryTransport(InMemoryConfluentRegistry()))


def test_value_schema_shape():
    s = table_value_schema("db", "tbl")
    assert s["name"] == "tbl" and s["namespace"] == "default.db"
    by = {f["name"]: f for f in s["fields"]}
    # not-null handle column: bare type with tidb_type parameters
    assert by["id"]["type"] == {
        "type": "long", "connect.parameters": {"tidb_type": "BIGINT"}}
    assert "default" not in by["id"]
    # nullable, no column default: ["null", T] + default null
    assert by["val"]["type"][0] == "null"
    assert by["val"]["default"] is None
    # extension fields with defaults (schemaWithExtension)
    assert by[TIDB_OP]["default"] == ""
    assert by[TIDB_COMMIT_TS]["type"] == "long"
    assert by[TIDB_PHYSICAL_TIME]["default"] == 0
    # key schema carries only the handle columns
    k = table_key_schema("db", "tbl")
    assert [f["name"] for f in k["fields"]] == ["id"]


def test_nullable_with_default_orders_union_type_first():
    cols = ({"name": "x", "avro": "long", "tidb_type": "BIGINT",
             "default": 7},)
    s = table_value_schema("d", "t", cols, tidb_extension=False)
    f = s["fields"][0]
    assert f["type"][0]["type"] == "long" and f["type"][1] == "null"
    assert f["default"] == 7


def test_insert_value_roundtrip_with_extension():
    mgr = _manager()
    row = {"id": 5, "val": 1.5, "k": None}
    blob = encode_row_value(mgr, "tp", "db", "tbl", row, "I",
                            400 << 18 | 7)
    assert blob[0] == 0
    native = decode_message(mgr, "tp-value", blob)
    assert native["id"] == 5 and native["val"] == 1.5
    assert native["k"] is None
    assert native[TIDB_OP] == "c"
    assert native[TIDB_COMMIT_TS] == (400 << 18 | 7)
    assert native[TIDB_PHYSICAL_TIME] == 400  # ExtractPhysical = ts>>18
    key = encode_row_key(mgr, "tp", "db", "tbl", row)
    assert decode_message(mgr, "tp-key", key) == {"id": 5}


def test_delete_semantics():
    mgr = _manager()
    row = {"id": 9, "val": None, "k": 1}
    # default: tombstone (encodeValue returns nil)
    assert encode_row_value(mgr, "tp", "db", "tbl", row, "D", 123) is None
    # extension + watermark: the 9-byte delete marker
    blob = encode_row_value(mgr, "tp", "db", "tbl", row, "D", 123,
                            avro_enable_watermark=True)
    assert blob == bytes([DELETE_BYTE]) + (123).to_bytes(8, "big")
    assert decode_message(mgr, "tp-value", blob) == \
        {"_delete_commit_ts": 123}
    assert decode_message(mgr, "tp-value", None) is None


def test_registered_schema_json_matches_reference_layout():
    mgr = _manager()
    encode_row_value(mgr, "tp2", "db", "tbl", {"id": 1, "val": 0.5,
                                               "k": 2}, "I", 10)
    schema, _ = mgr.get_cached_or_register("tp2-value", 1,
                                           lambda: pytest.fail("cached"))
    parsed = json.loads(schema)
    assert parsed["type"] == "record"
    assert parsed["namespace"] == "default.db"
    assert [f["name"] for f in parsed["fields"]] == [
        "id", "val", "k", TIDB_OP, TIDB_COMMIT_TS, TIDB_PHYSICAL_TIME]


def test_namespace_sanitization():
    assert avro_namespace("default", "my-db") == "default.my_db"
    assert avro_namespace("ks", "") == "ks"


def test_pipeline_avro_protocol(spark, sf_dir):
    from ticdc_spark.pipeline import ChangefeedConfig, build_pipeline
    from ticdc_spark.sinks.kafka import kafka_frame
    from ticdc_spark.sources.changelog import events_changelog

    cl = events_changelog(spark, sf_dir)
    cfg = ChangefeedConfig(
        protocol="avro",
        dispatchers=[{"matcher": ["*.*"], "partition": "index-value",
                      "topic": "cdc_{schema}_{table}"}],
    )
    out = build_pipeline(cl, cfg)
    types = dict(out.dtypes)
    assert types["key"] == "binary" and types["value"] == "binary"
    kafka_frame(out)  # plan-time contract
    rows = out.select("op", "key", "value").limit(50).collect()
    assert rows
    for r in rows:
        assert r["key"][:1] == b"\x00"
        if r["op"] == "D":
            assert r["value"] is None  # tombstone
        else:
            assert r["value"][:1] == b"\x00"


def test_checkpoint_and_ddl_events():
    from ticdc_spark.codec.avro_protocol import (
        decode_event,
        encode_checkpoint,
        encode_ddl,
    )

    assert encode_checkpoint(5, avro_enable_watermark=False) is None
    cp = encode_checkpoint(1 << 40)
    assert cp == b"\x02" + (1 << 40).to_bytes(8, "big")
    assert decode_event(cp) == ("checkpoint", 1 << 40)

    assert encode_ddl("q", 3, "d", "t", 9, tidb_extension=False) is None
    ddl = encode_ddl("CREATE TABLE t (a int)", 3, "db", "t", 77)
    assert ddl[0] == 1
    kind, doc = decode_event(ddl)
    assert kind == "ddl"
    assert doc == {"query": "CREATE TABLE t (a int)", "type": 3,
                   "schema": "db", "table": "t", "commitTs": 77}

    assert decode_event(b"")[0] == "tombstone"
    assert decode_event(b"\x03" + (9).to_bytes(8, "big")) == ("delete", 9)
    assert decode_event(b"\x00abcd")[0] == "row"


def test_full_type_table_schema_and_roundtrip():
    """columnToAvroSchema's full table (arvo.go:478-608) through
    mysql_col metas: decimal logical precise + string mode, binary
    blobs, enum allowed params, bit length, temporals as strings,
    unsigned bigint string mode."""
    from ticdc_spark.codec.avro_protocol import (
        decode_message,
        encode_row_value,
        mysql_col,
        table_value_schema,
    )

    cols = (
        mysql_col("pk", "bigint", not_null=True, handle=True),
        mysql_col("c_tiny", "tinyint"),
        mysql_col("c_int_u", "int", unsigned=True),
        mysql_col("c_big_us", "bigint", unsigned=True,
                  bigint_unsigned_mode="string"),
        mysql_col("c_float", "float"),
        mysql_col("c_bit", "bit", flen=6),
        mysql_col("c_dec", "decimal", flen=12, decimal=3),
        mysql_col("c_dec_s", "decimal", decimal_mode="string"),
        mysql_col("c_txt", "varchar"),
        mysql_col("c_bin", "blob", binary=True),
        mysql_col("c_enum", "enum", elems=["a", "b,c"]),
        mysql_col("c_json", "json"),
        mysql_col("c_dt", "datetime"),
        mysql_col("c_time", "time"),
        mysql_col("c_year", "year"),
        mysql_col("c_vec", "vector"),
    )
    s = table_value_schema("db", "t", cols, tidb_extension=False)
    by = {f["name"]: f for f in s["fields"]}
    assert by["c_big_us"]["type"][1]["type"] == "string"
    assert by["c_bit"]["type"][1]["connect.parameters"]["length"] == "6"
    dec = by["c_dec"]["type"][1]
    assert dec["logicalType"] == "decimal"
    assert dec["precision"] == 12 and dec["scale"] == 3
    assert "default" in by["c_dec"] and by["c_dec"]["default"] is None
    assert by["c_dec_s"]["type"][1]["type"] == "string"
    assert by["c_bin"]["type"][1]["type"] == "bytes"
    assert by["c_bin"]["type"][1]["connect.parameters"]["tidb_type"] \
        == "BLOB"
    assert by["c_enum"]["type"][1]["connect.parameters"]["allowed"] \
        == "a,b,c"
    assert by["c_dt"]["type"][1]["type"] == "string"
    assert by["c_time"]["type"][1]["connect.parameters"]["tidb_type"] \
        == "TIME"
    assert by["c_year"]["type"][1]["type"] == "int"
    assert by["c_vec"]["type"][1]["connect.parameters"]["tidb_type"] \
        == "TiDBVECTORFloat32"

    row = {"pk": 1, "c_tiny": -3, "c_int_u": 70000,
           "c_big_us": str((1 << 63) + 5), "c_float": 0.5,
           "c_bit": b"\x20", "c_dec": "12345.678", "c_dec_s": "1.5",
           "c_txt": "中文", "c_bin": b"\x01\x02", "c_enum": "b,c",
           "c_json": '{"a": 1}', "c_dt": "2024-01-01 00:00:00",
           "c_time": "03:25:00", "c_year": 2024,
           "c_vec": "[0.1,0.2]"}
    mgr = _manager()
    blob = encode_row_value(mgr, "tw", "db", "t", row, "I", 9,
                            columns=cols, tidb_extension=False)
    out = decode_message(mgr, "tw-value", blob)
    assert out == row


def test_glue_registry_roundtrip():
    """The one header parser reads the Glue header too, so a Glue
    manager's messages decode through the same registry-driven path."""
    from ticdc_spark.codec.schema_registry import GlueSchemaManager

    mgr = GlueSchemaManager("default")
    row = {"id": 5, "val": None, "k": -1}
    blob = encode_row_value(mgr, "tp", "db", "tbl", row, "U", 77)
    assert blob[:2] == b"\x03\x00"
    native = decode_message(mgr, "tp-value", blob)
    assert {k: native[k] for k in row} == row and native[TIDB_OP] == "u"
    key = encode_row_key(mgr, "tp", "db", "tbl", row)
    assert decode_message(mgr, "tp-key", key) == {"id": 5}
