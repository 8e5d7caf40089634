"""simple-protocol Avro wire tests (`codec/simple_avro.py`).  The
watermark golden bytes are hand-derived from the Avro binary spec, so
they pin the wire independent of the encoder; the rest are
encode→decode round-trips across every message kind and value-union
branch."""

from __future__ import annotations

import pytest

from ticdc_spark.codec.avro import avro_decode, avro_encode
from ticdc_spark.codec.simple_avro import decode_message, encode_message

_N = "com.pingcap.simple.avro."


def test_watermark_golden_bytes():
    # Message.type enum WATERMARK = index 0 -> zigzag 0x00
    # payload union branch 0 (Watermark)   -> zigzag 0x00
    # version int 1 -> zigzag 0x02; commitTs 42 -> 0x54; buildTs 0 -> 0x00
    blob = encode_message(
        "WATERMARK", {"version": 1, "commitTs": 42, "buildTs": 0})
    assert blob == b"\x00\x00\x02\x54\x00"
    msg = decode_message(blob)
    assert msg["type"] == "WATERMARK"
    assert msg["payload"] == {"version": 1, "commitTs": 42, "buildTs": 0}


_TABLE_SCHEMA = {
    "database": "test", "table": "orders", "tableID": 104, "version": 7,
    "columns": [
        {"name": "okey",
         "dataType": {"mysqlType": "bigint", "charset": "binary",
                      "collate": "binary", "length": 20, "decimal": None,
                      "elements": None, "unsigned": False,
                      "zerofill": False},
         "nullable": False, "default": None},
        {"name": "status",
         "dataType": {"mysqlType": "enum", "charset": "utf8mb4",
                      "collate": "utf8mb4_bin", "length": 1,
                      "decimal": None, "elements": ["O", "F", "P"],
                      "unsigned": None, "zerofill": None},
         "nullable": True, "default": "O"},
    ],
    "indexes": [
        {"name": "primary", "unique": True, "primary": True,
         "nullable": False, "columns": ["okey"]},
    ],
}


def test_bootstrap_roundtrip_with_table_schema():
    payload = {"version": 1, "buildTs": 99, "tableSchema": _TABLE_SCHEMA}
    msg = decode_message(encode_message("BOOTSTRAP", payload))
    assert msg["type"] == "BOOTSTRAP"
    assert msg["payload"] == payload


def test_ddl_roundtrip_with_pre_schema():
    payload = {
        "version": 1, "type": "ALTER",
        "sql": "ALTER TABLE orders ADD COLUMN note varchar(16)",
        "commitTs": 1234, "buildTs": 0,
        "tableSchema": (_N + "TableSchema", _TABLE_SCHEMA),
        "preTableSchema": None,
    }
    msg = decode_message(encode_message("DDL", payload))
    assert msg["payload"]["type"] == "ALTER"
    assert msg["payload"]["tableSchema"] == _TABLE_SCHEMA
    assert msg["payload"]["preTableSchema"] is None


def test_dml_roundtrip_every_value_branch():
    data = {
        "n": None,
        "i": 7,                      # long branch
        "d": 3.5,                    # double branch (exact in binary)
        "s": "text",
        "b": (_N[:-1], b"\x01\x02"),  # never matches; placeholder below
    }
    # bytes branch via plain bytes value
    data["b"] = b"\x01\x02\xff"
    data["ts"] = ("Timestamp", {"location": "UTC",
                                "value": "2020-01-01 00:00:00"})
    data["u"] = ("UnsignedBigint", {"value": 12345})
    payload = {
        "version": 1, "database": "test", "table": "orders",
        "tableID": 104, "type": "UPDATE", "commitTs": 5, "buildTs": 0,
        "schemaVersion": 7, "claimCheckLocation": None,
        "handleKeyOnly": None,
        "checksum": {"version": 1, "corrupted": False,
                     "current": 111, "previous": 110},
        "data": data, "old": {"i": 6},
    }
    msg = decode_message(encode_message("DML", payload))
    p = msg["payload"]
    assert p["data"]["n"] is None
    assert p["data"]["i"] == 7
    assert p["data"]["d"] == 3.5
    assert p["data"]["s"] == "text"
    assert p["data"]["b"] == b"\x01\x02\xff"
    assert p["data"]["ts"] == {"location": "UTC",
                               "value": "2020-01-01 00:00:00"}
    assert p["data"]["u"] == {"value": 12345}
    assert p["old"] == {"i": 6}
    assert p["checksum"]["current"] == 111


def test_trailing_bytes_rejected():
    blob = encode_message(
        "WATERMARK", {"version": 1, "commitTs": 1, "buildTs": 0})
    with pytest.raises(ValueError):
        decode_message(blob + b"\x00")


def test_empty_map_and_array_encode_as_zero_block():
    assert avro_encode({}, {"type": "map", "values": ["null", "long"]},
                       {}) == b"\x00"
    assert avro_encode([], {"type": "array", "items": "string"}, {}) \
        == b"\x00"
    v, pos = avro_decode(b"\x00", 0, {"type": "map",
                                      "values": ["null", "long"]}, {})
    assert v == {} and pos == 1


def test_spark_dml_roundtrip(spark, sf_dir):
    from ticdc_spark.queries import QUERIES

    out = QUERIES["simple_avro_roundtrip"](spark, sf_dir)
    rows = out.limit(50).collect()
    assert rows and {"seq", "op", "commit_ts", "okey"} <= set(
        rows[0].asDict())


def test_fuzz_dml_roundtrip():
    """Property: encode→decode is identity for arbitrary DML payloads
    over the value-union branches."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    scalar = st.one_of(
        st.none(),
        st.integers(min_value=-(2 ** 62), max_value=2 ** 62),
        st.floats(allow_nan=False, allow_infinity=False, width=64),
        st.text(max_size=40),
        st.binary(max_size=40),
    )
    keys = st.text(
        alphabet=st.characters(min_codepoint=97, max_codepoint=122),
        min_size=1, max_size=8)

    @settings(max_examples=60, deadline=None)
    @given(data=st.dictionaries(keys, scalar, max_size=6),
           old=st.one_of(st.none(),
                         st.dictionaries(keys, scalar, max_size=4)),
           commit_ts=st.integers(min_value=0, max_value=2 ** 60),
           op=st.sampled_from(["INSERT", "UPDATE", "DELETE"]))
    def check(data, old, commit_ts, op):
        payload = {
            "version": 1, "database": "test", "table": "t",
            "tableID": 1, "type": op, "commitTs": commit_ts,
            "buildTs": 0, "schemaVersion": 0,
            "claimCheckLocation": None, "handleKeyOnly": None,
            "checksum": None, "data": data, "old": old,
        }
        msg = decode_message(encode_message("DML", payload))
        p = msg["payload"]
        assert p["type"] == op and p["commitTs"] == commit_ts
        assert p["data"] == data
        assert p["old"] == old

    check()


def test_compiled_dml_codec_matches_generic():
    """The hot-path compiled encoder must emit byte-identical messages
    to the generic schema-walking kernel, and the compiled decoder must
    invert them."""
    from ticdc_spark.codec.simple_avro import (
        compile_dml_decoder,
        compile_dml_encoder,
    )

    fields = ["okey", "cust", "price", "status"]
    types = {"okey": "long", "cust": "long", "price": "double",
             "status": "string"}
    enc = compile_dml_encoder(fields, types)
    dec = compile_dml_decoder(fields, types)
    cases = [
        ("I", [1, 2, 3.5, "O"], [None] * 4),
        ("U", [1, None, -2.25, "F"], [1, 7, 9.0, "O"]),
        ("D", [None] * 4, [5, 6, 0.0, "P"]),
    ]
    for op, after, before in cases:
        got = enc(op, "test", "orders", 104, 99, after, before)
        op_name = {"I": "INSERT", "U": "UPDATE", "D": "DELETE"}[op]
        data = (dict(zip(fields, after)) if op in ("I", "U") else None)
        old = (dict(zip(fields, before)) if op in ("U", "D") else None)
        want = encode_message("DML", {
            "version": 1, "database": "test", "table": "orders",
            "tableID": 104, "type": op_name, "commitTs": 99, "buildTs": 0,
            "schemaVersion": 0, "claimCheckLocation": None,
            "handleKeyOnly": None, "checksum": None,
            "data": data, "old": old,
        })
        assert got == want, f"op {op}: compiled bytes diverge"
        # compiled decoder inverts; image matches the generic decode
        c_op, c_img = dec(got)
        g = decode_message(got)["payload"]
        assert c_op == g["type"]
        assert c_img == (g["data"] if c_op != "DELETE" else g["old"])


def test_compiled_decoder_rejects_nonnull_optionals():
    """A DML with a checksum (produced by the generic encoder) must make
    the fast decoder raise — not silently desync."""
    from ticdc_spark.codec.simple_avro import compile_dml_decoder

    payload = {
        "version": 1, "database": "d", "table": "t", "tableID": 1,
        "type": "INSERT", "commitTs": 2, "buildTs": 0,
        "schemaVersion": 0, "claimCheckLocation": None,
        "handleKeyOnly": None,
        "checksum": {"version": 1, "corrupted": False,
                     "current": 5, "previous": 4},
        "data": {"x": 1}, "old": None,
    }
    blob = encode_message("DML", payload)
    dec = compile_dml_decoder(["x"], {"x": "long"})
    with pytest.raises(ValueError):
        dec(blob)
    # the generic decoder still handles it
    assert decode_message(blob)["payload"]["checksum"]["current"] == 5


def test_pipeline_simple_avro_encoding_format(spark, sf_dir):
    """protocol=simple + encoding-format=avro ([sink.codec], sink-uri
    param) flows through build_pipeline: frame columns preserved,
    binary values decode via the compiled codec."""
    from ticdc_spark.codec.simple_avro import compile_dml_decoder
    from ticdc_spark.config import parse_changefeed_config
    from ticdc_spark.pipeline import build_pipeline
    from ticdc_spark.sources.changelog import events_changelog

    cfg = parse_changefeed_config("""
sink-uri = "kafka://broker/topic?protocol=simple&encoding-format=avro"
[sink]
dispatchers = [{matcher = ["*.*"], partition = "index-value", topic = "t_{schema}"}]
""")
    assert cfg.protocol == "simple" and cfg.encoding_format == "avro"
    cl = events_changelog(spark, sf_dir)
    out = build_pipeline(cl, cfg)
    types = dict(out.dtypes)
    assert types["value"] == "binary"
    assert "topic" in types and "partition" in types  # frame preserved
    fields = [f.name for f in cl.schema["after"].dataType.fields]
    dec = compile_dml_decoder(
        fields, {"id": "long", "val": "double", "k": "long"})
    rows = out.select("op", "value").limit(20).collect()
    assert rows
    for r in rows:
        doc = dec(bytes(r["value"]))
        assert doc is not None


def test_encoding_format_validation():
    import pytest

    from ticdc_spark.config import parse_changefeed_config

    with pytest.raises(ValueError):
        parse_changefeed_config(
            'sink-uri = "kafka://b/t?encoding-format=xml"\n')
