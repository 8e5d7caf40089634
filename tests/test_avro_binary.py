"""Golden-byte tests for the flat-record Avro binary path.

Byte expectations hand-derived from the Avro spec (§Binary Encoding)
and the Confluent wire format (magic 0 + 4-byte big-endian schema id,
`confluent_schema_registry.go:39-42`).  The records are the native
``avro`` protocol's (`avro_protocol._flat_schemas`), compiled by the
shared codec; the headers are the schema managers'.
"""

from __future__ import annotations

import struct

from ticdc_spark.codec.avro import (
    compile_avro_decoder,
    compile_avro_encoder,
    read_whole,
    zigzag_decode,
    zigzag_encode,
)
from ticdc_spark.codec.avro_protocol import _flat_schemas
from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    GlueSchemaManager,
    parse_msg_header,
)

FIELDS = ["okey", "cust", "price", "status"]
TYPES = {"okey": "long", "cust": "long", "price": "double", "status": "string"}
PK = ("okey",)
_, VALUE_SCHEMA = _flat_schemas(FIELDS, TYPES, PK)
ENCODE = compile_avro_encoder(VALUE_SCHEMA, {})
DECODE = compile_avro_decoder(VALUE_SCHEMA, {})


def encode_record(rec: dict, header: bytes) -> bytes:
    return header + ENCODE(rec)


def decode_record(buf: bytes):
    ref, pos = parse_msg_header(buf)
    return ref, read_whole(DECODE, buf, pos, "avro")


def test_zigzag_golden():
    assert zigzag_encode(0) == b"\x00"
    assert zigzag_encode(-1) == b"\x01"
    assert zigzag_encode(1) == b"\x02"
    assert zigzag_encode(-2) == b"\x03"
    assert zigzag_encode(63) == b"\x7e"
    assert zigzag_encode(64) == b"\x80\x01"
    for n in (0, 1, -1, 2**31, -(2**31), 2**62, -(2**62), 12345678901234):
        buf = zigzag_encode(n)
        val, pos = zigzag_decode(buf, 0)
        assert (val, pos) == (n, len(buf))


def test_record_golden_bytes():
    rec = {"okey": 5, "cust": None, "price": 1.5, "status": "ab"}
    buf = encode_record(rec, ConfluentSchemaManager.get_msg_header(1))
    expected = (
        b"\x00" + (1).to_bytes(4, "big")  # confluent envelope
        + b"\x0a"                          # okey: non-null pk, zigzag(5)
        + b"\x00"                          # cust: union branch 0 = null
        + b"\x02" + struct.pack("<d", 1.5)  # price: branch 1 + ieee754 LE
        + b"\x02" + b"\x04" + b"ab"        # status: branch 1 + len 2 + utf8
    )
    assert buf == expected
    schema_id, back = decode_record(buf)
    assert schema_id == 1
    assert back == rec


def test_record_roundtrip_unicode_and_negatives():
    rec = {"okey": -9, "cust": 2**40, "price": -0.125, "status": "héllo\n∂"}
    buf = encode_record(rec, ConfluentSchemaManager.get_msg_header(7))
    schema_id, back = decode_record(buf)
    assert schema_id == 7
    assert back == rec


def test_glue_envelope_roundtrip():
    uid = "123e4567-e89b-12d3-a456-426614174000"
    hdr = GlueSchemaManager.get_msg_header(uid)
    assert hdr[:2] == bytes([3, 0]) and len(hdr) == 18
    rec = {"okey": 42, "cust": 7, "price": 2.25, "status": None}
    buf = encode_record(rec, hdr)
    ref, back = decode_record(buf)
    assert ref == uid
    assert back == rec


def test_glue_dataframe_path(spark, sf_dir):
    from ticdc_spark.codec.avro_protocol import (
        decode_avro_binary,
        encode_avro_binary,
    )
    from ticdc_spark.sources.typed import (
        ORDERS_PAYLOAD_FIELDS,
        ORDERS_PK,
        flat_orders_changelog,
    )
    from ticdc_spark.typed_queries import _AVRO_TYPES

    flat = flat_orders_changelog(spark, sf_dir).limit(50)
    enc = encode_avro_binary(
        flat, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES, ORDERS_PK, registry="glue")
    row = enc.filter("op = 'I'").select("value").first()
    assert bytes(row["value"])[0] == 3  # glue version byte
    dec = decode_avro_binary(enc, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES, ORDERS_PK)
    assert dec.filter("okey IS NULL").count() == 0


def test_property_roundtrip_random_records():
    from hypothesis import given, settings
    from hypothesis import strategies as st

    longs = st.integers(min_value=-(2**62), max_value=2**62)
    doubles = st.floats(allow_nan=False, allow_infinity=False, width=64)
    texts = st.text(max_size=40)

    @settings(max_examples=200, deadline=None)
    @given(
        okey=longs,
        cust=st.one_of(st.none(), longs),
        price=st.one_of(st.none(), doubles),
        status=st.one_of(st.none(), texts),
        sid=st.integers(min_value=0, max_value=2**31 - 1),
    )
    def check(okey, cust, price, status, sid):
        rec = {"okey": okey, "cust": cust, "price": price, "status": status}
        buf = encode_record(rec, ConfluentSchemaManager.get_msg_header(sid))
        got_id, back = decode_record(buf)
        assert got_id == sid
        assert back == rec

    check()
