"""A cut-short Avro message raises ``ValueError`` naming its codec, for
every wire shape: the simple protocol's messages (interpreter and the
compiled DML decoder), the native ``avro`` protocol's key and value,
``debezium-avro`` (interpreter and the cached compiled decoder) and the
flat-record path."""

from __future__ import annotations

import pytest

from ticdc_spark.codec import simple_avro
from ticdc_spark.codec.avro import compile_avro_decoder, read_whole
from ticdc_spark.codec.avro_protocol import (
    _flat_schemas,
    decode_message,
    encode_row_key,
    encode_row_value,
)
from ticdc_spark.codec.debezium_avro import (
    DebeziumAvroCodecCache,
    decode_debezium_avro_payload,
    encode_debezium_avro_payload,
)
from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    parse_msg_header,
)


def _simple():
    fields = ["okey", "price", "status"]
    types = {"okey": "long", "price": "double", "status": "string"}
    dml = simple_avro.compile_dml_encoder(fields, types)(
        "U", "tpch", "orders", 7, 1 << 40, [5, 2.5, "Fé"], [5, 1.5, "O"])
    dec = simple_avro.compile_dml_decoder(fields, types)
    wm = simple_avro.encode_message(
        "WATERMARK", {"version": 1, "commitTs": 1 << 44, "buildTs": 2})
    return [("simple-avro", dml, simple_avro.decode_message),
            ("simple-avro", dml, dec),
            ("simple-avro", wm, simple_avro.decode_message)]


def _avro():
    mgr = ConfluentSchemaManager.in_memory()
    row = {"id": 1 << 33, "val": 0.5, "k": -3}
    key = encode_row_key(mgr, "t", "db", "tbl", row)
    value = encode_row_value(mgr, "t", "db", "tbl", row, "I", 1 << 50)
    return [("avro", key, lambda b: decode_message(mgr, "t-key", b)),
            ("avro", value, lambda b: decode_message(mgr, "t-value", b))]


def _debezium():
    mgr = ConfluentSchemaManager.in_memory()
    msg = {"schema": {"type": "struct", "name": "c.db.t.Value",
                      "optional": False, "fields": [
                          {"type": "int64", "field": "id"},
                          {"type": "string", "field": "s",
                           "optional": True}]},
           "payload": {"id": 1 << 35, "s": "héllo"}}
    blob = encode_debezium_avro_payload(msg, "t", "-value", mgr)
    cache = DebeziumAvroCodecCache(mgr)
    return [("debezium-avro", blob,
             lambda b: decode_debezium_avro_payload(b, mgr, "t-value")),
            ("debezium-avro", blob, lambda b: cache.decode(b, "t-value"))]


def _flat():
    _, schema = _flat_schemas(["okey", "status"],
                              {"okey": "long", "status": "string"},
                              ("okey",))
    blob = ConfluentSchemaManager.get_msg_header(3) + bytes(
        [0x0a, 0x02, 0x04]) + b"ab"

    def dec(b):
        _, pos = parse_msg_header(b)
        return read_whole(compile_avro_decoder(schema, {}), b, pos, "avro")

    return [("avro", blob, dec)]


CASES = _simple() + _avro() + _debezium() + _flat()


@pytest.mark.parametrize("i", range(len(CASES)))
def test_every_cut_of_a_message_raises_value_error(i):
    codec, blob, decode = CASES[i]
    decode(blob)  # the whole message decodes
    for cut in range(len(blob)):
        with pytest.raises(ValueError, match=f"{codec}|bad confluent"):
            decode(blob[:cut])
    with pytest.raises(ValueError, match=codec):
        decode(blob + b"\x00")
