"""SHA-256 digests pin the bytes of every Avro wire shape.

The digests were taken from the encoders before the Avro codec became one
module (`codec/avro.py`): the per-table Confluent key/value of the native
``avro`` protocol (with and without the TiDB extension, tombstone and
delete marker), the flat-record DataFrame path in its Confluent and Glue
envelopes, ``debezium-avro`` payloads and simple-protocol Avro messages.
The DataFrame encoders are pinned too: ``encode_simple_avro_values``,
``encode_simple_avro_dml``, ``encode_debezium_avro_df``, the gated-on
``debezium_avro_watermarks`` and ``compress_values`` (zlib and lz4).
Inputs are generated from fixed seeds, so a digest changes only when a
wire byte does. Each frame is coalesced to one partition, so the
per-batch in-memory registry assigns the same ids on every run.
"""

from __future__ import annotations

import hashlib
import json
import random

from ticdc_spark.codec.avro_protocol import (
    encode_avro_binary,
    encode_avro_binary_df,
    encode_row_key,
    encode_row_value,
    mysql_col,
)
from ticdc_spark.codec.debezium_avro import (
    DebeziumAvroCodecCache,
    encode_debezium_avro_payload,
)
from ticdc_spark.codec.schema_registry import ConfluentSchemaManager
from ticdc_spark.codec.simple_avro import compile_dml_encoder, encode_message


def _digest(blobs) -> str:
    h = hashlib.sha256()
    for b in blobs:
        h.update(b"-" if b is None else len(b).to_bytes(4, "big") + bytes(b))
    return h.hexdigest()


def _payload_rows(n=150, seed=10):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        row = {"id": rng.randrange(-(1 << 40), 1 << 40),
               "val": None if i % 7 == 0 else rng.uniform(-1e6, 1e6),
               "k": None if i % 5 == 0 else rng.randrange(-1000, 1000)}
        rows.append(("IUD"[i % 3], row, rng.randrange(1 << 50, 1 << 60)))
    return rows


_FULL_COLS = (
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
    mysql_col("c_year", "year", not_null=True, default=2000),
    mysql_col("c_def", "bigint", default=7),
)


def _full_rows(n=40, seed=11):
    rng = random.Random(seed)
    rows = []
    for i in range(n):
        full = {"pk": i - 20, "c_tiny": rng.randrange(-128, 128),
                "c_int_u": rng.randrange(0, 1 << 32),
                "c_big_us": str(rng.randrange(0, 1 << 64)),
                "c_float": 0.5 * i, "c_bit": bytes([i % 64]),
                "c_dec": f"{rng.randrange(-10**8, 10**8) / 1000:.3f}",
                "c_dec_s": str(i / 4), "c_txt": "中文" * (i % 3),
                "c_bin": rng.randbytes(i % 9), "c_enum": "b,c",
                "c_json": json.dumps({"i": i}), "c_year": 1990 + i,
                "c_def": i}
        rows.append({k: (None if k not in ("pk", "c_year") and i % 4 == 1
                         else v) for k, v in full.items()})
    return rows


def confluent_digest() -> str:
    mgr = ConfluentSchemaManager.in_memory()
    out = []
    for sn, tn, ks in (("test", "tp_click", "default"),
                       ("db-x", "t.1", "default"),
                       ("tpch", "orders", "ks-1")):
        for ext in (True, False):
            for wm in (False, True):
                topic = f"{sn}.{tn}.{ext}.{wm}"
                for op, row, cts in _payload_rows():
                    out.append(encode_row_key(mgr, topic, sn, tn, row,
                                              keyspace=ks))
                    out.append(encode_row_value(
                        mgr, topic, sn, tn, row, op, cts,
                        tidb_extension=ext, avro_enable_watermark=wm,
                        keyspace=ks))
    for ext in (True, False):
        for i, row in enumerate(_full_rows()):
            topic = f"full.{ext}"
            out.append(encode_row_key(mgr, topic, "db", "full", row,
                                      columns=_FULL_COLS))
            out.append(encode_row_value(
                mgr, topic, "db", "full", row, "IUD"[i % 3], 1000 + i,
                columns=_FULL_COLS, tidb_extension=ext,
                avro_enable_watermark=True))
    return _digest(out)


_DBZ = "org.apache.kafka.connect.data.Decimal"


def _f(ftype, fname, optional=False, **extra):
    return dict({"type": ftype, "optional": optional, "field": fname},
                **extra)


_DBZ_FIELDS = [
    _f("int8", "c_tiny"), _f("int16", "c_short"), _f("int32", "c_int"),
    _f("int64", "c_bigint"), _f("float", "c_float"),
    _f("double", "c_double"), _f("boolean", "c_bit1"),
    _f("string", "c-varchar", optional=True),
    _f("bytes", "c_binary", optional=True),
    _f("bytes", "c_decimal", name=_DBZ, version=1,
       parameters={"precision": "12", "scale": "3"}),
    _f("int32", "c_date", name="io.debezium.time.Date", version=1),
    _f("string", "c_enum", name="io.debezium.data.Enum", version=1,
       parameters={"allowed": "a,b,c"}),
    _f("array", "c_arr", optional=True, items={"type": "int64"}),
]


def _dbz_messages(n=60, seed=12):
    rng = random.Random(seed)
    value = {"type": "struct", "name": "c.db.t.Value", "optional": True,
             "fields": _DBZ_FIELDS}
    env = {"type": "struct", "name": "c.db.t.Envelope", "optional": False,
           "version": 1,
           "fields": [dict(value, field="before"),
                      dict(value, field="after"),
                      _f("string", "op"), _f("int64", "ts_ms")]}
    key = {"type": "struct", "name": "c.db.t.Key", "optional": False,
           "fields": [_f("int64", "c_bigint")]}
    msgs = []
    for i in range(n):
        img = {"c_tiny": i % 100, "c_short": -i,
               "c_int": rng.randrange(1 << 31),
               "c_bigint": rng.randrange(-(1 << 62), 1 << 62),
               "c_float": i / 8, "c_double": rng.uniform(-1e9, 1e9),
               "c_bit1": bool(i % 2),
               "c-varchar": None if i % 6 == 0 else "v%dé" % i,
               "c_binary": None if i % 5 == 0 else "AQID",
               "c_decimal": f"{rng.randrange(-10**9, 10**9) / 1000:.3f}",
               "c_date": 19000 + i, "c_enum": "abc"[i % 3],
               "c_arr": None if i % 4 == 0 else list(range(i % 5))}
        msgs.append(({"schema": key, "payload": {"c_bigint": img["c_bigint"]}},
                     {"schema": env,
                      "payload": {"before": img if i % 3 else None,
                                  "after": None if i % 3 == 2 else img,
                                  "op": "cud"[i % 3], "ts_ms": 1000 + i}}))
    return msgs


def debezium_digest() -> str:
    mgr = ConfluentSchemaManager.in_memory()
    codec = DebeziumAvroCodecCache(mgr)
    out = []
    for kmsg, vmsg in _dbz_messages():
        out.append(codec.encode(kmsg, "c.db.t", "-key"))
        out.append(codec.encode(vmsg, "c.db.t", "-value"))
        wire = json.dumps({"payload": vmsg["payload"],
                           "schema": vmsg["schema"]}, separators=(",", ":"))
        out.append(codec.encode_wire_json(wire, "c.db.t", "-value"))
        out.append(encode_debezium_avro_payload(vmsg, "", "-value", mgr))
    return _digest(out)


_N = "com.pingcap.simple.avro."

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
                      "decimal": 2, "elements": ["O", "F", "P"],
                      "unsigned": None, "zerofill": True},
         "nullable": True, "default": "O"},
    ],
    "indexes": [{"name": "primary", "unique": True, "primary": True,
                 "nullable": False, "columns": ["okey"]}],
}


def simple_digest() -> str:
    rng = random.Random(13)
    out = [
        encode_message("WATERMARK",
                       {"version": 1, "commitTs": 1 << 45, "buildTs": 3}),
        encode_message("BOOTSTRAP", {"version": 1, "buildTs": 99,
                                     "tableSchema": _TABLE_SCHEMA}),
    ]
    for kind in ("CREATE", "ALTER", "QUERY"):
        out.append(encode_message("DDL", {
            "version": 1, "type": kind, "sql": f"{kind} t", "commitTs": 77,
            "buildTs": 0, "tableSchema": (_N + "TableSchema", _TABLE_SCHEMA),
            "preTableSchema": _TABLE_SCHEMA if kind == "ALTER" else None}))
    for i in range(80):
        data = {"n": None, "i": rng.randrange(-(1 << 60), 1 << 60),
                "d": rng.uniform(-1e6, 1e6), "s": "s%d✓" % i,
                "b": rng.randbytes(i % 7), "f": ("float", 0.25 * i),
                "ts": ("Timestamp", {
                    "location": "UTC",
                    "value": f"2020-01-01 00:00:{i % 60:02d}"}),
                "u": ("UnsignedBigint", {"value": i * 1000})}
        out.append(encode_message("DML", {
            "version": 1, "database": "test", "table": "orders",
            "tableID": 104, "type": ("INSERT", "UPDATE", "DELETE")[i % 3],
            "commitTs": 5 + i, "buildTs": 0, "schemaVersion": 7,
            "claimCheckLocation": "s3://b/%d" % i if i % 9 == 0 else None,
            "handleKeyOnly": True if i % 11 == 0 else None,
            "checksum": ({"version": 1, "corrupted": False, "current": i,
                          "previous": i - 1} if i % 2 else None),
            "data": data if i % 3 != 2 else None,
            "old": {"i": i} if i % 3 else None}))
    fields = ["okey", "cust", "price", "status"]
    enc = compile_dml_encoder(fields, {"okey": "long", "cust": "long",
                                       "price": "double",
                                       "status": "string"})
    for i in range(80):
        after = [i, None if i % 4 == 0 else -i * 7, rng.uniform(-1, 1),
                 None if i % 5 == 0 else "st%dü" % (i % 3)]
        before = [i, i * 3, 0.5, "O"]
        out.append(enc("IUD"[i % 3], "tpch", "orders", i, 1 << i % 50,
                       after, before))
    return _digest(out)


_FLAT_FIELDS = ["okey", "cust", "price", "status", "priority", "odate"]
_FLAT_TYPES = {"okey": "long", "cust": "long", "price": "double",
               "status": "string", "priority": "string", "odate": "string"}


def _flat_frame(spark):
    rng = random.Random(14)
    rows = []
    for seq in range(120):
        op = "IUD"[seq % 3]
        img = [seq * 11 - 400,
               None if seq % 6 == 0 else rng.randrange(1 << 33),
               None if seq % 7 == 0 else rng.uniform(0, 1e5),
               "OFP"[seq % 3], None if seq % 5 == 0 else "1-URGENT",
               "1995-03-%02d" % (seq % 28 + 1)]
        before = img if op != "I" else [None] * 6
        after = img if op != "D" else [None] * 6
        rows.append((op, 1000 + seq, seq, *before, *after))
    schema = ("op string, commit_ts long, seq long, "
              + ", ".join(f"before_{f} {'bigint' if t == 'long' else t}"
                          for f, t in _FLAT_TYPES.items()) + ", "
              + ", ".join(f"after_{f} {'bigint' if t == 'long' else t}"
                          for f, t in _FLAT_TYPES.items()))
    return spark.createDataFrame(rows, schema).coalesce(1)


def flat_frame_digest(spark) -> str:
    flat = _flat_frame(spark)
    out = []
    for registry in ("confluent", "glue"):
        enc = encode_avro_binary(flat, _FLAT_FIELDS, _FLAT_TYPES, ("okey",),
                                 registry=registry)
        for r in enc.orderBy("seq").collect():
            out += [r["key"], r["value"]]
    return _digest(out)


def _events_frame(spark):
    rows = []
    for i, (op, row, cts) in enumerate(_payload_rows(60, seed=15)):
        img = (row["id"], row["val"], row["k"])
        rows.append((i, ("test", "db")[i % 2], ("tp_a", "tp_b")[i % 3 % 2],
                     op, cts, img if op != "I" else None,
                     img if op != "D" else None))
    img_t = "struct<id:bigint,val:double,k:bigint>"
    return (spark.createDataFrame(
        rows, f"seq long, schema_name string, table_name string, op string, "
        f"commit_ts long, before {img_t}, after {img_t}").coalesce(1))


def events_frame_digest(spark) -> str:
    cl = _events_frame(spark)
    out = []
    for ext, wm in ((True, False), (True, True), (False, False)):
        enc = encode_avro_binary_df(cl, tidb_extension=ext,
                                    avro_enable_watermark=wm)
        for r in enc.orderBy("seq").collect():
            out += [r["key"], r["value"]]
    return _digest(out)


def test_confluent_table_messages_digest():
    assert confluent_digest() == (
        "327d9e34fad944935f361be86ecabfb6782ccdb5a9f741520d3aeb0e854ca172")


def test_debezium_avro_payloads_digest():
    assert debezium_digest() == (
        "9b06e81b6ac065a4d378846d3b1bbe6ef22a4a9d84219972567fe6ce47890ef2")


def test_simple_avro_messages_digest():
    assert simple_digest() == (
        "fc9c5c46791c86a60e32e7a4f4e61ecf844fbb77a3a1e9b3994d87ea3a7d1a99")


def test_flat_record_frame_digest(spark):
    assert flat_frame_digest(spark) == (
        "5b7747063171cc9ffcb639f50240a51c10c08f80ff257e8d30ea3743094c93cd")


def test_avro_protocol_frame_digest(spark):
    assert events_frame_digest(spark) == (
        "863b95ffe7774fddbc28effd1628c9c162d0ddc7c7a7c3ce093ef9d698bd42a7")


def _named_flat_frame(spark):
    from pyspark.sql import functions as F

    return (_flat_frame(spark)
            .withColumn("schema_name", F.lit("tpch"))
            .withColumn("table_name", F.lit("orders"))
            .withColumn("table_id", F.col("seq") % 4 + 100))


def simple_avro_frames_digest(spark) -> str:
    from ticdc_spark.codec.simple_avro import (
        encode_simple_avro_dml,
        encode_simple_avro_values,
    )

    out = [r["value"] for r in encode_simple_avro_values(
        _events_frame(spark)).orderBy("seq").collect()]
    out += [r["value"] for r in encode_simple_avro_dml(
        _named_flat_frame(spark), _FLAT_FIELDS,
        _FLAT_TYPES).orderBy("seq").collect()]
    return _digest(out)


def debezium_avro_frames_digest(spark) -> str:
    from pyspark.sql import functions as F

    from ticdc_spark.codec.debezium_avro import (
        debezium_avro_watermarks,
        encode_debezium_avro_df,
    )

    out = []
    for r in encode_debezium_avro_df(_events_frame(spark)) \
            .orderBy("seq").collect():
        out += [r["key"], r["value"]]
    wm = _events_frame(spark).select(
        (F.lit(1704067200000000) + F.col("seq") * 1_000_003)
        .alias("resolved_ts"))
    for r in debezium_avro_watermarks(
            wm, tidb_extension=True, avro_enable_watermark=True) \
            .orderBy("resolved_ts").collect():
        out += [r["key"], r["value"]]
    return _digest(out)


def compressed_values_digest(spark) -> str:
    from ticdc_spark.operators.large_message import compress_values

    rng = random.Random(16)
    rows = [(i, None if i % 9 == 0 else
             "v%d-" % i + "ab" * rng.randrange(200) + "✓")
            for i in range(90)]
    df = spark.createDataFrame(rows, "seq long, value string").coalesce(1)
    out = []
    for codec in ("zlib", "lz4"):
        out += [r["value"] for r in compress_values(df, codec)
                .orderBy("seq").collect()]
    return _digest(out)


def test_simple_avro_frames_digest(spark):
    assert simple_avro_frames_digest(spark) == (
        "00b912b4e4b1e38bb073ac54ff2ff1cc6ea214da123c90452d8499a306046d2b")


def test_debezium_avro_frames_digest(spark):
    assert debezium_avro_frames_digest(spark) == (
        "118a2fa864d66b95fc8b9a93dac6cc24dfc652f3e4cb2effecc97d4493369e3d")


def test_compressed_values_digest(spark):
    assert compressed_values_digest(spark) == (
        "391bc3379f9b5cb40e9d00e68607b4b66d4ca289a6465602d3ab3f28adc77649")
