"""simple protocol, Avro encoding-format — the reference's second wire
shape for the self-describing protocol (`pkg/sink/codec/simple/avro.go`,
schema `pkg/sink/codec/simple/message.json`; JSON twin in
`simple_protocol.py`).

``SCHEMAS`` reproduces the reference's ``com.pingcap.simple.avro.Message``
schema field-for-field in declaration order (order is load-bearing: Avro
binary carries no field names), as Avro JSON records keyed by full name.
Messages of all four kinds (WATERMARK, BOOTSTRAP, DDL, DML) encode and
decode through the shared Avro interpreter (`codec/avro.py`), which
resolves those names; the per-row DML path has its own compiled pair,
pinned byte-identical to the interpreter.

DataFrame path: the per-row stages of ``functions/arrow_rows.py``
(``mapInArrow`` and one ``arrow_udf``) — byte assembly is not
expressible as column algebra, and per-batch Python over Arrow is the
sanctioned shape for wire codecs.
"""
from __future__ import annotations

from collections.abc import Iterator

from pyspark.sql import DataFrame

from ticdc_spark.codec.avro import (
    avro_decode,
    avro_encode,
    read_whole,
    zigzag_decode,
    zigzag_encode,
)

# -- the reference schema (message.json), declaration order preserved --------
_N = "com.pingcap.simple.avro."

_VALUE_UNION = [
    "null", "long", "float", "double", "string", "bytes",
    _N + "Timestamp", _N + "UnsignedBigint",
]


def _record(*fields) -> dict:
    return {"type": "record",
            "fields": [{"name": n, "type": t} for n, t in fields]}


SCHEMAS: dict[str, dict] = {
    _N + "DataType": _record(
        ("mysqlType", "string"), ("charset", "string"),
        ("collate", "string"), ("length", "long"),
        ("decimal", ["null", "int"]),
        ("elements", ["null", {"type": "array", "items": "string"}]),
        ("unsigned", ["null", "boolean"]),
        ("zerofill", ["null", "boolean"]),
    ),
    _N + "ColumnSchema": _record(
        ("name", "string"), ("dataType", _N + "DataType"),
        ("nullable", "boolean"), ("default", ["null", "string"]),
    ),
    _N + "IndexSchema": _record(
        ("name", "string"), ("unique", "boolean"), ("primary", "boolean"),
        ("nullable", "boolean"),
        ("columns", {"type": "array", "items": "string"}),
    ),
    _N + "TableSchema": _record(
        ("database", "string"), ("table", "string"), ("tableID", "long"),
        ("version", "long"),
        ("columns", {"type": "array", "items": _N + "ColumnSchema"}),
        ("indexes", {"type": "array", "items": _N + "IndexSchema"}),
    ),
    _N + "Checksum": _record(
        ("version", "int"), ("corrupted", "boolean"),
        ("current", "long"), ("previous", "long"),
    ),
    _N + "Watermark": _record(
        ("version", "int"), ("commitTs", "long"), ("buildTs", "long"),
    ),
    _N + "Bootstrap": _record(
        ("version", "int"), ("buildTs", "long"),
        ("tableSchema", _N + "TableSchema"),
    ),
    _N + "DDL": _record(
        ("version", "int"),
        ("type", {"type": "enum", "symbols": [
            "CREATE", "ALTER", "ERASE", "RENAME", "TRUNCATE",
            "CINDEX", "DINDEX", "QUERY"]}),
        ("sql", "string"), ("commitTs", "long"), ("buildTs", "long"),
        ("tableSchema", ["null", _N + "TableSchema"]),
        ("preTableSchema", ["null", _N + "TableSchema"]),
    ),
    _N + "Timestamp": _record(
        ("location", "string"), ("value", "string"),
    ),
    _N + "UnsignedBigint": _record(
        ("value", "long"),
    ),
    _N + "DML": _record(
        ("version", "int"), ("database", "string"), ("table", "string"),
        ("tableID", "long"),
        ("type", {"type": "enum", "symbols": ["INSERT", "UPDATE",
                                              "DELETE"]}),
        ("commitTs", "long"), ("buildTs", "long"),
        ("schemaVersion", "long"),
        ("claimCheckLocation", ["null", "string"]),
        ("handleKeyOnly", ["null", "boolean"]),
        ("checksum", ["null", _N + "Checksum"]),
        ("data", ["null", {"type": "map", "values": _VALUE_UNION}]),
        ("old", ["null", {"type": "map", "values": _VALUE_UNION}]),
    ),
    _N + "Message": _record(
        ("type", {"type": "enum", "symbols": ["WATERMARK", "BOOTSTRAP",
                                              "DDL", "DML"]}),
        ("payload", [_N + "Watermark", _N + "Bootstrap", _N + "DDL",
                     _N + "DML"]),
    ),
}


# -- message level -----------------------------------------------------------
_KIND_TO_BRANCH = {"WATERMARK": "Watermark", "BOOTSTRAP": "Bootstrap",
                   "DDL": "DDL", "DML": "DML"}


def encode_message(kind: str, payload: dict) -> bytes:
    """One ``Message`` record: enum + payload union (branch picked by
    kind — the reference wraps payloads the same way, `avro.go:146-212`).
    Multi-branch union values follow the shared interpreter's rules: a
    ``("Timestamp", {...})`` tuple names its branch, a plain value picks
    the first branch of its type."""
    return avro_encode(
        {"type": kind, "payload": (_KIND_TO_BRANCH[kind], payload)},
        _N + "Message", SCHEMAS,
    )


def decode_message(buf: bytes) -> dict:
    return read_whole(
        lambda b, pos: avro_decode(b, pos, _N + "Message", SCHEMAS),
        buf, 0, "simple-avro")


# -- compiled DML fast path --------------------------------------------------
# The interpreter walks the schema per value — fine for control
# messages, too slow for the per-row DML hot path.  The generic compiler
# (`codec/avro.py`) takes no multi-branch union, so the value maps get
# their own codec: byte-identical output (pinned by test_simple_avro),
# branch indexes and key bytes precomputed, one flat function per row.
_B_LONG = zigzag_encode(1)                     # union branch 1 -> 0x02
_B_DOUBLE = zigzag_encode(3)                   # branch 3 -> 0x06
_B_STRING = zigzag_encode(4)                   # branch 4 -> 0x08
_DML_PREFIX = zigzag_encode(3) + zigzag_encode(3)  # enum DML + union DML
_OP_ENUM = {"I": zigzag_encode(0), "U": zigzag_encode(1),
            "D": zigzag_encode(2)}


def _enc_str(s: str) -> bytes:
    raw = s.encode("utf-8")
    return zigzag_encode(len(raw)) + raw


def compile_dml_encoder(fields: list[str], types: dict[str, str]):
    """Row-level encoder closure for DML messages whose data/old maps
    carry exactly ``fields`` (scalar long/double/string values)."""
    import struct as _struct

    key_bytes = [_enc_str(f) for f in fields]
    kinds = [types[f] for f in fields]
    n_block = zigzag_encode(len(fields))
    str_cache: dict[str, bytes] = {}

    def enc_map(vals: list) -> bytes:
        out = bytearray(b"\x02")          # union branch 1: the map
        out += n_block
        for kb, kind, v in zip(key_bytes, kinds, vals):
            out += kb
            if v is None:
                out += b"\x00"
            elif kind == "long":
                out += _B_LONG + zigzag_encode(int(v))
            elif kind == "double":
                out += _B_DOUBLE + _struct.pack("<d", float(v))
            else:
                s = str(v)
                b = str_cache.get(s)
                if b is None:
                    b = str_cache[s] = _enc_str(s)
                out += _B_STRING + b
        out += b"\x00"                    # map terminator
        return bytes(out)

    def encode(op: str, database: str, table: str, table_id: int,
               commit_ts: int, after_vals, before_vals) -> bytes:
        db = str_cache.get(database)
        if db is None:
            db = str_cache[database] = _enc_str(database)
        tb = str_cache.get(table)
        if tb is None:
            tb = str_cache[table] = _enc_str(table)
        out = bytearray(_DML_PREFIX)
        out += b"\x02"                    # version int 1
        out += db
        out += tb
        out += zigzag_encode(table_id)
        out += _OP_ENUM[op]
        out += zigzag_encode(commit_ts)
        # buildTs 0, schemaVersion 0, claimCheck/handleKeyOnly/checksum
        # nulls (branch 0 each)
        out += b"\x00\x00\x00\x00\x00"
        out += enc_map(after_vals) if op in ("I", "U") else b"\x00"
        out += enc_map(before_vals) if op in ("U", "D") else b"\x00"
        return bytes(out)

    return encode


def compile_dml_decoder(fields: list[str], types: dict[str, str]):
    """Inverse of the compiled encoder; returns (op_name, image) where
    image is the applied row (data for I/U, old for D).  Raises on any
    message that is not a scalar-map DML (callers needing the general
    shape use :func:`decode_message`)."""
    import struct as _struct

    def _decode(buf: bytes, pos: int):
        if buf[pos:pos + 2] != _DML_PREFIX:
            raise ValueError("simple-avro: not a DML message")
        pos += 2
        _v, pos = zigzag_decode(buf, pos)           # version
        n, pos = zigzag_decode(buf, pos)            # database
        pos += n
        n, pos = zigzag_decode(buf, pos)            # table
        pos += n
        _tid, pos = zigzag_decode(buf, pos)
        op_i, pos = zigzag_decode(buf, pos)
        _cts, pos = zigzag_decode(buf, pos)
        _b, pos = zigzag_decode(buf, pos)           # buildTs
        _sv, pos = zigzag_decode(buf, pos)          # schemaVersion
        # claimCheckLocation / handleKeyOnly / checksum: the fast path
        # handles only the null branch — anything else must surface (the
        # caller falls back to the generic decoder), never desync
        for _ in range(3):
            b, pos = zigzag_decode(buf, pos)
            if b != 0:
                raise ValueError(
                    "simple-avro: compiled decoder: non-null optional field")

        def read_map(pos):
            branch, pos = zigzag_decode(buf, pos)
            if branch == 0:
                return None, pos
            img = {}
            while True:
                cnt, pos = zigzag_decode(buf, pos)
                if cnt == 0:
                    break
                for _ in range(cnt):
                    kl, pos = zigzag_decode(buf, pos)
                    key = buf[pos:pos + kl].decode("utf-8")
                    pos += kl
                    vb, pos = zigzag_decode(buf, pos)
                    if vb == 0:
                        img[key] = None
                    elif vb == 1:
                        img[key], pos = zigzag_decode(buf, pos)
                    elif vb == 3:
                        img[key] = _struct.unpack_from("<d", buf, pos)[0]
                        pos += 8
                    elif vb == 4:
                        sl, pos = zigzag_decode(buf, pos)
                        img[key] = buf[pos:pos + sl].decode("utf-8")
                        pos += sl
                    else:
                        raise ValueError(
                            f"simple-avro: unexpected value branch {vb}")
            return img, pos

        data, pos = read_map(pos)
        old, pos = read_map(pos)
        op = ("INSERT", "UPDATE", "DELETE")[op_i]
        return (op, (data if op != "DELETE" else old)), pos

    def decode(buf: bytes):
        return read_whole(_decode, buf, 0, "simple-avro")

    return decode


# -- DataFrame operators -----------------------------------------------------
def encode_simple_avro_dml(
    flat: DataFrame,
    fields: list[str],
    types: dict[str, str],
    database_col: str = "schema_name",
    table_col: str = "table_name",
) -> DataFrame:
    """Flat changelog (before_*/after_* columns) → binary simple-avro
    DML messages.  insert: data only; update: data+old; delete: old
    only — matching the JSON twin (`simple_protocol.py:35`)."""
    from pyspark.sql import functions as F

    from ticdc_spark.functions.arrow_rows import map_batches

    enc = compile_dml_encoder(fields, types)
    tid_col = (F.col("table_id") if "table_id" in flat.columns
               else F.lit(0)).cast("long").alias("table_id")
    images = [f"{img}_{f}" for img in ("after", "before") for f in fields]

    def _encode(batches: Iterator[dict]) -> Iterator[list]:
        for c in batches:
            after = [c[f"after_{f}"] for f in fields]
            before = [c[f"before_{f}"] for f in fields]
            yield [
                (seq, op, cts,
                 enc(op, db, tbl, tid, cts, [a[i] for a in after],
                     [b[i] for b in before]))
                for i, (seq, op, db, tbl, tid, cts) in enumerate(zip(
                    c["seq"], c["op"], c[database_col], c[table_col],
                    c["table_id"], c["commit_ts"]))]

    return map_batches(
        flat.select("seq", "op", database_col, table_col, tid_col,
                    "commit_ts", *images),
        _encode, "seq long, op string, commit_ts long, value binary")


def decode_simple_avro_dml(
    msgs: DataFrame,
    fields: list[str],
    types: dict[str, str],
) -> DataFrame:
    """Consumer side: binary messages → recovered row images (data for
    I/U, old for D — the image a replicator applies)."""
    from ticdc_spark.functions.arrow_rows import map_batches

    spark_t = {"long": "long", "double": "double", "string": "string"}
    out_schema = "seq long, op string, commit_ts long, " + ", ".join(
        f"{f} {spark_t[types[f]]}" for f in fields)

    dec = compile_dml_decoder(fields, types)

    def _decode(batches: Iterator[dict]) -> Iterator[list]:
        for c in batches:
            rows = []
            for seq, op, cts, v in zip(c["seq"], c["op"], c["commit_ts"],
                                       c["value"]):
                _op, img = dec(v)
                rows.append((seq, op, cts,
                             *(None if img is None else img.get(f)
                               for f in fields)))
            yield rows

    return map_batches(msgs.select("seq", "op", "commit_ts", "value"),
                       _decode, out_schema)


def encode_simple_avro_values(cl: DataFrame) -> DataFrame:
    """Pipeline-shape encoder (``protocol=simple`` with
    ``encoding-format=avro``, `pkg/config/sink.go:456` CodecConfig):
    keeps EVERY frame column (routing, images, ts) and adds the binary
    simple-avro DML ``value`` through ``arrow_rows.binary_column`` over
    the compiled codec — the hot path `test_simple_avro` pins
    byte-identical to the generic kernel."""
    from pyspark.sql import functions as F

    from ticdc_spark.functions.arrow_rows import binary_column

    schema = cl.schema["after"].dataType
    fields = [f.name for f in schema.fields]
    simple = {"bigint": "long", "double": "double"}
    types = {f.name: simple.get(f.dataType.simpleString(), "string")
             for f in schema.fields}
    enc = compile_dml_encoder(fields, types)

    def conv(c):
        after = [c["after"][f] for f in fields]
        before = [c["before"][f] for f in fields]
        return [enc(op, db, tbl, tid, cts, [a[i] for a in after],
                    [b[i] for b in before])
                for i, (op, db, tbl, tid, cts) in enumerate(zip(
                    c["op"], c["schema_name"], c["table_name"],
                    c["table_id"], c["commit_ts"]))]

    tid_col = (F.col("table_id") if "table_id" in cl.columns
               else F.lit(0)).cast("long").alias("table_id")
    return cl.withColumn("value", binary_column(
        conv, "op", "schema_name", "table_name", tid_col, "commit_ts",
        "before", "after"))
