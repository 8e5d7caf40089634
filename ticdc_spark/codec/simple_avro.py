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

DataFrame path: Arrow-batched ``mapInPandas`` — byte assembly is not
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
    import pandas as pd

    out_schema = "seq long, op string, commit_ts long, value binary"
    enc = compile_dml_encoder(fields, types)

    def _cols(pdf, prefix):
        """Per-field python lists with NaN→None (object conversion once
        per column, not per row)."""
        out = []
        for f in fields:
            col = pdf[f"{prefix}_{f}"]
            out.append([None if pd.isna(v) else v for v in col.tolist()])
        return out

    def _encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            ops = pdf["op"].tolist()
            dbs = pdf[database_col].tolist()
            tbls = pdf[table_col].tolist()
            tids = (pdf["table_id"].tolist() if "table_id" in pdf
                    else [0] * len(pdf))
            ctss = pdf["commit_ts"].tolist()
            after = _cols(pdf, "after")
            before = _cols(pdf, "before")
            vals = [
                enc(ops[i], dbs[i], tbls[i], int(tids[i]), int(ctss[i]),
                    [c[i] for c in after], [c[i] for c in before])
                for i in range(len(ops))
            ]
            yield pd.DataFrame({
                "seq": pdf["seq"].astype("int64"),
                "op": pdf["op"],
                "commit_ts": pdf["commit_ts"].astype("int64"),
                "value": vals,
            })

    return flat.mapInPandas(_encode, out_schema)


def decode_simple_avro_dml(
    msgs: DataFrame,
    fields: list[str],
    types: dict[str, str],
) -> DataFrame:
    """Consumer side: binary messages → recovered row images (data for
    I/U, old for D — the image a replicator applies)."""
    import pandas as pd

    spark_t = {"long": "long", "double": "double", "string": "string"}
    out_schema = "seq long, op string, commit_ts long, " + ", ".join(
        f"{f} {spark_t[types[f]]}" for f in fields)

    dec = compile_dml_decoder(fields, types)

    def _decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            cols: dict[str, list] = {f: [] for f in fields}
            for v in pdf["value"]:
                _op, img = dec(bytes(v))
                for f in fields:
                    cols[f].append(None if img is None else img.get(f))
            out = {
                "seq": pdf["seq"].astype("int64"),
                "op": pdf["op"],
                "commit_ts": pdf["commit_ts"].astype("int64"),
            }
            for f in fields:
                s = pd.Series(cols[f])
                if types[f] in ("long",):
                    s = s.astype("Int64")
                out[f] = s
            yield pd.DataFrame(out)

    return msgs.mapInPandas(_decode, out_schema)


def encode_simple_avro_values(cl: DataFrame) -> DataFrame:
    """Pipeline-shape encoder (``protocol=simple`` with
    ``encoding-format=avro``, `pkg/config/sink.go:456` CodecConfig):
    keeps EVERY frame column (routing, images, ts) and adds the binary
    simple-avro DML ``value`` via an Arrow-batched pandas UDF over the
    compiled codec — the hot path `test_simple_avro` pins byte-identical
    to the generic kernel."""
    import pandas as pd
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    schema = cl.schema["after"].dataType
    fields = [f.name for f in schema.fields]
    simple = {"bigint": "long", "double": "double"}
    types = {f.name: simple.get(f.dataType.simpleString(), "string")
             for f in schema.fields}
    enc = compile_dml_encoder(fields, types)
    n = len(fields)

    def _impl(*cols):
        # plain lists once per batch instead of .iloc per cell — the
        # per-row Series.iloc chain otherwise costs more than the
        # compiled avro encode itself (guide §4.2)
        op, db, tbl, tid, cts = (c.tolist() for c in cols[:5])
        before = [[None if pd.isna(v) else v for v in c.tolist()]
                  for c in cols[5:5 + n]]
        after = [[None if pd.isna(v) else v for v in c.tolist()]
                 for c in cols[5 + n:]]
        out = []
        for i in range(len(op)):
            out.append(enc(op[i], db[i], tbl[i],
                           int(tid[i]), int(cts[i]),
                           [c[i] for c in after], [c[i] for c in before]))
        return pd.Series(out, dtype=object)

    # pandas_udf needs a fixed named signature; generate one of the
    # right arity (the module's deferred annotations rule out hints)
    params = (["op", "db", "tbl", "tid", "cts"]
              + [f"b{i}" for i in range(n)] + [f"a{i}" for i in range(n)])
    ns: dict = {"_impl": _impl}
    exec(f"def _conv({', '.join(params)}):\n"
         f"    return _impl({', '.join(params)})", ns)
    conv = ns["_conv"]
    conv.__annotations__ = {p: pd.Series for p in params + ["return"]}
    udf = pandas_udf(conv, "binary")
    tid_col = (F.col("table_id") if "table_id" in cl.columns
               else F.lit(0)).cast("long")
    args = ([F.col("op"), F.col("schema_name"), F.col("table_name"),
             tid_col, F.col("commit_ts")]
            + [F.col(f"before.{f}") for f in fields]
            + [F.col(f"after.{f}") for f in fields])
    return cl.withColumn("value", udf(*args))
