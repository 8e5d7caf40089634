"""Native ``avro`` protocol — per-table Confluent-binary messages.

Reference: `pkg/sink/codec/avro/arvo.go` (BatchEncoder) + `helper.go`.
The Avro JSON-encoding debug twin (protocol ``avro-json``) is
`codec/avro_codec.py`; this module is the real wire shape, the one
builder of table schemas (the registry documents of
``avro_schema_document`` and the flat-record path come from it too), and
its bytes come from the shared Avro codec (`codec/avro.py`):

- value schema (`columns2AvroSchema` :352-406): record named
  ``SanitizeName(table)`` in namespace
  ``SanitizeName(keyspace).SanitizeName(schema)`` (`helper.go:162-169`);
  each column an avro primitive carrying ``connect.parameters:
  {tidb_type: ...}`` (`columnToAvroSchema` :478-...; BIGINT→long,
  DOUBLE→double, INT→int, unsigned BIGINT→string under the string
  handling mode); nullable columns union as ``["null", T]`` with
  ``default: null`` when the column has no default, else ``[T,"null"]``
  with the default (`:386-402`).
- TiDB extension fields appended when enable-tidb-extension
  (`schemaWithExtension` :210-235): ``_tidb_op`` ("c"/"u"/"" —
  `helper.go:44-45,147-154`), ``_tidb_commit_ts``,
  ``_tidb_commit_physical_time`` (TSO physical millis).
- key = the handle columns through the same schema builder, subject
  ``<topic>-key`` (`encodeKey` :82-126).
- DELETE value (`encodeValue` :128-141): a Kafka tombstone (None)
  unless enable-tidb-extension AND avro-enable-watermark, in which
  case the 9-byte ``deleteByte(3) | commitTs u64 BE`` marker.
- envelope = registry header + avro binary (`toEnvelope` :709-720); the
  header is the schema manager's (`codec/schema_registry.py`).
"""

from __future__ import annotations

import json

from ticdc_spark.codec.avro import (
    compile_avro_decoder,
    compile_avro_encoder,
    read_whole,
    sanitize_name,
)
from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    GlueSchemaManager,
    parse_msg_header,
)

# compiled encoders keyed by schema-dict identity (sound because the
# entry holds a strong ref to the schema, so its id cannot be reused
# while the entry lives; the memoized schemas below are stable objects,
# so each table version compiles once)
_ENCODER_MEMO: dict = {}


def _compiled_encoder(schema: dict):
    hit = _ENCODER_MEMO.get(id(schema))
    if hit is not None and hit[0] is schema:
        return hit[1]
    enc = compile_avro_encoder(schema, {})
    if len(_ENCODER_MEMO) > 1024:
        _ENCODER_MEMO.clear()
    _ENCODER_MEMO[id(schema)] = (schema, enc)
    return enc

TIDB_OP = "_tidb_op"
TIDB_COMMIT_TS = "_tidb_commit_ts"
TIDB_PHYSICAL_TIME = "_tidb_commit_physical_time"
DELETE_BYTE = 3

# canonical changelog payload column meta (id is the clustered handle)
PAYLOAD_AVRO_COLUMNS = (
    {"name": "id", "avro": "long", "tidb_type": "BIGINT",
     "not_null": True, "handle": True},
    {"name": "val", "avro": "double", "tidb_type": "DOUBLE"},
    {"name": "k", "avro": "long", "tidb_type": "BIGINT"},
)


def avro_namespace(keyspace: str, schema: str) -> str:
    ns = sanitize_name(keyspace)
    s = sanitize_name(schema)
    return f"{ns}.{s}" if s else ns


def _column_field(col: dict) -> dict:
    """columnToAvroSchema + the nullable/default union rules
    (`arvo.go:352-406`).  Column meta keys: ``avro`` (primitive type),
    ``tidb_type``, optional ``params`` (extra connect.parameters —
    enum/set "allowed", bit "length"), optional ``decimal``
    (precision, scale) → the decimal logical type, ``not_null``,
    ``default``, ``handle``."""
    params = {"tidb_type": col["tidb_type"]}
    params.update(col.get("params") or {})
    typ: dict = {"type": col["avro"], "connect.parameters": params}
    logical = "decimal" in col
    if logical:
        prec, scale = col["decimal"]
        typ.update({"logicalType": "decimal", "precision": prec,
                    "scale": scale})
    field: dict = {"name": sanitize_name(col["name"])}
    if logical:
        # goavro can't set defaults on logical types (arvo.go:379-388)
        if col.get("not_null"):
            field["type"] = typ
        else:
            field["type"] = ["null", typ]
            field["default"] = None
        return field
    if col.get("not_null"):
        field["type"] = typ
        if col.get("default") is not None:
            field["default"] = col["default"]
    elif col.get("default") is None:
        field["type"] = ["null", typ]
        field["default"] = None
    else:
        field["type"] = [typ, "null"]
        field["default"] = col["default"]
    return field


# columnToAvroSchema's full type table (`arvo.go:478-608`) as column
# meta builders — avro type + tidb_type + extra parameters per family.
def mysql_col(name: str, mysql_type: str, not_null: bool = False,
              handle: bool = False, default=None, unsigned: bool = False,
              binary: bool = False, elems: list | None = None,
              flen: int = -1, decimal: int = -1,
              decimal_mode: str = "precise",
              bigint_unsigned_mode: str = "long") -> dict:
    t = mysql_type.lower()
    base = {"name": name, "not_null": not_null, "handle": handle,
            "default": default}
    if t in ("tinyint", "smallint", "mediumint"):
        return {**base, "avro": "int",
                "tidb_type": "INT UNSIGNED" if unsigned else "INT"}
    if t == "int":
        return {**base, "avro": "long" if unsigned else "int",
                "tidb_type": "INT UNSIGNED" if unsigned else "INT"}
    if t == "bigint":
        avro = "long"
        if unsigned and bigint_unsigned_mode == "string":
            avro = "string"
        return {**base, "avro": avro,
                "tidb_type": "BIGINT UNSIGNED" if unsigned else "BIGINT"}
    if t == "float":
        return {**base, "avro": "float", "tidb_type": "FLOAT"}
    if t == "double":
        return {**base, "avro": "double", "tidb_type": "DOUBLE"}
    if t == "bit":
        return {**base, "avro": "bytes", "tidb_type": "BIT",
                "params": {"length": str(flen if flen != -1 else 1)}}
    if t == "decimal":
        if decimal_mode != "precise":
            return {**base, "avro": "string", "tidb_type": "DECIMAL"}
        return {**base, "avro": "bytes", "tidb_type": "DECIMAL",
                "decimal": (flen if flen != -1 else 10,
                            decimal if decimal != -1 else 0)}
    if t in ("varchar", "char", "text", "tinytext", "mediumtext",
             "longtext", "binary", "varbinary", "blob", "tinyblob",
             "mediumblob", "longblob"):
        tt = "BLOB" if binary else "TEXT"
        return {**base, "avro": "bytes" if binary else "string",
                "tidb_type": tt}
    if t in ("enum", "set"):
        return {**base, "avro": "string", "tidb_type": t.upper(),
                "params": {"allowed": ",".join(elems or [])}}
    if t == "json":
        return {**base, "avro": "string", "tidb_type": "JSON"}
    if t in ("date", "datetime", "timestamp"):
        return {**base, "avro": "string", "tidb_type": t.upper()}
    if t == "time":  # mysql.TypeDuration
        return {**base, "avro": "string", "tidb_type": "TIME"}
    if t == "year":
        return {**base, "avro": "int", "tidb_type": "YEAR"}
    if t == "vector":
        return {**base, "avro": "string", "tidb_type": "TiDBVECTORFloat32"}
    raise ValueError(f"unknown mysql type: {mysql_type}")


# the per-row encoders below would rebuild these schema dicts on every
# call (guide §4.5: heavyweight init per row); the dicts are pure
# functions of their arguments, so memoize them per column-meta OBJECT
# (by identity, holding a strong ref so the id cannot be reused): the
# module default and a DataFrame encoder's frame-derived metas each
# build once per table.
# FROZEN CONTRACT: table_value_schema/table_key_schema return the
# memoized dict ITSELF, and a column-meta tuple must not change after
# its first use — callers must treat both as immutable (mutating either
# would corrupt every later encode of that table).  Callers that need to
# extend a schema must copy.deepcopy it first.
_SCHEMA_MEMO: dict = {}


def _memoized(key: tuple, columns, build) -> dict:
    hit = _SCHEMA_MEMO.get(key)
    if hit is not None and hit[0] is columns:
        return hit[1]
    out = build()
    if len(_SCHEMA_MEMO) > 1024:
        _SCHEMA_MEMO.clear()
    _SCHEMA_MEMO[key] = (columns, out)
    return out


def table_value_schema(schema_name: str, table_name: str,
                       columns=PAYLOAD_AVRO_COLUMNS,
                       tidb_extension: bool = True,
                       keyspace: str = "default") -> dict:
    def build():
        top = {
            "type": "record",
            "name": sanitize_name(table_name),
            "namespace": avro_namespace(keyspace, schema_name),
            "fields": [_column_field(c) for c in columns],
        }
        if tidb_extension:
            top["fields"] += [
                {"name": TIDB_OP, "type": "string", "default": ""},
                {"name": TIDB_COMMIT_TS, "type": "long", "default": 0},
                {"name": TIDB_PHYSICAL_TIME, "type": "long", "default": 0},
            ]
        return top

    return _memoized(("v", id(columns), schema_name, table_name,
                      tidb_extension, keyspace), columns, build)


def table_key_schema(schema_name: str, table_name: str,
                     columns=PAYLOAD_AVRO_COLUMNS,
                     keyspace: str = "default") -> dict:
    return _memoized(
        ("k", id(columns), schema_name, table_name, keyspace), columns,
        lambda: {
            "type": "record",
            "name": sanitize_name(table_name),
            "namespace": avro_namespace(keyspace, schema_name),
            "fields": [_column_field(c) for c in columns
                       if c.get("handle")],
        })


# Spark payload types as Avro primitives, and the TiDB type a column
# reports when no MySQL type is given
_SPARK_TO_AVRO = {
    "long": "long", "bigint": "long", "int": "int", "integer": "int",
    "double": "double", "float": "float", "string": "string",
    "binary": "bytes", "date": "int", "boolean": "boolean",
}
_SPARK_TO_TIDB = {"string": "varchar", "binary": "blob"}


def struct_columns(payload, mysql_types: dict | None = None,
                   pk_fields: tuple[str, ...] = ("id",)) -> tuple:
    """Column metas (see :func:`_column_field`) for a Spark payload
    struct: the Avro primitive of each field's Spark type, ``tidb_type``
    from ``mysql_types`` (else from the Spark type), and the
    ``pk_fields`` as NOT NULL handle columns.  On the events payload this
    equals ``PAYLOAD_AVRO_COLUMNS``."""
    out = []
    for f in payload.fields:
        t = f.dataType.simpleString()
        col = {"name": f.name, "avro": _SPARK_TO_AVRO[t],
               "tidb_type": (mysql_types or {}).get(
                   f.name, _SPARK_TO_TIDB.get(t, t)).upper()}
        if f.name in pk_fields:
            col.update(not_null=True, handle=True)
        out.append(col)
    return tuple(out)


def avro_schema_document(
    schema_name: str,
    table_name: str,
    payload,
    mysql_types: dict[str, str],
    pk_fields: tuple[str, ...] = ("id",),
    keyspace: str = "default",
) -> list[dict]:
    """The Confluent-registry documents the avro encoder registers per
    table (`avro/arvo.go:352-407` columns2AvroSchema + subjects
    `helper.go:27-28,143`): one ``<topic>-value`` record over all
    columns (no TiDB extension) and one ``<topic>-key`` record over the
    handle key, built by :func:`table_value_schema` /
    :func:`table_key_schema` from :func:`struct_columns`.

    Plan-time metadata, computed once per (table, schema version) on
    the driver — exactly the cardinality the reference's registry calls
    have; nothing per-row."""
    columns = struct_columns(payload, mysql_types, pk_fields)
    topic = f"cdc_{schema_name}_{table_name}"
    return [
        {"subject": topic + suffix,
         "schema_json": json.dumps(schema, separators=(",", ":"))}
        for suffix, schema in (
            ("-value", table_value_schema(schema_name, table_name, columns,
                                          False, keyspace)),
            ("-key", table_key_schema(schema_name, table_name, columns,
                                      keyspace)),
        )
    ]


def _register(mgr, subject: str, schema: dict, version: int = 1) -> bytes:
    _, header = mgr.get_cached_or_register(
        subject, version, lambda: json.dumps(schema,
                                             separators=(",", ":")))
    return header


def encode_row_value(mgr, topic: str, schema_name: str, table_name: str,
                     row: dict, op: str, commit_ts: int,
                     columns=PAYLOAD_AVRO_COLUMNS,
                     tidb_extension: bool = True,
                     avro_enable_watermark: bool = False,
                     keyspace: str = "default") -> bytes | None:
    """encodeValue: confluent-framed record for I/U; delete marker or
    tombstone (None) for D."""
    if op == "D":
        if not (tidb_extension and avro_enable_watermark):
            return None  # Kafka tombstone
        return bytes([DELETE_BYTE]) + int(commit_ts).to_bytes(8, "big")
    schema = table_value_schema(schema_name, table_name, columns,
                                tidb_extension, keyspace)
    header = _register(mgr, topic + "-value", schema)
    native = {sanitize_name(c["name"]): row.get(c["name"])
              for c in columns}
    if tidb_extension:
        native[TIDB_OP] = "c" if op == "I" else "u"
        native[TIDB_COMMIT_TS] = int(commit_ts)
        # oracle.ExtractPhysical: TSO physical millis = ts >> 18
        native[TIDB_PHYSICAL_TIME] = int(commit_ts) >> 18
    return header + _compiled_encoder(schema)(native)


def encode_row_key(mgr, topic: str, schema_name: str, table_name: str,
                   row: dict, columns=PAYLOAD_AVRO_COLUMNS,
                   keyspace: str = "default") -> bytes:
    schema = table_key_schema(schema_name, table_name, columns, keyspace)
    header = _register(mgr, topic + "-key", schema)
    native = {sanitize_name(c["name"]): row.get(c["name"])
              for c in columns if c.get("handle")}
    return header + _compiled_encoder(schema)(native)


def decode_message(mgr, subject: str, data: bytes) -> dict | None:
    """Registry-driven decode: header id → schema → native record.
    Returns None for a tombstone; the 9-byte delete marker decodes to
    ``{"_delete_commit_ts": ts}``."""
    if data is None:
        return None
    if len(data) == 9 and data[0] == DELETE_BYTE:
        return {"_delete_commit_ts": int.from_bytes(data[1:], "big")}
    schema_id, pos = parse_msg_header(data)
    parsed = getattr(mgr, "_parsed_schemas", None)
    if parsed is None:
        parsed = mgr._parsed_schemas = {}
    dec = parsed.get(schema_id)
    if dec is None:
        schema = json.loads(mgr.lookup(subject, schema_id))
        dec = parsed[schema_id] = compile_avro_decoder(schema, {})
    return read_whole(dec, data, pos, "avro")


def encode_avro_binary_df(cl, tidb_extension: bool = True,
                          avro_enable_watermark: bool = False,
                          keyspace: str = "default",
                          pk_fields: tuple[str, ...] = ("id",)):
    """DataFrame encoder (``PROTOCOLS["avro"].dml``): binary key/value
    columns over the columns of the frame's ``after`` struct
    (:func:`struct_columns`, ``pk_fields`` the handle); one
    ``arrow_rows.binary_column`` each, with an in-memory registry per
    batch (deployments swap in the REST/Glue managers from
    codec/schema_registry.py)."""
    from pyspark.sql import functions as F

    from ticdc_spark.functions.arrow_rows import binary_column

    columns = struct_columns(cl.schema["after"].dataType,
                             pk_fields=pk_fields)

    def _make(mode: str, cols: tuple):
        names = [c["name"] for c in cols]

        def conv(f):
            mgr = ConfluentSchemaManager.in_memory()
            image = f["image"]
            out = []
            for i, (sn, tn, op, cts) in enumerate(zip(
                    f["schema_name"], f["table_name"], f["op"],
                    f["commit_ts"])):
                row = {n: image[n][i] for n in names}
                topic = f"{sn}.{tn}"
                if mode == "key":
                    out.append(encode_row_key(
                        mgr, topic, sn, tn, row, columns,
                        keyspace=keyspace))
                else:
                    out.append(encode_row_value(
                        mgr, topic, sn, tn, row, op, cts, columns,
                        tidb_extension=tidb_extension,
                        avro_enable_watermark=avro_enable_watermark,
                        keyspace=keyspace))
            return out

        return conv

    # key uses the pre-image for deletes; value uses the after image
    img_key = F.when(F.col("op") == "D", F.col("before")) \
        .otherwise(F.col("after"))
    handle = tuple(c for c in columns if c.get("handle"))
    meta = ["schema_name", "table_name", "op", "commit_ts"]

    def _image(img, cols):
        return F.struct(*[img.getField(c["name"]).alias(c["name"])
                          for c in cols]).alias("image")

    return (cl.withColumn("key", binary_column(
                _make("key", handle), *meta, _image(img_key, handle)))
            .withColumn("value", binary_column(
                _make("value", columns), *meta,
                _image(F.col("after"), columns))))


# -- flat-record path: key/value Avro records over ``before_*``/``after_*``
# columns with caller-chosen registry ids, in the Confluent or the Glue
# envelope.  The reference's MQ oracle strategy (SURVEY §5: the
# kafka-consumer decode-and-apply path is the oracle) drives it through
# a consumer round trip.
_PASS = ["op", "commit_ts", "seq"]


def _flat_schemas(fields, types: dict, pk_fields) -> tuple[dict, dict]:
    """(key, value) records: handle fields bare, the rest ``["null", T]``."""
    columns = tuple(
        {"name": f, "avro": types[f], "tidb_type": types[f].upper(),
         "not_null": f in pk_fields, "handle": f in pk_fields}
        for f in fields)
    return (table_key_schema("", "flat", columns),
            table_value_schema("", "flat", columns, tidb_extension=False))


def encode_avro_binary(flat, fields: list[str], types: dict[str, str],
                       pk_fields: tuple[str, ...], key_schema_id: int = 2,
                       value_schema_id: int = 1,
                       registry: str = "confluent"):
    """Flat changelog (``before_*``/``after_*`` columns) → avro-binary
    ``key``/``value`` in the chosen registry envelope. Delete: key from
    pre image, value null (tombstone). ``registry="glue"`` derives a
    deterministic schema-version UUID per message class from the
    numeric id (stand-in for the registry's assigned UUID)."""
    import hashlib

    from pyspark.sql.types import StructType

    from ticdc_spark.functions.arrow_rows import map_batches

    ids = (key_schema_id, value_schema_id)
    if registry == "glue":
        khdr, vhdr = (GlueSchemaManager.get_msg_header(
            hashlib.md5(f"schema:{i}".encode()).hexdigest()) for i in ids)
    elif registry == "confluent":
        khdr, vhdr = (ConfluentSchemaManager.get_msg_header(i) for i in ids)
    else:
        raise ValueError(f"unknown registry: {registry}")
    out_schema = StructType([flat.schema[c] for c in _PASS]) \
        .add("key", "binary").add("value", "binary")
    key_schema, value_schema = _flat_schemas(fields, types, pk_fields)
    ffields = list(fields)

    def _encode_batches(batches):
        kenc = compile_avro_encoder(key_schema, {})
        venc = compile_avro_encoder(value_schema, {})
        for c in batches:
            images = {img: [c[f"{img}_{f}"] for f in ffields]
                      for img in ("before", "after")}
            rows = []
            passed = zip(*(c[p] for p in _PASS))
            for i, (op, pas) in enumerate(zip(c["op"], passed)):
                cols = images["before" if op == "D" else "after"]
                rec = {f: col[i] for f, col in zip(ffields, cols)}
                rows.append((*pas, khdr + kenc(rec),
                             None if op == "D" else vhdr + venc(rec)))
            yield rows

    return map_batches(
        flat.select(*_PASS, *(f"{img}_{f}" for img in ("before", "after")
                              for f in ffields)),
        _encode_batches, out_schema)


def decode_avro_binary(encoded, fields: list[str], types: dict[str, str],
                       pk_fields: tuple[str, ...]):
    """Consumer side: envelope bytes → typed columns. Tombstoned deletes
    recover only the handle key; other columns come back NULL."""
    from pyspark.sql.types import StructType

    from ticdc_spark.functions.arrow_rows import map_batches

    out_schema = StructType([encoded.schema[c] for c in _PASS])
    for f in fields:
        out_schema.add(f, types[f])
    key_schema, value_schema = _flat_schemas(fields, types, pk_fields)
    ffields = list(fields)

    def _decode_batches(batches):
        kdec = compile_avro_decoder(key_schema, {})
        vdec = compile_avro_decoder(value_schema, {})
        for c in batches:
            rows = []
            for *pas, k, v in zip(*(c[p] for p in _PASS), c["key"],
                                  c["value"]):
                buf, dec = (k, kdec) if v is None else (v, vdec)
                _, pos = parse_msg_header(buf)
                rec = read_whole(dec, buf, pos, "avro")
                rows.append((*pas, *(rec.get(f) for f in ffields)))
            yield rows

    return map_batches(encoded.select(*_PASS, "key", "value"),
                       _decode_batches, out_schema)


# -- non-row events (`encoder.go:105-147`): magic-byte framed ----------------
DDL_BYTE = 1
CHECKPOINT_BYTE = 2


def encode_checkpoint(ts: int, tidb_extension: bool = True,
                      avro_enable_watermark: bool = True) -> bytes | None:
    """EncodeCheckpointEvent: ``checkpointByte(2) | ts u64 BE`` when
    extension+watermark are on, else nothing (nil message)."""
    if not (tidb_extension and avro_enable_watermark):
        return None
    return bytes([CHECKPOINT_BYTE]) + int(ts).to_bytes(8, "big")


def encode_ddl(query: str, action_type: int, schema: str, table: str,
               commit_ts: int, tidb_extension: bool = True,
               avro_enable_watermark: bool = True) -> bytes | None:
    """EncodeDDLEvent: ``ddlByte(1)`` + the ddlEvent JSON doc
    (query/type/schema/table/commitTs — `helper.go:91-97` field
    order)."""
    if not (tidb_extension and avro_enable_watermark):
        return None
    doc = json.dumps({"query": query, "type": action_type,
                      "schema": schema, "table": table,
                      "commitTs": commit_ts}, separators=(",", ":"))
    return bytes([DDL_BYTE]) + doc.encode("utf-8")


def decode_event(data: bytes):
    """Consumer dispatch on the leading magic byte (confluent 0, ddl 1,
    checkpoint 2, delete 3)."""
    if not data:
        return ("tombstone", None)
    if data[0] == DDL_BYTE:
        return ("ddl", json.loads(data[1:].decode("utf-8")))
    if data[0] == CHECKPOINT_BYTE:
        return ("checkpoint", int.from_bytes(data[1:9], "big"))
    if data[0] == DELETE_BYTE and len(data) == 9:
        return ("delete", int.from_bytes(data[1:9], "big"))
    if data[0] == 0:
        return ("row", data)
    raise ValueError(f"unknown avro event magic: {data[0]:#x}")
