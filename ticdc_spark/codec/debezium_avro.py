"""Debezium AVRO encoding — the Connect-schema ⇄ Avro bridge.

The reference's Debezium sink has two wire shapes; the JSON envelope is
`codec/debezium.py`, this module is the Avro variant
(`pkg/sink/codec/debezium/avro.go:1-1077`, decoder in
`avro_decoder.go`).  The reference's pipeline is: build the Debezium
Connect message (schema block + payload — the SAME structure the JSON
encoder emits), convert the Connect schema to an Avro schema
(`toAvroSchema`), register it with the schema registry under
``<topic>-key`` / ``<topic>-value``, convert the payload to Avro
native (`toNative`), and emit ``confluent header + avro binary``.
The decoder reverses it: header → registered Avro schema → binary →
native → Connect schema+payload reconstructed from the Avro schema's
``connect.*`` metadata (`avro_decoder.go:233-436`).

Conversion rules (avro.go:669-778):
- struct → record; full name split into name/namespace; the SECOND use
  of a defined name emits the name string (named-type reference).
- optional field → union ``["null", T]`` with ``"default": null``.
- ``connect.name`` / ``connect.version`` / ``connect.parameters``
  metadata ride on the Avro schema; ``connect.field`` and
  ``tidb_type`` ride on record fields.
- Kafka Connect Decimal (``bytes`` + name
  ``org.apache.kafka.connect.data.Decimal``) → Avro
  ``bytes``+``logicalType: decimal`` with precision/scale from the
  Connect parameters; payload string ⇄ big-endian two's-complement
  unscaled value (Avro spec's decimal logical type).
- int8/int16 → Avro int carrying ``connect.type``.
- Connect ``bytes`` payloads are base64 strings (JSON transport);
  native carries raw bytes.

Field names are sanitized to Avro rules through the same
``sanitize_name`` the native ``avro`` protocol uses, and the bytes come
from the shared Avro codec (`codec/avro.py`): its compiler on the per-row
paths, its interpreter for one-off messages.
"""

from __future__ import annotations

import base64
import json
from decimal import Decimal

from ticdc_spark.codec.avro import (
    avro_decode,
    avro_encode,
    collect_named_schemas,
    compile_avro_decoder,
    compile_avro_encoder,
    read_whole,
    resolve_named,
    sanitize_name,
)
from ticdc_spark.codec.schema_registry import (
    ConfluentSchemaManager,
    parse_msg_header,
)

DECIMAL_CONNECT_NAME = "org.apache.kafka.connect.data.Decimal"
KEY_SUFFIX = "-key"
VALUE_SUFFIX = "-value"

_PRIMITIVE_TO_AVRO = {
    "boolean": "boolean", "string": "string", "bytes": "bytes",
    "int8": "int", "int16": "int", "int32": "int", "int64": "long",
    "float": "float", "double": "double",
}
_AVRO_TO_CONNECT = {
    "boolean": "boolean", "string": "string", "bytes": "bytes",
    "int": "int32", "long": "int64", "float": "float",
    "double": "double",
}


def _sanitize_full_name(full: str) -> str:
    return ".".join(sanitize_name(p) for p in full.split("."))


def _full_name(connect_name: str, fallback: str) -> str:
    if connect_name:
        return _sanitize_full_name(connect_name)
    if fallback:
        return _sanitize_full_name(fallback)
    return "ConnectDefault"


def _is_decimal_schema(schema: dict) -> bool:
    return (schema.get("type") == "bytes"
            and schema.get("name") == DECIMAL_CONNECT_NAME)


def _add_connect_metadata(avro: dict, schema: dict) -> None:
    if schema.get("name"):
        avro["connect.name"] = schema["name"]
    if schema.get("version"):
        avro["connect.version"] = schema["version"]
    if schema.get("parameters"):
        avro["connect.parameters"] = schema["parameters"]


class ConnectToAvro:
    """toAvroSchema / toNative with per-message named-schema dedup."""

    def __init__(self) -> None:
        self.defined: set[str] = set()

    def to_avro_schema(self, schema: dict, fallback: str = ""):
        typ = schema.get("type")
        if typ == "struct":
            full = _full_name(schema.get("name", ""), fallback)
            if full in self.defined:
                return full  # named-type reference
            self.defined.add(full)
            namespace, _, name = full.rpartition(".")
            record: dict = {"type": "record", "name": name, "fields": []}
            if namespace:
                record["namespace"] = namespace
            _add_connect_metadata(record, schema)
            for fs in schema.get("fields") or []:
                fname = sanitize_name(fs.get("field", ""))
                ftype = self.to_avro_schema(fs, fname)
                field: dict = {"name": fname, "type": ftype}
                if fs.get("field"):
                    field["connect.field"] = fs["field"]
                if fs.get("tidb_type"):
                    field["tidb_type"] = fs["tidb_type"]
                if fs.get("optional"):
                    field["type"] = ["null", ftype]
                    field["default"] = None
                record["fields"].append(field)
            return record
        if typ == "array":
            items = schema.get("items")
            if items is None:
                raise ValueError("array schema is missing items")
            arr = {"type": "array",
                   "items": self.to_avro_schema(items, fallback + "Item")}
            _add_connect_metadata(arr, schema)
            return arr
        if _is_decimal_schema(schema):
            params = schema.get("parameters") or {}
            dec = {"type": "bytes", "logicalType": "decimal",
                   "precision": int(params["precision"]),
                   "scale": int(params["scale"])}
            _add_connect_metadata(dec, schema)
            return dec
        avro_type = _PRIMITIVE_TO_AVRO.get(typ)
        if avro_type is None:
            raise ValueError(f"unsupported connect type: {typ}")
        has_meta = bool(schema.get("name") or schema.get("version")
                        or schema.get("parameters"))
        if not has_meta and typ not in ("int8", "int16"):
            return avro_type
        prim: dict = {"type": avro_type}
        if typ in ("int8", "int16"):
            prim["connect.type"] = typ
        _add_connect_metadata(prim, schema)
        return prim

    def to_native(self, schema: dict, value, fallback: str = ""):
        """Connect payload → value tree for the binary encoder (raw
        bytes for bytes fields, Decimal for decimal fields)."""
        if value is None:
            return None
        typ = schema.get("type")
        if typ == "struct":
            if not isinstance(value, dict):
                raise ValueError("struct payload is not an object")
            out = {}
            for fs in schema.get("fields") or []:
                fname = sanitize_name(fs.get("field", ""))
                raw = value.get(fs.get("field"))
                if raw is None and fs.get("field") != fname:
                    raw = value.get(fname)
                out[fname] = self.to_native(fs, raw, fname)
            return out
        if typ == "array":
            if not isinstance(value, (list, tuple)):
                raise ValueError("array payload is not an array")
            return [self.to_native(schema["items"], v, fallback + "Item")
                    for v in value]
        if _is_decimal_schema(schema):
            return Decimal(str(value))
        if typ == "bytes":
            if isinstance(value, (bytes, bytearray)):
                return bytes(value)
            return base64.b64decode(value)
        if typ in ("int8", "int16", "int32", "int64"):
            return int(value)
        if typ in ("float", "double"):
            return float(value)
        if typ == "boolean":
            if not isinstance(value, bool):
                raise ValueError("boolean payload is invalid")
            return value
        if typ == "string":
            if not isinstance(value, str):
                raise ValueError("string payload is invalid")
            return value
        raise ValueError(f"unsupported connect type: {typ}")


def compile_connect_to_native(schema: dict):
    """ConnectToAvro().to_native specialized to ``schema`` -> fn(payload)
    -> native tree (sanitize_name and field dispatch paid once)."""
    typ = schema.get("type")
    if typ == "struct":
        fields = []
        for fs in schema.get("fields") or []:
            orig = fs.get("field", "")
            fname = sanitize_name(orig)
            fields.append((orig, fname, compile_connect_to_native(fs)))

        def _struct(value, _fields=fields):
            if value is None:
                return None
            if not isinstance(value, dict):
                raise ValueError("struct payload is not an object")
            out = {}
            for orig, fname, sub in _fields:
                raw = value.get(orig)
                if raw is None and orig != fname:
                    raw = value.get(fname)
                out[fname] = sub(raw)
            return out

        return _struct
    if typ == "array":
        item = compile_connect_to_native(schema["items"])

        def _array(value, _item=item):
            if value is None:
                return None
            if not isinstance(value, (list, tuple)):
                raise ValueError("array payload is not an array")
            return [_item(v) for v in value]

        return _array
    if _is_decimal_schema(schema):
        return lambda v: None if v is None else Decimal(str(v))
    if typ == "bytes":

        def _bytes(v):
            if v is None:
                return None
            if isinstance(v, (bytes, bytearray)):
                return bytes(v)
            return base64.b64decode(v)

        return _bytes
    if typ in ("int8", "int16", "int32", "int64"):
        return lambda v: None if v is None else int(v)
    if typ in ("float", "double"):
        return lambda v: None if v is None else float(v)
    if typ == "boolean":

        def _bool(v):
            if v is None:
                return None
            if not isinstance(v, bool):
                raise ValueError("boolean payload is invalid")
            return v

        return _bool
    if typ == "string":

        def _str(v):
            if v is None:
                return None
            if not isinstance(v, str):
                raise ValueError("string payload is invalid")
            return v

        return _str
    raise ValueError(f"unsupported connect type: {typ}")


# -- decoder side: Avro schema → Connect schema + payload --------------------
# (`avro_decoder.go:233-436` — the Connect view is rebuilt from the
# registered Avro schema's connect.* metadata, so a consumer needs
# nothing but the registry.)


def avro_to_connect_schema(schema, named: dict, field: str = "") -> dict:
    schema = resolve_named(schema, named)
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        if len(non_null) != 1:
            raise ValueError("only [null, T] unions are supported")
        out = avro_to_connect_schema(non_null[0], named, field)
        out["optional"] = True
        return out
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = {"type": "struct", "optional": False, "fields": []}
            _restore_connect_metadata(out, schema)
            if field:
                out["field"] = field
            for f in schema["fields"]:
                fs = avro_to_connect_schema(
                    f["type"], named, f.get("connect.field", f["name"]))
                if f.get("tidb_type"):
                    fs["tidb_type"] = f["tidb_type"]
                out["fields"].append(fs)
            return out
        if t == "array":
            out = {"type": "array", "optional": False,
                   "items": avro_to_connect_schema(schema["items"], named)}
            _restore_connect_metadata(out, schema)
            if field:
                out["field"] = field
            return out
        if t == "bytes" and schema.get("logicalType") == "decimal":
            out = {"type": "bytes", "optional": False,
                   "name": DECIMAL_CONNECT_NAME,
                   "parameters": {
                       "precision": str(schema["precision"]),
                       "scale": str(schema["scale"])}}
            _restore_connect_metadata(out, schema)
            if field:
                out["field"] = field
            return out
        # annotated primitive
        ct = schema.get("connect.type") or _AVRO_TO_CONNECT[t]
        out = {"type": ct, "optional": False}
        _restore_connect_metadata(out, schema)
        if field:
            out["field"] = field
        return out
    ct = _AVRO_TO_CONNECT.get(schema)
    if ct is None:
        raise ValueError(f"unsupported avro type: {schema!r}")
    out = {"type": ct, "optional": False}
    if field:
        out["field"] = field
    return out


def _restore_connect_metadata(connect: dict, avro: dict) -> None:
    if avro.get("connect.name"):
        connect["name"] = avro["connect.name"]
    if avro.get("connect.version"):
        connect["version"] = avro["connect.version"]
    if avro.get("connect.parameters"):
        connect["parameters"] = avro["connect.parameters"]


def avro_native_to_connect_payload(schema, native, named: dict):
    """Decoded native values → Connect-JSON payload values (bytes back
    to base64 strings, decimals already strings)."""
    schema = resolve_named(schema, named)
    if native is None:
        return None
    if isinstance(schema, list):
        non_null = [b for b in schema if b != "null"]
        return avro_native_to_connect_payload(non_null[0], native, named)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = {}
            for f in schema["fields"]:
                key = f.get("connect.field", f["name"])
                out[key] = avro_native_to_connect_payload(
                    f["type"], native.get(f["name"]), named)
            return out
        if t == "array":
            return [avro_native_to_connect_payload(schema["items"], v,
                                                   named)
                    for v in native]
        if t == "bytes" and schema.get("logicalType") == "decimal":
            return native  # already a scale-rendered string
        schema = t
    if schema == "bytes":
        return base64.standard_b64encode(native).decode("ascii")
    return native


# -- message level ------------------------------------------------------------


def subject_for(topic: str, suffix: str, schema_name: str = "") -> str:
    """debeziumAvroSubject (avro.go:224-232)."""
    if topic:
        return topic + suffix
    if schema_name:
        return schema_name
    return "debezium" + suffix


def encode_debezium_avro_payload(message: dict, topic: str, suffix: str,
                                 schema_manager,
                                 schema_version: int = 1) -> bytes:
    """One Debezium JSON message (``{"schema":..., "payload":...}``) →
    confluent header + Avro binary (avro.go:157-203
    encodeAvroPayload)."""
    schema = message.get("schema")
    if schema is None:
        raise ValueError("schema is missing")
    subject = subject_for(topic, suffix, schema.get("name", ""))
    avro_schema = ConnectToAvro().to_avro_schema(schema)
    _, header = schema_manager.get_cached_or_register(
        subject, schema_version,
        lambda: json.dumps(avro_schema, separators=(",", ":")))
    named = collect_named_schemas(avro_schema)
    native = ConnectToAvro().to_native(schema, message.get("payload"))
    return header + avro_encode(native, avro_schema, named)


def decode_debezium_avro_payload(data: bytes, schema_manager,
                                 subject: str) -> dict:
    """confluent header + binary → Debezium JSON message dict
    (avro_decoder.go toDebeziumJSON)."""
    schema_id, pos = parse_msg_header(data)
    avro_schema = json.loads(schema_manager.lookup(subject, schema_id))
    named = collect_named_schemas(avro_schema)
    native = read_whole(
        lambda b, p: avro_decode(b, p, avro_schema, named), data, pos,
        "debezium-avro")
    return {
        "schema": avro_to_connect_schema(avro_schema, named),
        "payload": avro_native_to_connect_payload(avro_schema, native,
                                                  named),
    }


# -- DataFrame-level protocol encoder (ProtocolDebeziumAvro) ------------------
# `pkg/config/sink_protocol.go`: debezium-avro is its own protocol enum
# member; the encoder builds the SAME Connect messages as the JSON
# protocol and ships them as confluent-framed Avro binary
# (`encoder.go:56-58,91-92` routes to the avro path when a schema
# manager is configured).  Spark shape: the JSON envelope assembly
# stays column algebra (codec/debezium.py); only the JSON→Avro byte
# conversion runs per batch in ``arrow_rows.binary_column``, with an
# in-memory registry per batch (a deployment swaps in the REST/Glue
# manager — both wire clients live in codec/schema_registry.py).


def encode_debezium_avro_df(cl, cluster_id: str = "ticdc-spark"):
    from pyspark.sql import functions as F

    from ticdc_spark.codec.debezium import (
        encode_debezium_full,
        encode_debezium_key,
    )
    from ticdc_spark.functions.arrow_rows import binary_column

    msgs = encode_debezium_key(
        encode_debezium_full(cl, cluster_id=cluster_id,
                             disable_schema=False),
        cluster_id=cluster_id, disable_schema=False,
    )

    def _converter(suffix: str):
        def conv(c):
            codec = DebeziumAvroCodecCache(ConfluentSchemaManager.in_memory())
            return [codec.encode(json.loads(j), t, suffix)
                    for j, t in zip(c["json"], c["topic"])]
        return conv

    topic = F.concat_ws(".", F.lit(cluster_id), "schema_name",
                        "table_name").alias("topic")
    return (msgs
            .withColumn("key", binary_column(
                _converter(KEY_SUFFIX), F.col("key").alias("json"), topic))
            .withColumn("value", binary_column(
                _converter(VALUE_SUFFIX), F.col("value").alias("json"),
                topic)))


def debezium_avro_watermarks(watermarks, cluster_id: str = "ticdc-spark",
                             tidb_extension: bool = False,
                             avro_enable_watermark: bool = False):
    """Checkpoint/watermark events on the Avro wire
    (`encoder.go:41-49` EncodeCheckpointEvent): under debezium-avro the
    watermark is SKIPPED unless BOTH enable-tidb-extension and
    avro-enable-watermark are set (returns an empty frame, the
    ``return nil, nil`` analog); when enabled, the JSON checkpoint
    messages convert through the same Connect→Avro path with topic ""
    so the subject falls back to the message's own schema name
    (``<cluster>.watermark.Key`` / ``.Envelope``)."""
    from pyspark.sql import functions as F

    from ticdc_spark.codec.debezium import debezium_watermark_messages
    from ticdc_spark.functions.arrow_rows import binary_column

    msgs = debezium_watermark_messages(watermarks, cluster_id=cluster_id,
                                       disable_schema=False)
    if not (tidb_extension and avro_enable_watermark):
        return msgs.limit(0).select("resolved_ts", "key", "value")

    def _conv(suffix: str):
        def conv(c):
            mgr = ConfluentSchemaManager.in_memory()
            return [encode_debezium_avro_payload(json.loads(j), "", suffix,
                                                 mgr)
                    for j in c["json"]]
        return conv

    return msgs.select(
        "resolved_ts",
        binary_column(_conv(KEY_SUFFIX), F.col("key").alias("json"))
        .alias("key"),
        binary_column(_conv(VALUE_SUFFIX), F.col("value").alias("json"))
        .alias("value"))


class DebeziumAvroCodecCache:
    """Per-(subject, version) conversion cache — the reference caches
    the goavro codec the same way (`GetCachedOrRegister`,
    avro.SchemaManager): the Connect→Avro schema conversion, named-map
    collection, and registry header happen once per table version, not
    per row.  The per-row work is payload toNative + binary encode."""

    def __init__(self, schema_manager) -> None:
        self.mgr = schema_manager
        self._enc: dict = {}
        self._dec: dict = {}

    def encode(self, message: dict, topic: str, suffix: str,
               schema_version: int = 1) -> bytes:
        schema = message.get("schema")
        if schema is None:
            raise ValueError("schema is missing")
        ent = self._entry(schema, topic, suffix, schema_version)
        _connect, _avro, header, to_native, enc = ent
        return header + enc(to_native(message.get("payload")))

    def _entry(self, schema, topic, suffix, schema_version):
        subject = subject_for(topic, suffix,
                              (schema or {}).get("name", ""))
        key = (subject, schema_version)
        ent = self._enc.get(key)
        if ent is None:
            avro_schema = ConnectToAvro().to_avro_schema(schema)
            _, header = self.mgr.get_cached_or_register(
                subject, schema_version,
                lambda: json.dumps(avro_schema, separators=(",", ":")))
            named = collect_named_schemas(avro_schema)
            # compiled per-schema codecs (guide §4.5): the schema walk,
            # name sanitizing and type dispatch happen HERE, once per
            # table version — the per-row work is two closure calls
            ent = (schema, avro_schema, header,
                   compile_connect_to_native(schema),
                   compile_avro_encoder(avro_schema, named))
            self._enc[key] = ent
        return ent

    def encode_wire_json(self, message_json: str, topic: str,
                         suffix: str, schema_version: int = 1) -> bytes:
        """Hot-path encode from the raw ``{"payload":...,"schema":...}``
        string: the (identical-per-table) schema block parses once per
        subject; only the payload substring parses per row."""
        key = (topic + suffix, schema_version)
        ent = self._enc.get(key)
        if ent is None:
            return self.encode(json.loads(message_json), topic, suffix,
                               schema_version)
        i = message_json.find(',"schema":')
        if not message_json.startswith('{"payload":') or i < 0:
            return self.encode(json.loads(message_json), topic, suffix,
                               schema_version)
        payload = json.loads(message_json[11:i])
        _connect, _avro, header, to_native, enc = ent
        return header + enc(to_native(payload))

    def decode(self, data: bytes, subject: str) -> dict:
        schema_id, pos = parse_msg_header(data)
        ent = self._dec.get((subject, schema_id))
        if ent is None:
            avro_schema = json.loads(self.mgr.lookup(subject, schema_id))
            named = collect_named_schemas(avro_schema)
            # fused decoder: wire bytes -> Connect payload directly (no
            # intermediate native tree), compiled once per schema id
            ent = (avro_to_connect_schema(avro_schema, named),
                   compile_avro_decoder(avro_schema, named,
                                        to_connect=True))
            self._dec[(subject, schema_id)] = ent
        connect, dec = ent
        return {"schema": connect,
                "payload": read_whole(dec, data, pos, "debezium-avro")}
