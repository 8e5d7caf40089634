"""Avro binary encoding (spec §Binary Encoding) — the one implementation
behind every Avro wire shape: the native ``avro`` protocol
(`codec/avro_protocol.py`), ``debezium-avro`` (`codec/debezium_avro.py`)
and the simple protocol's ``encoding-format=avro`` (`codec/simple_avro.py`).

- zigzag varints, length-prefixed UTF-8 strings and bytes, IEEE-754
  little-endian floats and doubles, field-order records, index-prefixed
  enums and unions, block-framed arrays and maps, and the ``decimal``
  logical type over ``bytes`` (big-endian two's-complement unscaled value);
- ``sanitize_name`` and ``collect_named_schemas`` for named types: a
  schema node that is a string found in ``named`` is that named schema;
- an interpreter (``avro_encode``/``avro_decode``) that walks the schema
  per value: the reference the compiled codecs are tested against, and
  the codec for control messages;
- a compiler (``compile_avro_encoder``/``compile_avro_decoder``) that
  walks the schema once per table version and returns a closure tree,
  byte- and value-identical to the interpreter, for the per-row paths.

Unions: ``["null", T]`` picks null for ``None`` and ``T`` otherwise.  The
interpreter also encodes the other unions: a ``(branch name, value)``
tuple names its branch (full or short name, or the branch's type), and a
plain value picks the first branch of its type (bool → boolean, int →
long/int, float → double/float, str → string, bytes → bytes, dict →
record/map, list → array).  The compiler takes only ``["null", T]``.
"""

from __future__ import annotations

import base64
import struct
from decimal import Decimal
from functools import lru_cache


def zigzag_encode(n: int) -> bytes:
    """Avro long: zigzag then base-128 varint, little-endian groups."""
    z = (n << 1) ^ (n >> 63)
    out = bytearray()
    while True:
        b = z & 0x7F
        z >>= 7
        if z:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def zigzag_decode(buf: bytes, pos: int) -> tuple[int, int]:
    shift = z = 0
    while True:
        b = buf[pos]
        pos += 1
        z |= (b & 0x7F) << shift
        if not b & 0x80:
            break
        shift += 7
    return (z >> 1) ^ -(z & 1), pos


def read_whole(decode, buf: bytes, pos: int, codec: str):
    """Run ``decode(buf, pos) -> (value, end)`` over the rest of ``buf``
    and return the value.  A message cut short, malformed or followed by
    extra bytes raises ``ValueError`` naming ``codec``."""
    try:
        value, end = decode(buf, pos)
    except (IndexError, struct.error, UnicodeDecodeError) as e:
        raise ValueError(f"{codec}: truncated or malformed message "
                         f"({len(buf)} bytes): {e}") from e
    if end > len(buf):
        raise ValueError(f"{codec}: truncated message ({len(buf)} bytes)")
    if end != len(buf):
        raise ValueError(f"{codec}: trailing bytes after message: "
                         f"{len(buf) - end}")
    return value


@lru_cache(maxsize=4096)
def sanitize_name(name: str) -> str:
    """common.SanitizeName (`codec/common/helper.go:423-447`): invalid
    chars replace with '_', a leading digit gains a '_' prefix; the
    empty string stays empty (getAvroNamespace branches on that).
    Memoized: the per-row encode path calls it once per field name and
    the name universe is the schema's, not the data's."""
    out = "".join(c if c.isalnum() or c == "_" else "_" for c in name)
    if out and out[0].isdigit():
        out = "_" + out
    return out


def collect_named_schemas(schema, named: dict | None = None) -> dict:
    """collectAvroNamedSchemas: fullname → record schema dict."""
    if named is None:
        named = {}
    if isinstance(schema, dict):
        if schema.get("type") == "record":
            full = schema["name"]
            if schema.get("namespace"):
                full = schema["namespace"] + "." + schema["name"]
            named[full] = schema
            for f in schema["fields"]:
                collect_named_schemas(f["type"], named)
        elif schema.get("type") == "array":
            collect_named_schemas(schema["items"], named)
    elif isinstance(schema, list):
        for b in schema:
            collect_named_schemas(b, named)
    return named


def resolve_named(schema, named: dict):
    if isinstance(schema, str) and schema in named:
        return named[schema]
    return schema


def decimal_to_bytes(value: Decimal, scale: int) -> bytes:
    unscaled = int(value.scaleb(scale).to_integral_value())
    n = max(1, (unscaled.bit_length() + 8) // 8)
    return unscaled.to_bytes(n, "big", signed=True)


def bytes_to_decimal_str(raw: bytes, scale: int) -> str:
    unscaled = int.from_bytes(raw, "big", signed=True)
    d = Decimal(unscaled).scaleb(-scale)
    return f"{d:.{scale}f}" if scale > 0 else str(d)


# -- interpreter --------------------------------------------------------------

# a plain union value picks the first branch of its Python type's kinds
# (bool before int: a bool is an int)
_KINDS_OF = (
    (bool, ("boolean",)), (int, ("long", "int")),
    (float, ("double", "float")), (str, ("string",)),
    ((bytes, bytearray), ("bytes",)), (dict, ("record", "map")),
    (list, ("array",)),
)


def _union_branch(value, union: list, named: dict) -> tuple[int, object]:
    """(branch index, value to encode in it) for a union value."""
    def kind(b):
        b = resolve_named(b, named)
        return b["type"] if isinstance(b, dict) else b

    if (isinstance(value, tuple) and len(value) == 2
            and isinstance(value[0], str)):
        tag = value[0]
        for i, b in enumerate(union):
            if (isinstance(b, str)
                    and (b == tag or b.split(".")[-1] == tag)) \
                    or kind(b) == tag:
                return i, value[1]
        raise ValueError(f"no union branch named {tag!r}")
    if value is None:
        return union.index("null"), None
    if len(union) == 2 and "null" in union:
        return 1 - union.index("null"), value
    for typ, kinds in _KINDS_OF:
        if isinstance(value, typ):
            for k in kinds:
                for i, b in enumerate(union):
                    if kind(b) == k:
                        return i, value
            break
    raise ValueError(f"no union branch for {value!r} in {union!r}")


def avro_encode(value, schema, named: dict) -> bytes:
    """Avro binary for ``value`` under ``schema`` (named types resolved
    through ``named``)."""
    schema = resolve_named(schema, named)
    if isinstance(schema, list):
        i, inner = _union_branch(value, schema, named)
        return zigzag_encode(i) + avro_encode(inner, schema[i], named)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = bytearray()
            for f in schema["fields"]:
                out += avro_encode(value.get(f["name"]), f["type"], named)
            return bytes(out)
        if t == "enum":
            return zigzag_encode(schema["symbols"].index(value))
        if t in ("array", "map"):
            out = bytearray()
            if value:
                out += zigzag_encode(len(value))
                if t == "array":
                    for item in value:
                        out += avro_encode(item, schema["items"], named)
                else:
                    for k, v in value.items():
                        out += avro_encode(k, "string", named)
                        out += avro_encode(v, schema["values"], named)
            out += zigzag_encode(0)
            return bytes(out)
        if t == "bytes" and schema.get("logicalType") == "decimal":
            raw = decimal_to_bytes(Decimal(str(value)), schema["scale"])
            return zigzag_encode(len(raw)) + raw
        schema = t  # annotated primitive
    if schema == "null":
        return b""
    if schema == "boolean":
        return bytes([1 if value else 0])
    if schema in ("int", "long"):
        return zigzag_encode(int(value))
    if schema == "float":
        return struct.pack("<f", float(value))
    if schema == "double":
        return struct.pack("<d", float(value))
    if schema == "string":
        raw = value.encode("utf-8")
        return zigzag_encode(len(raw)) + raw
    if schema == "bytes":
        raw = bytes(value)
        return zigzag_encode(len(raw)) + raw
    raise ValueError(f"unknown avro schema: {schema!r}")


def avro_decode(buf: bytes, pos: int, schema, named: dict):
    """Inverse of :func:`avro_encode` -> (value, next position)."""
    schema = resolve_named(schema, named)
    if isinstance(schema, list):
        i, pos = zigzag_decode(buf, pos)
        return avro_decode(buf, pos, schema[i], named)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            out = {}
            for f in schema["fields"]:
                out[f["name"]], pos = avro_decode(buf, pos, f["type"],
                                                  named)
            return out, pos
        if t == "enum":
            i, pos = zigzag_decode(buf, pos)
            return schema["symbols"][i], pos
        if t in ("array", "map"):
            items: list | dict = [] if t == "array" else {}
            while True:
                n, pos = zigzag_decode(buf, pos)
                if n == 0:
                    break
                if n < 0:  # spec: a negative count precedes a byte size
                    _, pos = zigzag_decode(buf, pos)
                    n = -n
                for _ in range(n):
                    if t == "map":
                        k, pos = avro_decode(buf, pos, "string", named)
                        items[k], pos = avro_decode(buf, pos,
                                                    schema["values"], named)
                    else:
                        v, pos = avro_decode(buf, pos, schema["items"],
                                             named)
                        items.append(v)
            return items, pos
        if t == "bytes" and schema.get("logicalType") == "decimal":
            n, pos = zigzag_decode(buf, pos)
            return (bytes_to_decimal_str(buf[pos:pos + n],
                                         schema["scale"]), pos + n)
        schema = t
    if schema == "null":
        return None, pos
    if schema == "boolean":
        return buf[pos] == 1, pos + 1
    if schema in ("int", "long"):
        return zigzag_decode(buf, pos)
    if schema == "float":
        return struct.unpack_from("<f", buf, pos)[0], pos + 4
    if schema == "double":
        return struct.unpack_from("<d", buf, pos)[0], pos + 8
    if schema == "string":
        n, pos = zigzag_decode(buf, pos)
        return buf[pos:pos + n].decode("utf-8"), pos + n
    if schema == "bytes":
        n, pos = zigzag_decode(buf, pos)
        return bytes(buf[pos:pos + n]), pos + n
    raise ValueError(f"unknown avro schema: {schema!r}")


# -- compiled per-schema codecs (guide §4.5: pay the schema dispatch
# once per table version, not once per value).  Each compiler walks the
# schema tree a single time and returns a closure tree; outputs are
# byte/value-identical to the interpreter above (pinned by tests).


def compile_avro_encoder(schema, named: dict):
    """avro_encode specialized to ``schema`` -> fn(value) -> bytes."""
    schema = resolve_named(schema, named)
    if isinstance(schema, list):  # union: only ["null", T] is encodable
        if len(schema) != 2 or schema.count("null") != 1:
            raise ValueError(
                f"only [null, T] unions are supported, got {schema!r}")
        null_tag = zigzag_encode(schema.index("null"))
        bi = 1 - schema.index("null")
        branch = schema[bi]
        tag = zigzag_encode(bi)
        enc = compile_avro_encoder(branch, named)
        return lambda v: null_tag if v is None else tag + enc(v)
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            fields = [(f["name"], compile_avro_encoder(f["type"], named))
                      for f in schema["fields"]]

            def _record(v, _fields=fields):
                return b"".join(e(v.get(n)) for n, e in _fields)

            return _record
        if t == "array":
            item = compile_avro_encoder(schema["items"], named)
            zero = zigzag_encode(0)

            def _array(v, _item=item, _zero=zero):
                if not v:
                    return _zero
                return (zigzag_encode(len(v))
                        + b"".join(_item(x) for x in v) + _zero)

            return _array
        if t == "bytes" and schema.get("logicalType") == "decimal":
            scale = schema["scale"]

            def _decimal(v, _scale=scale):
                raw = decimal_to_bytes(Decimal(str(v)), _scale)
                return zigzag_encode(len(raw)) + raw

            return _decimal
        schema = t  # annotated primitive
    if schema == "null":
        return lambda v: b""
    if schema == "boolean":
        return lambda v: b"\x01" if v else b"\x00"
    if schema in ("int", "long"):
        return lambda v: zigzag_encode(int(v))
    if schema == "float":
        return lambda v: struct.pack("<f", float(v))
    if schema == "double":
        return lambda v: struct.pack("<d", float(v))
    if schema == "string":

        def _string(v):
            raw = v.encode("utf-8")
            return zigzag_encode(len(raw)) + raw

        return _string
    if schema == "bytes":

        def _bytes(v):
            raw = bytes(v)
            return zigzag_encode(len(raw)) + raw

        return _bytes
    raise ValueError(f"unknown avro schema: {schema!r}")


def compile_avro_decoder(schema, named: dict, to_connect: bool = False):
    """avro_decode specialized to ``schema`` -> fn(buf, pos) ->
    (value, pos).  With ``to_connect`` the closure fuses
    avro_native_to_connect_payload in (record keys use connect.field,
    bytes come back base64) so no intermediate native tree is built."""
    schema = resolve_named(schema, named)
    if isinstance(schema, list):
        branches = [compile_avro_decoder(b, named, to_connect)
                    for b in schema]

        def _union(buf, pos, _branches=branches):
            i, pos = zigzag_decode(buf, pos)
            return _branches[i](buf, pos)

        return _union
    if isinstance(schema, dict):
        t = schema["type"]
        if t == "record":
            fields = [(f.get("connect.field", f["name"]) if to_connect
                       else f["name"],
                       compile_avro_decoder(f["type"], named, to_connect))
                      for f in schema["fields"]]

            def _record(buf, pos, _fields=fields):
                out = {}
                for name, dec in _fields:
                    out[name], pos = dec(buf, pos)
                return out, pos

            return _record
        if t == "array":
            item = compile_avro_decoder(schema["items"], named, to_connect)

            def _array(buf, pos, _item=item):
                items = []
                while True:
                    n, pos = zigzag_decode(buf, pos)
                    if n == 0:
                        break
                    if n < 0:
                        _, pos = zigzag_decode(buf, pos)
                        n = -n
                    for _ in range(n):
                        v, pos = _item(buf, pos)
                        items.append(v)
                return items, pos

            return _array
        if t == "bytes" and schema.get("logicalType") == "decimal":
            scale = schema["scale"]

            def _decimal(buf, pos, _scale=scale):
                n, pos = zigzag_decode(buf, pos)
                return (bytes_to_decimal_str(buf[pos:pos + n], _scale),
                        pos + n)

            return _decimal
        schema = t
    if schema == "null":
        return lambda buf, pos: (None, pos)
    if schema == "boolean":
        return lambda buf, pos: (buf[pos] == 1, pos + 1)
    if schema in ("int", "long"):
        return zigzag_decode
    if schema == "float":
        return lambda buf, pos: (struct.unpack_from("<f", buf, pos)[0],
                                 pos + 4)
    if schema == "double":
        return lambda buf, pos: (struct.unpack_from("<d", buf, pos)[0],
                                 pos + 8)
    if schema == "string":

        def _string(buf, pos):
            n, pos = zigzag_decode(buf, pos)
            return buf[pos:pos + n].decode("utf-8"), pos + n

        return _string
    if schema == "bytes":
        if to_connect:  # payload view renders bytes as base64 text

            def _bytes_b64(buf, pos):
                n, pos = zigzag_decode(buf, pos)
                return (base64.standard_b64encode(
                    buf[pos:pos + n]).decode("ascii"), pos + n)

            return _bytes_b64

        def _bytes(buf, pos):
            n, pos = zigzag_decode(buf, pos)
            return bytes(buf[pos:pos + n]), pos + n

        return _bytes
    raise ValueError(f"unknown avro schema: {schema!r}")
