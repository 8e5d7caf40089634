"""Scalar rendering and the one JSON writer shared by the wire encoders
(SURVEY §2.9, §2.11).

The reference hand-renders MySQL values per protocol
(`pkg/sink/codec/csv/csv_message.go:276-323`,
`pkg/sink/codec/common/java.go:70-146`). Here every codec goes through
one canonical rendering so encoder outputs are deterministic and
portable across engines (the DuckDB oracle re-renders with the same
rules):

- integers/strings: plain cast
- float/double: fixed ``%.2f`` (payload values carry 2 decimals; the
  shortest-round-trip repr of raw casts differs across engines)
- NULL: protocol-specific (JSON ``null``, csv ``\\N``)

The reference writes its JSON messages with Go's ``encoding/json``,
which escapes by construction. Every JSON text frame here is built the
same way, through one writer: ``json_text`` is the one string escape
(``json_str`` quotes it), ``json_object`` writes an object whose keys are
escaped at plan time, and ``json_image`` writes one changelog image given
a per-column value renderer. Plan-time values go through
``json_dumps``. The output is byte-equal to ``json.dumps(...,
ensure_ascii=False)`` with compact separators.

All helpers return Column expressions — JVM-side, codegen'd — but
``with_frames``, which runs a Python control-frame builder over rows.
"""

from __future__ import annotations

import json

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DateType,
    DoubleType,
    FloatType,
    NumericType,
    StructType,
    TimestampNTZType,
    TimestampType,
)

FLOAT_FMT = "%.2f"


def render_scalar(col: Column, dtype) -> Column:
    if isinstance(dtype, (DoubleType, FloatType)):
        return F.when(col.isNotNull(), F.format_string(FLOAT_FMT, col))
    if isinstance(dtype, ArrayType) and isinstance(
        dtype.elementType, (FloatType, DoubleType)
    ):
        # TiDB VECTOR canonical text ``[v1,v2,...]`` (csv_message.go:
        # 276-323 renders vector datums via their String() form); fixed
        # element format keeps the text portable across engines.
        return F.when(
            col.isNotNull(),
            F.concat(
                F.lit("["),
                F.array_join(
                    F.transform(
                        col, lambda x: F.format_string(FLOAT_FMT, x.cast("double"))
                    ),
                    ",",
                ),
                F.lit("]"),
            ),
        )
    if isinstance(dtype, DateType):
        # canonical MySQL DATE text (csv_message.go:276-323 renders
        # temporals as their MySQL string forms)
        return F.date_format(col, "yyyy-MM-dd")
    if isinstance(dtype, TimestampType):
        # canonical DATETIME/TIMESTAMP text at fsp=0 (mounter is
        # timezone-aware; the session is pinned to UTC on both engines)
        return F.date_format(col, "yyyy-MM-dd HH:mm:ss")
    return col.cast("string")


def json_dumps(value) -> str:
    """Plan-time JSON text of a Python value, in the writer's form."""
    return json.dumps(value, ensure_ascii=False, separators=(",", ":"))


# ``json.dumps`` (``ensure_ascii`` off) escapes backslash, quote and the
# control characters: five by a short form, the rest as \u00xx
_NEEDS_ESCAPE = '[\\x00-\\x1f"\\\\]'
_SHORT_FORMS = "\b\t\n\f\r"
_OTHER_CONTROL = "".join(chr(c) for c in range(32) if chr(c) not in _SHORT_FORMS)


def json_text(col: Column) -> Column:
    """The body of ``col`` as a JSON string (NULL stays NULL): backslash,
    quote, the short forms ``\\b\\t\\n\\f\\r`` and ``\\u00xx`` for
    other control characters; non-ASCII stays UTF-8. Only values that
    hold such a character are rewritten."""
    body = F.regexp_replace(col, '(["\\\\])', "\\\\$1")
    for ch in _SHORT_FORMS:
        body = F.regexp_replace(body, ch, "\\" + json_dumps(ch)[1:-1])
    # \u00 plus the high hex digit goes in front of each other control
    # character, which then becomes its low hex digit
    body = F.regexp_replace(body, "([\\x00-\\x0f])", "\\\\u000$1")
    body = F.regexp_replace(body, "([\\x10-\\x1f])", "\\\\u001$1")
    body = F.translate(body, _OTHER_CONTROL,
                       "".join("%x" % (ord(c) % 16) for c in _OTHER_CONTROL))
    return F.when(col.rlike(_NEEDS_ESCAPE), body).otherwise(col)


def json_str(col: Column) -> Column:
    """``col`` as a JSON string, byte-equal to ``json.dumps(...,
    ensure_ascii=False)``; ``null`` when NULL."""
    return F.coalesce(F.concat(F.lit('"'), json_text(col), F.lit('"')),
                      F.lit("null"))


def json_object(pairs) -> Column:
    """A JSON object from ``(key, value)`` pairs, in order. Keys are
    escaped at plan time; a Column value is a JSON fragment (``json_str``,
    ``json_number``, a nested ``json_object``), any other value is
    written by ``json_dumps``. Adjacent plan-time text is one literal."""
    parts: list = []
    text = "{"
    for i, (key, value) in enumerate(pairs):
        text += ("," if i else "") + json_dumps(key) + ":"
        if isinstance(value, Column):
            parts += [F.lit(text), value]
            text = ""
        else:
            text += json_dumps(value)
    parts.append(F.lit(text + "}"))
    return F.concat(*parts)


def json_case(col: Column, cases: dict, default) -> Column:
    """The JSON text of ``cases[col]``, or of ``default`` when no key
    matches — for values taken from a fixed set (op types, DDL kinds)."""
    items = iter(cases.items())
    k, v = next(items)
    out = F.when(col == k, F.lit(json_dumps(v)))
    for k, v in items:
        out = out.when(col == k, F.lit(json_dumps(v)))
    return out.otherwise(F.lit(json_dumps(default)))


def _plain_text(dtype) -> bool:
    """Whether ``render_scalar`` text of ``dtype`` is digits, signs and
    separators only — nothing JSON escapes."""
    if isinstance(dtype, ArrayType):
        return isinstance(dtype.elementType, (FloatType, DoubleType))
    return isinstance(dtype, (NumericType, BooleanType, DateType,
                              TimestampType, TimestampNTZType))


def json_string_or_null(col: Column, dtype) -> Column:
    """The canonical rendering of ``col`` as a JSON string (``null`` when
    NULL); only text that can hold an escapable character is escaped."""
    rendered = render_scalar(col, dtype)
    if not _plain_text(dtype):
        return json_str(rendered)
    return F.coalesce(F.concat(F.lit('"'), rendered, F.lit('"')),
                      F.lit("null"))


def json_number(col: Column) -> Column:
    return F.when(col.isNotNull(), col.cast("string")).otherwise(F.lit("null"))


def json_image(img: Column, schema: StructType,
               render=json_string_or_null, array: bool = False) -> Column:
    """One changelog image as ``{"col": render(value, dtype), ...}``
    (``[{...}]`` with ``array``, canal's single-row shape); ``null`` when
    the image is NULL."""
    obj = json_object([(f.name, render(img.getField(f.name), f.dataType))
                       for f in schema.fields])
    if array:
        obj = F.concat(F.lit("["), obj, F.lit("]"))
    return F.when(img.isNotNull(), obj).otherwise(F.lit("null"))


def with_frames(df: DataFrame, build, names: tuple[str, ...]) -> DataFrame:
    """``df`` with string columns ``names`` from ``build(row)``: the
    bytes (or None) per name of a control frame the live changefeed
    builds on the driver, here over each row (a dict) of ``df``."""
    from ticdc_spark.functions.arrow_rows import binary_column

    def part(i):
        def run(c):
            return [build(dict(zip(c, row)))[i] for row in zip(*c.values())]
        return binary_column(run, *df.columns).cast("string")

    return df.select("*", *[part(i).alias(n) for i, n in enumerate(names)])


def mount_enum(ordinal: Column, names: tuple[str, ...]) -> Column:
    """ENUM decode at the mounter (SURVEY §2.9): MySQL stores the
    1-based ordinal; downstream wire formats carry the member NAME
    (`csv_message.go:301-307`). Ordinal 0 is MySQL's invalid-empty
    member and renders ``''``; NULL stays NULL. ``F.get`` is 0-based
    and NULL-safe on out-of-range (no ANSI error)."""
    arr = F.array(*[F.lit(n) for n in names])
    return F.when(ordinal == 0, F.lit("")).otherwise(
        F.get(arr, (ordinal - 1).cast("int"))
    )


def mount_set(mask: Column, names: tuple[str, ...]) -> Column:
    """SET decode at the mounter: MySQL stores a uint64 bitmask; the
    wire form is the comma-joined member names in definition order
    (`csv_message.go:308-314`). Empty set renders ``''``; NULL stays
    NULL (``concat_ws`` skips the per-bit NULLs on both engines)."""
    members = [
        F.when(mask.bitwiseAND(F.lit(1 << i)) != 0, F.lit(n))
        for i, n in enumerate(names)
    ]
    return F.when(mask.isNotNull(), F.concat_ws(",", *members))
