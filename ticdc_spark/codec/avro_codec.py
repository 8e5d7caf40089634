"""avro-json: the Avro JSON encoding of a changelog row (SURVEY §2.11).

Reference: `pkg/sink/codec/avro/arvo.go:267-601` — per-table Avro
schemas with union types; schema-registry integration.

This is the debug twin of the binary ``avro`` protocol
(`codec/avro_protocol.py`): the **Avro JSON encoding** (spec §JSON
Encoding: union values appear as ``{"branch": value}``, e.g.
``{"long": 5}`` / ``null``) built as column algebra — deterministic
strings, oracle-checkable, and exactly what a schema-registry debug
consumer shows.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, FloatType, StringType, StructType

from ticdc_spark.functions.render import json_escape

_AVRO_BRANCH = {"long": "long", "bigint": "long", "double": "double", "string": "string"}


def _union_value(col: Column, dtype) -> Column:
    if isinstance(dtype, (DoubleType, FloatType)):
        # Avro JSON prints doubles; pin %.2f for cross-engine determinism.
        rendered = F.when(col.isNotNull(), F.format_string("%.2f", col))
    elif isinstance(dtype, StringType):
        rendered = F.when(
            col.isNotNull(), F.concat(F.lit('"'), json_escape(col), F.lit('"'))
        )
    else:
        rendered = col.cast("string")
    branch = _AVRO_BRANCH[dtype.simpleString()]
    return F.when(
        col.isNotNull(),
        F.concat(F.lit('{"' + branch + '":'), rendered, F.lit("}")),
    ).otherwise(F.lit("null"))


def _record_json(image: str, schema: StructType) -> Column:
    parts: list[Column] = [F.lit("{")]
    for i, f in enumerate(schema.fields):
        if i:
            parts.append(F.lit(","))
        parts.append(F.lit(f'"{f.name}":'))
        parts.append(_union_value(F.col(f"{image}.{f.name}"), f.dataType))
    parts.append(F.lit("}"))
    return F.when(F.col(image).isNotNull(), F.concat(*parts)).otherwise(F.lit("null"))


def encode_avro_json(cl: DataFrame) -> DataFrame:
    """Avro JSON-encoded value: the row record + op/commitTs metadata
    fields (mirroring the reference's tidbOp/commitTs extension fields)."""
    schema: StructType = cl.schema["after"].dataType
    value = F.concat(
        F.lit('{"op":"'),
        F.col("op"),
        F.lit('","commitTs":'),
        F.col("commit_ts").cast("string"),
        F.lit(',"before":'),
        _record_json("before", schema),
        F.lit(',"after":'),
        _record_json("after", schema),
        F.lit("}"),
    )
    return cl.withColumn("value", value)
