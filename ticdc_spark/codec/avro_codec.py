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

from ticdc_spark.functions.render import (json_case, json_image, json_object,
                                          json_str)

_AVRO_BRANCH = {"long": "long", "bigint": "long", "double": "double", "string": "string"}


def _union_value(col: Column, dtype) -> Column:
    if isinstance(dtype, (DoubleType, FloatType)):
        # Avro JSON prints doubles; pin %.2f for cross-engine determinism.
        rendered = F.format_string("%.2f", col)
    elif isinstance(dtype, StringType):
        rendered = json_str(col)
    else:
        rendered = col.cast("string")
    branch = _AVRO_BRANCH[dtype.simpleString()]
    return F.when(col.isNotNull(), json_object([(branch, rendered)])) \
        .otherwise(F.lit("null"))


def encode_avro_json(cl: DataFrame) -> DataFrame:
    """Avro JSON-encoded value: the row record + op/commitTs metadata
    fields (mirroring the reference's tidbOp/commitTs extension fields)."""
    schema: StructType = cl.schema["after"].dataType
    value = json_object([
        ("op", json_case(F.col("op"), {"I": "I", "U": "U"}, "D")),
        ("commitTs", F.col("commit_ts").cast("string")),
        ("before", json_image(F.col("before"), schema, _union_value)),
        ("after", json_image(F.col("after"), schema, _union_value)),
    ])
    return cl.withColumn("value", value)
