"""simple-protocol encoder + watermark messages (SURVEY §2.11, W1).

Reference: `pkg/sink/codec/simple/message.go:38-273` — self-describing
messages with types WATERMARK / BOOTSTRAP / DDL / DML (INSERT / UPDATE /
DELETE), embedding schema info; watermark messages at `message.go:42-43,
275-282` carry the resolved ts downstream.

DML message: ``{"version":1,"type":"INSERT","commitTs":…,"buildTs":0,
"schema":…,"table":…,"data":{…},"old":{…}}``; WATERMARK:
``{"version":1,"type":"WATERMARK","commitTs":…,"buildTs":0}``.
BOOTSTRAP messages (periodic schema rows, `pkg/config/sink.go:190-201`)
carry the table schema — one per table, ``encode_simple_bootstrap``.
Every message is written by the shared JSON writer
(``render.json_object``/``json_str``).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ticdc_spark.functions.render import (json_case, json_image, json_object,
                                          json_str)


def _head(msg_type, commit_ts: Column | None) -> list:
    """The members every simple message starts with."""
    pairs = [("version", 1), ("type", msg_type)]
    if commit_ts is not None:
        pairs.append(("commitTs", commit_ts.cast("string")))
    return pairs + [("buildTs", 0), ("schema", json_str(F.col("schema_name"))),
                    ("table", json_str(F.col("table_name")))]


def encode_simple(cl: DataFrame) -> DataFrame:
    schema: StructType = cl.schema["after"].dataType
    op = F.col("op")
    mtype = json_case(op, {"I": "INSERT", "U": "UPDATE"}, "DELETE")
    value = json_object(_head(mtype, F.col("commit_ts")) + [
        ("data", F.when(op == "D", F.lit("null")).otherwise(
            json_image(F.col("after"), schema))),
        ("old", F.when(op == "I", F.lit("null")).otherwise(
            json_image(F.col("before"), schema))),
    ])
    return cl.withColumn("value", value)


def encode_simple_ddl(ddl: DataFrame) -> DataFrame:
    """simple-protocol DDL message (`simple/message.go:38-273`, type DDL
    with the post-DDL TableSchema embedded): input frame carries
    (schema_name, table_name, commit_ts, query, table_schema_json)."""
    value = json_object(_head("DDL", F.col("commit_ts")) + [
        ("sql", json_str(F.col("query"))),
        ("tableSchema", F.col("table_schema_json")),
    ])
    return ddl.withColumn("value", value)


def encode_simple_bootstrap(cl: DataFrame,
                            pk_names: tuple[str, ...] = ("id",)) -> DataFrame:
    """One BOOTSTRAP message per (schema_name, table_name) of ``cl``
    (`simple/message.go:44`): the table schema, its columns taken from
    the frame's ``after`` image and its handle key ``pk_names``."""
    columns = [f.name for f in cl.schema["after"].dataType.fields]
    value = json_object(_head("BOOTSTRAP", None) + [
        ("tableSchema", {"columns": columns, "pk": list(pk_names)})])
    return (cl.select("schema_name", "table_name").distinct()
            .withColumn("value", value))


def watermark_messages(cl: DataFrame, interval_us: int = 3_600_000_000) -> DataFrame:
    """Per-table watermark rows at tumbling resolved-ts boundaries (W1):
    one WATERMARK message per (table, interval) carrying the max commit
    ts seen — what the sink emits when the resolved ts advances."""
    boundary = (F.col("commit_ts") - F.col("commit_ts") % interval_us) + interval_us
    wm = (
        cl.withColumn("boundary_ts", boundary)
        .groupBy("schema_name", "table_name", "boundary_ts")
        .agg(F.max("commit_ts").alias("resolved_ts"))
    )
    return wm.withColumn(
        "value", json_object(_head("WATERMARK", F.col("resolved_ts"))))
