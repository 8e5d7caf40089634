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

from ticdc_spark.functions.render import (json_case, json_dumps, json_image,
                                          json_object, json_str, with_frames)
from ticdc_spark.functions.tso import tumbling_marks


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


def ddl_message(ddl: dict) -> bytes:
    """simple-protocol DDL message (`simple/message.go:38-273`, type DDL
    with the post-DDL TableSchema embedded) for one DDL event dict
    (schema_name, table_name, commit_ts, query, and the JSON text
    ``table_schema_json`` when the event carries one)."""
    head = json_dumps({
        "version": 1, "type": "DDL", "commitTs": ddl["commit_ts"],
        "buildTs": 0, "schema": ddl.get("schema_name"),
        "table": ddl.get("table_name"), "sql": ddl.get("query")})
    return (head[:-1] + ',"tableSchema":'
            + (ddl.get("table_schema_json") or "null") + "}").encode()


def watermark_message(resolved_ts: int, schema_name, table_name) -> bytes:
    """WATERMARK message (`message.go:42-43, 275-282`) carrying a resolved
    ts; a per-table mark names its table, the broadcast one (both None)
    names none, as in the reference."""
    m = {"version": 1, "type": "WATERMARK", "commitTs": resolved_ts,
         "buildTs": 0}
    if schema_name is not None or table_name is not None:
        m |= {"schema": schema_name, "table": table_name}
    return json_dumps(m).encode()


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
    return with_frames(
        tumbling_marks(cl, interval_us, "schema_name", "table_name"),
        lambda r: (watermark_message(r["resolved_ts"], r["schema_name"],
                                     r["table_name"]),),
        ("value",))
