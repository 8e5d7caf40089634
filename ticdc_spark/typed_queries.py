"""Typed per-table payload queries + DuckDB oracles.

Proves the engine is schema-generic end-to-end on a REAL per-table
schema (orders: bigint/bigint/double/varchar/varchar/date) with schema
evolution: every event binds the registry version at its own commit_ts
(S5/J1), later-DDL columns are absent (NULL) below their activation
version, the 6-case fold (A1) and the canal-json encoder run unchanged
on the typed struct, and the column selector (P1) physically drops
columns from the schema (not just the wire bytes).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ticdc_spark.codec import encode_canal_json
from ticdc_spark.operators import compact_changelog
from ticdc_spark.operators.column_selector import select_columns_physical
from ticdc_spark.queries import register
from ticdc_spark.sources.changelog import scale_out
from ticdc_spark.sources.typed import (
    ORDERS_CL_SQL,
    ORDERS_PAYLOAD_FIELDS,
    flat_orders_changelog,
    orders_changelog,
)

# ---------------------------------------------------------------------------
# shared oracle fragments — JSON rendering identical to functions/render.py
# (ints/strings cast, doubles %.2f, NULL → JSON null)
# ---------------------------------------------------------------------------
_RENDER = {
    "okey": "{img}_okey::VARCHAR",
    "cust": "{img}_cust::VARCHAR",
    "price": "printf('%.2f', {img}_price)",
    "status": "{img}_status",
    "priority": "{img}_priority",
    "odate": "{img}_odate",
}


def _img_json_sql(img: str, fields: list[str]) -> str:
    parts = []
    for f in fields:
        r = _RENDER[f].format(img=img)
        parts.append(f"'\"{f}\":' || coalesce('\"' || {r} || '\"', 'null')")
    obj = "'[{' || " + " || ',' || ".join(parts) + " || '}]'"
    return f"CASE WHEN {img}_okey IS NULL THEN 'null' ELSE {obj} END"


_JAVA = {"okey": -5, "cust": -5, "price": 8, "status": 12, "priority": 12,
         "odate": 12}
_MYSQL = {"okey": "bigint", "cust": "bigint", "price": "double",
          "status": "varchar", "priority": "varchar", "odate": "varchar"}


# content-compatible mode renders the FULL type descriptor
# (`GetMySQLType(col, fullType=true)`, `codec/common/helper.go:38-46`) —
# the official-canal shape; descriptors are the fixture table's true
# MySQL DDL types (TPC-H orders).
_MYSQL_FULL = {"okey": "bigint(20)", "cust": "bigint(20)",
               "price": "double", "status": "char(1)",
               "priority": "varchar(15)", "odate": "date"}


def _canal_sql(fields: list[str], mysql_map: dict | None = None) -> str:
    mm = mysql_map or _MYSQL
    sql_t = "{" + ",".join(f'"{f}":{_JAVA[f]}' for f in fields) + "}"
    mysql_t = "{" + ",".join(f'"{f}":"{mm[f]}"' for f in fields) + "}"
    return (
        "'{\"id\":0,\"database\":\"' || schema_name || '\",\"table\":\"' || "
        "table_name || '\",\"pkNames\":[\"okey\"],\"isDdl\":false,\"type\":\"' || "
        "CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END || "
        "'\",\"es\":' || (commit_ts // 1000)::VARCHAR || "
        f"',\"ts\":0,\"sql\":\"\",\"sqlType\":{sql_t},\"mysqlType\":{mysql_t},"
        "\"data\":' || "
        f"CASE WHEN op = 'D' THEN {_img_json_sql('before', fields)} "
        f"ELSE {_img_json_sql('after', fields)} END || "
        f"',\"old\":' || CASE WHEN op = 'U' THEN {_img_json_sql('before', fields)} "
        "ELSE 'null' END || '}'"
    )


_FLAT_TYPED = ", ".join(
    ["schema_name", "table_name", "table_id", "op", "commit_ts", "start_ts",
     "seq", "dml_order", "pk", "schema_version"]
    + [f"{img}_{f}" for img in ("before", "after") for f in ORDERS_PAYLOAD_FIELDS]
)


# ---------------------------------------------------------------------------
# typed mount + as-of schema-version binding (S5/J1 on a real table)
# ---------------------------------------------------------------------------
@register(
    "orders_changelog_typed",
    f"WITH {ORDERS_CL_SQL} SELECT {_FLAT_TYPED} FROM orders_cl",
)
def q_orders_changelog_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flat_orders_changelog(spark, sf_dir)


# ---------------------------------------------------------------------------
# canal-json over the typed payload (encoder is schema-generic)
# ---------------------------------------------------------------------------
@register(
    "orders_canal_encode",
    f"WITH {ORDERS_CL_SQL} SELECT seq, {_canal_sql(ORDERS_PAYLOAD_FIELDS)} AS value "
    "FROM orders_cl",
    bench="plan",
)
def q_orders_canal_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = scale_out(orders_changelog(spark, sf_dir))
    return encode_canal_json(cl, pk_names=("okey",)).select("seq", "value")


@register(
    "codec_canal_content_compatible",
    f"WITH {ORDERS_CL_SQL} SELECT seq, "
    f"{_canal_sql(ORDERS_PAYLOAD_FIELDS, _MYSQL_FULL)} AS value "
    "FROM orders_cl",
)
def q_codec_canal_content_compatible(spark: SparkSession,
                                     sf_dir: str) -> DataFrame:
    """content-compatible-enable: mysqlType carries the full descriptor
    ("bigint(20)", "char(1)"...) instead of the bare name — official
    canal consumers parse this form (`canal_json_encoder.go:250`)."""
    cl = scale_out(orders_changelog(spark, sf_dir))
    overrides = {f: (_JAVA[f], _MYSQL_FULL[f])
                 for f in ORDERS_PAYLOAD_FIELDS}
    return encode_canal_json(
        cl, pk_names=("okey",), type_overrides=overrides
    ).select("seq", "value")


# ---------------------------------------------------------------------------
# P1 physical column drop: schema shrinks, wire bytes shrink
# ---------------------------------------------------------------------------
_KEPT = ["okey", "price", "odate"]


@register(
    "orders_column_selector_physical",
    f"WITH {ORDERS_CL_SQL} SELECT seq, {_canal_sql(_KEPT)} AS value FROM orders_cl",
)
def q_orders_column_selector_physical(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = scale_out(orders_changelog(spark, sf_dir))
    cl = select_columns_physical(cl, _KEPT, pk_fields=("okey",))
    return encode_canal_json(cl, pk_names=("okey",)).select("seq", "value")


# ---------------------------------------------------------------------------
# A1 fold on the typed payload (multi-event lifecycles: I, I+U, I+D)
# ---------------------------------------------------------------------------
_TYPED_COMPACT_ORACLE = f"""
WITH {ORDERS_CL_SQL},
g AS (
    SELECT schema_name, table_name, table_id, pk,
           count(*) AS n_events,
           max(commit_ts) AS last_ts,
           arg_min(op, commit_ts) AS first_op,
           arg_max(op, commit_ts) AS last_op,
           {", ".join(f"arg_min(before_{f}, commit_ts) AS fb_{f}" for f in ORDERS_PAYLOAD_FIELDS)},
           {", ".join(f"arg_max(after_{f}, commit_ts) AS la_{f}" for f in ORDERS_PAYLOAD_FIELDS)}
    FROM orders_cl WHERE op IN ('I', 'U', 'D')
    GROUP BY 1, 2, 3, 4
),
n AS (
    SELECT *,
           CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
                WHEN first_op = 'I' THEN 'I'
                WHEN last_op = 'D' THEN 'D'
                ELSE 'U' END AS net_op
    FROM g
)
SELECT schema_name, table_name, table_id, pk, net_op, n_events,
       last_ts AS commit_ts,
       {", ".join(f"CASE WHEN net_op IN ('U', 'D') THEN fb_{f} END AS before_{f}" for f in ORDERS_PAYLOAD_FIELDS)},
       {", ".join(f"CASE WHEN net_op IN ('I', 'U') THEN la_{f} END AS after_{f}" for f in ORDERS_PAYLOAD_FIELDS)}
FROM n WHERE net_op IS NOT NULL
"""


@register("orders_compact_typed", _TYPED_COMPACT_ORACLE, bench="plan")
def q_orders_compact_typed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plan note: string payload fields (status/priority/odate) put
    min_by/max_by string values in the agg buffer, so Spark picks
    SortAggregate here (HashAggregate needs mutable fixed-width buffer
    types). Still ONE exchange; the sort is per-partition by group key.
    The all-numeric unified-payload fold (`compaction`) keeps
    HashAggregate — that trade is inherent to typed payloads, not a
    plan regression."""
    out = compact_changelog(orders_changelog(spark, sf_dir))
    cols = ["schema_name", "table_name", "table_id", "pk", "net_op",
            "n_events", "commit_ts"]
    for img in ("before", "after"):
        cols += [F.col(f"{img}.{f}").alias(f"{img}_{f}")
                 for f in ORDERS_PAYLOAD_FIELDS]
    return out.select(*cols)


# ---------------------------------------------------------------------------
# Composite handle key (lineitem): P2 split on any key component, R5
# columns partitioner, multi-name pkNames encode
# ---------------------------------------------------------------------------
from ticdc_spark.operators import split_updates  # noqa: E402
from ticdc_spark.operators.routing import route  # noqa: E402
from ticdc_spark.sources.typed import (  # noqa: E402
    LINEITEM_CL_SQL,
    LINEITEM_PAYLOAD_FIELDS,
    lineitem_changelog,
)

_LI_META = ("schema_name, table_name, table_id, commit_ts, start_ts, seq, pk")
_LI_B = ", ".join(f"before_{f}" for f in LINEITEM_PAYLOAD_FIELDS)
_LI_A = ", ".join(f"after_{f}" for f in LINEITEM_PAYLOAD_FIELDS)
_LI_NULL_B = ", ".join(f"NULL AS before_{f}" for f in LINEITEM_PAYLOAD_FIELDS)
_LI_NULL_A = ", ".join(f"NULL AS after_{f}" for f in LINEITEM_PAYLOAD_FIELDS)
_LI_KEY_CHANGED = (
    "(op = 'U' AND (before_okey <> after_okey OR before_line <> after_line))"
)

_LI_SPLIT_ORACLE = f"""
WITH {LINEITEM_CL_SQL}
SELECT {_LI_META}, op, dml_order, {_LI_B}, {_LI_A}
FROM li_cl WHERE NOT {_LI_KEY_CHANGED}
UNION ALL
SELECT {_LI_META}, 'D' AS op, 1 AS dml_order, {_LI_B}, {_LI_NULL_A}
FROM li_cl WHERE {_LI_KEY_CHANGED}
UNION ALL
SELECT {_LI_META}, 'I' AS op, 3 AS dml_order, {_LI_NULL_B}, {_LI_A}
FROM li_cl WHERE {_LI_KEY_CHANGED}
"""


def _flatten_li(cl: DataFrame) -> DataFrame:
    cols = ["schema_name", "table_name", "table_id", "commit_ts", "start_ts",
            "seq", "pk", "op", "dml_order"]
    for img in ("before", "after"):
        cols += [F.col(f"{img}.{f}").alias(f"{img}_{f}")
                 for f in LINEITEM_PAYLOAD_FIELDS]
    return cl.select(*cols)


@register("lineitem_composite_split", _LI_SPLIT_ORACLE)
def q_lineitem_composite_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = split_updates(lineitem_changelog(spark, sf_dir),
                       key_fields=("okey", "line"))
    return _flatten_li(cl)


_LI_PART_KEY = (
    "coalesce(after_okey, before_okey)::VARCHAR || ',' || "
    "coalesce(after_line, before_line)::VARCHAR"
)
_LI_PART = f"CAST((('0x' || substr(md5({_LI_PART_KEY}), 1, 8))::BIGINT % 16) AS INTEGER)"


@register(
    "lineitem_composite_route",
    f"WITH {LINEITEM_CL_SQL} SELECT seq, op, "
    "'cdc_' || schema_name || '_' || table_name AS topic, "
    f"{_LI_PART} AS partition FROM li_cl",
)
def q_lineitem_composite_route(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = route(
        lineitem_changelog(spark, sf_dir),
        [{"matcher": ["tpch.*"], "partition": "columns",
          "columns": ["okey", "line"], "topic": "cdc_{schema}_{table}"}],
        n_partitions=16,
    )
    return cl.select("seq", "op", "topic", "partition")


_LI_RENDER = {
    "okey": "{img}_okey::VARCHAR",
    "line": "{img}_line::VARCHAR",
    "qty": "printf('%.2f', {img}_qty)",
    "price": "printf('%.2f', {img}_price)",
}
_LI_JAVA = {"okey": -5, "line": -5, "qty": 8, "price": 8}
_LI_MYSQL = {"okey": "bigint", "line": "bigint", "qty": "double",
             "price": "double"}


def _li_img_json_sql(img: str) -> str:
    parts = []
    for f in LINEITEM_PAYLOAD_FIELDS:
        r = _LI_RENDER[f].format(img=img)
        parts.append(f"'\"{f}\":' || coalesce('\"' || {r} || '\"', 'null')")
    obj = "'[{' || " + " || ',' || ".join(parts) + " || '}]'"
    return f"CASE WHEN {img}_okey IS NULL THEN 'null' ELSE {obj} END"


_LI_SQLT = "{" + ",".join(f'"{f}":{_LI_JAVA[f]}' for f in LINEITEM_PAYLOAD_FIELDS) + "}"
_LI_MYT = "{" + ",".join(f'"{f}":"{_LI_MYSQL[f]}"' for f in LINEITEM_PAYLOAD_FIELDS) + "}"


@register(
    "lineitem_composite_encode",
    f"WITH {LINEITEM_CL_SQL} SELECT seq, "
    "'{\"id\":0,\"database\":\"' || schema_name || '\",\"table\":\"' || "
    "table_name || '\",\"pkNames\":[\"okey\",\"line\"],\"isDdl\":false,"
    "\"type\":\"' || "
    "CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END || "
    "'\",\"es\":' || (commit_ts // 1000)::VARCHAR || "
    f"',\"ts\":0,\"sql\":\"\",\"sqlType\":{_LI_SQLT},\"mysqlType\":{_LI_MYT},"
    "\"data\":' || "
    f"CASE WHEN op = 'D' THEN {_li_img_json_sql('before')} "
    f"ELSE {_li_img_json_sql('after')} END || "
    f"',\"old\":' || CASE WHEN op = 'U' THEN {_li_img_json_sql('before')} "
    "ELSE 'null' END || '}' AS value FROM li_cl",
)
def q_lineitem_composite_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = scale_out(lineitem_changelog(spark, sf_dir))
    return encode_canal_json(cl, pk_names=("okey", "line")).select("seq", "value")


# ---------------------------------------------------------------------------
# simple-protocol DDL messages: one per schema version the data actually
# reached (the DDL stream the changefeed would broadcast to MQ sinks)
# ---------------------------------------------------------------------------
import json as _json  # noqa: E402

from ticdc_spark.codec.simple_protocol import ddl_message  # noqa: E402
from ticdc_spark.functions.render import with_frames  # noqa: E402
from ticdc_spark.plans.schema_registry import SCHEMA_VERSIONS  # noqa: E402

_DDL_TEXT = {
    2: "ALTER TABLE orders ADD COLUMN status varchar",
    3: "ALTER TABLE orders ADD COLUMN priority varchar",
}


def _cols_at_version(v: int) -> list[str]:
    cols = ["okey", "cust", "price"]
    if v >= 2:
        cols.append("status")
    if v >= 3:
        cols.append("priority")
    cols.append("odate")
    return cols


def _table_schema_json(v: int) -> str:
    return _json.dumps(
        {"columns": _cols_at_version(v), "pk": ["okey"], "version": v},
        separators=(",", ":"),
    )


_VTS = dict(SCHEMA_VERSIONS)


@register(
    "simple_ddl_messages",
    f"WITH {ORDERS_CL_SQL} "
    "SELECT DISTINCT schema_version, "
    "CASE schema_version "
    + " ".join(
        "WHEN {v} THEN '{msg}'".format(
            v=v,
            msg=(
                '{{"version":1,"type":"DDL","commitTs":{ts},"buildTs":0,'
                '"schema":"tpch","table":"orders","sql":"{q}",'
                '"tableSchema":{schema}}}'
            ).format(ts=_VTS[v], q=_DDL_TEXT[v],
                     schema=_table_schema_json(v)).replace("'", "''"),
        )
        for v in (2, 3)
    )
    + " END AS value FROM orders_cl WHERE schema_version >= 2",
)
def q_simple_ddl_messages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The DDL messages an MQ sink broadcasts (`simple/message.go` type
    DDL): derived from the versions the changelog actually binds — at
    small SF only v2 may appear; larger SFs reach v3 too."""
    versions = (
        flat_orders_changelog(spark, sf_dir)
        .select("schema_version").distinct()
        .filter(F.col("schema_version") >= 2)
    )
    frames = {v: ddl_message({
        "schema_name": "tpch", "table_name": "orders", "commit_ts": _VTS[v],
        "query": _DDL_TEXT[v], "table_schema_json": _table_schema_json(v)})
        for v in (2, 3)}
    return with_frames(versions, lambda r: (frames[r["schema_version"]],),
                       ("value",))


# ---------------------------------------------------------------------------
# avro schema-registry documents: the -key/-value subjects the avro
# encoder would register per table (golden oracle, hand-spelled)
# ---------------------------------------------------------------------------
from ticdc_spark.codec.avro_protocol import avro_schema_document  # noqa: E402
from ticdc_spark.sources.changelog import events_changelog  # noqa: E402


def _avro_leaf_sql(avro_t: str, tidb_t: str) -> str:
    return ('{"type":"%s","connect.parameters":{"tidb_type":"%s"}}'
            % (avro_t, tidb_t))


def _avro_field_sql(name: str, avro_t: str, tidb_t: str, pk: bool) -> str:
    leaf = _avro_leaf_sql(avro_t, tidb_t)
    if pk:
        return '{"name":"%s","type":%s}' % (name, leaf)
    return '{"name":"%s","type":["null",%s],"default":null}' % (name, leaf)


def _avro_doc_sql(schema: str, table: str,
                  fields: list[tuple[str, str, str, bool]],
                  only_pk: bool = False) -> str:
    fs = ",".join(
        _avro_field_sql(n, a, t, pk)
        for n, a, t, pk in fields if (pk or not only_pk)
    )
    return ('{"type":"record","name":"%s","namespace":"default.%s","fields":[%s]}'
            % (table, schema, fs))


_AVRO_TABLES = [
    ("test", "tp_click", [
        ("id", "long", "BIGINT", True),
        ("val", "double", "DOUBLE", False),
        ("k", "long", "BIGINT", False),
    ]),
    ("tpch", "orders", [
        ("okey", "long", "BIGINT", True),
        ("cust", "long", "BIGINT", False),
        ("price", "double", "DOUBLE", False),
        ("status", "string", "VARCHAR", False),
        ("priority", "string", "VARCHAR", False),
        ("odate", "string", "VARCHAR", False),
    ]),
    ("tpch", "lineitem", [
        ("okey", "long", "BIGINT", True),
        ("line", "long", "BIGINT", True),
        ("qty", "double", "DOUBLE", False),
        ("price", "double", "DOUBLE", False),
    ]),
]

_AVRO_ROWS_SQL = ", ".join(
    "('cdc_{s}_{t}{suf}', '{doc}')".format(
        s=s, t=t, suf=suf,
        doc=_avro_doc_sql(s, t, fields, only_pk=(suf == "-key")).replace("'", "''"),
    )
    for s, t, fields in _AVRO_TABLES
    for suf in ("-value", "-key")
)


def _avro_docs(spark: SparkSession, sf_dir: str) -> list[dict]:
    """Registry documents of the three changelog shapes (unified events,
    typed orders at its latest version, composite-key lineitem), derived
    from their RUNTIME DataFrame schemas."""
    ev = events_changelog(spark, sf_dir)
    oc = orders_changelog(spark, sf_dir)
    lc = lineitem_changelog(spark, sf_dir)
    return (avro_schema_document(
        "test", "tp_click", ev.schema["after"].dataType,
        {"id": "bigint", "val": "double", "k": "bigint"}, ("id",))
        + avro_schema_document(
            "tpch", "orders", oc.schema["after"].dataType, _MYSQL,
            ("okey",))
        + avro_schema_document(
            "tpch", "lineitem", lc.schema["after"].dataType, _LI_MYSQL,
            ("okey", "line")))


@register(
    "avro_registry_schemas",
    "SELECT * FROM (VALUES " + _AVRO_ROWS_SQL
    + ") AS v(subject, schema_json)",
)
def q_avro_registry_schemas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """:func:`_avro_docs` — the oracle is the hand-spelled golden."""
    docs = _avro_docs(spark, sf_dir)
    return spark.createDataFrame(
        [(d["subject"], d["schema_json"]) for d in docs],
        "subject string, schema_json string",
    )


# ---------------------------------------------------------------------------
# avro schema-registry WIRE protocol: run the actual Confluent client
# (REST verbs against the in-process registry) and the Glue client over
# the same documents; prove ids, versions, and message headers.
# Reference: `pkg/sink/codec/avro/confluent_schema_registry.go` (Register
# :124, GetCachedOrRegister :299, header :407), `glue_schema_registry.go`
# (create-or-update :95-124, header :330-342).
# ---------------------------------------------------------------------------

def _glue_uuid(name: str, version: int = 1) -> str:
    import uuid
    return str(uuid.uuid5(uuid.NAMESPACE_URL, f"glue://default/{name}/{version}"))


_WIRE_SUBJECTS = [
    f"cdc_{s}_{t}{suf}"
    for s, t, _ in _AVRO_TABLES
    for suf in ("-value", "-key")
]

_WIRE_ROWS_SQL = ", ".join(
    "('{subj}', CAST({sid} AS BIGINT), CAST(1 AS BIGINT), '{chex}', '{ghex}')".format(
        subj=subj, sid=i + 1,
        chex="00" + format(i + 1, "08x"),
        ghex="0300" + __import__("uuid").UUID(_glue_uuid(subj)).hex,
    )
    for i, subj in enumerate(_WIRE_SUBJECTS)
)


@register(
    "avro_registry_wire",
    "SELECT * FROM (VALUES " + _WIRE_ROWS_SQL
    + ") AS v(subject, schema_id, version, confluent_header, glue_header)"
    " ORDER BY subject",
    bench="plan",
)
def q_avro_registry_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive both registry clients end-to-end: register each table's
    -value/-key documents through the Confluent REST client (in-process
    transport, same handler as the socket tests), re-register via
    GetCachedOrRegister (must be a cache hit — ids stable), then register
    the same subjects in the Glue manager. Output one row per subject
    with the ids and wire headers; oracle is the closed-form expectation
    (monotone Confluent ids in registration order; Glue uuid5 ids)."""
    from ticdc_spark.codec.schema_registry import (
        ConfluentSchemaManager, GlueSchemaManager,
    )

    docs = _avro_docs(spark, sf_dir)

    mgr = ConfluentSchemaManager.in_memory(backoff_s=0.001)
    glue = GlueSchemaManager("default")
    rows = []
    for d in docs:
        schema, header = mgr.get_cached_or_register(
            d["subject"], 1, lambda d=d: d["schema_json"])
        # second call is a cache hit and must return identical bytes
        _, header2 = mgr.get_cached_or_register(
            d["subject"], 1, lambda: (_ for _ in ()).throw(AssertionError))
        assert header2 == header
        sid = int.from_bytes(header[1:5], "big")
        gid = glue.register(d["subject"], d["schema_json"])
        rows.append((d["subject"], sid, 1, header.hex(),
                     glue.get_msg_header(gid).hex()))
    return spark.createDataFrame(
        rows,
        "subject string, schema_id long, version long, "
        "confluent_header string, glue_header string",
    ).orderBy("subject")


# ---------------------------------------------------------------------------
# §1.3 temporal type fidelity: a payload with real DATE + TIMESTAMP columns
# through canal-json (sqlType 91/93, mysqlType date/datetime) and csv
# ---------------------------------------------------------------------------
from ticdc_spark.codec.csv_codec import encode_csv  # noqa: E402
from ticdc_spark.sources.changelog import epoch_us, read_table  # noqa: E402


def _temporal_changelog(spark: SparkSession, sf_dir: str) -> DataFrame:
    o = read_table(spark, sf_dir, "orders")
    ts = F.timestamp_micros(epoch_us(o, "o_orderdate"))
    after = F.struct(
        F.col("o_orderkey").alias("okey"),
        F.to_date(ts).alias("odate"),
        ts.alias("ots"),
    )
    return o.select(
        F.lit("tpch").alias("schema_name"),
        F.lit("orders_t").alias("table_name"),
        F.lit("I").alias("op"),
        (F.lit(1704067200000000) + F.col("o_orderkey") * 1000).alias("commit_ts"),
        F.col("o_orderkey").alias("seq"),
        F.lit(None).cast(
            "struct<okey:bigint,odate:date,ots:timestamp>"
        ).alias("before"),
        after.alias("after"),
    )


_TEMPORAL_CTE = """
tcl AS (
    SELECT 'tpch' AS schema_name, 'orders_t' AS table_name, 'I' AS op,
           1704067200000000 + o_orderkey * 1000 AS commit_ts,
           o_orderkey AS seq, o_orderkey AS okey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate_txt,
           strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS ots_txt
    FROM orders
)
"""

_TEMPORAL_CANAL = (
    "'{\"id\":0,\"database\":\"tpch\",\"table\":\"orders_t\","
    "\"pkNames\":[\"okey\"],\"isDdl\":false,\"type\":\"INSERT\",\"es\":' || "
    "(commit_ts // 1000)::VARCHAR || "
    "',\"ts\":0,\"sql\":\"\","
    "\"sqlType\":{\"okey\":-5,\"odate\":91,\"ots\":93},"
    "\"mysqlType\":{\"okey\":\"bigint\",\"odate\":\"date\",\"ots\":\"datetime\"},"
    "\"data\":[{\"okey\":\"' || okey::VARCHAR || '\",\"odate\":\"' || odate_txt ||"
    " '\",\"ots\":\"' || ots_txt || '\"}],\"old\":null}'"
)


@register(
    "codec_canal_temporal",
    f"WITH {_TEMPORAL_CTE} SELECT seq, {_TEMPORAL_CANAL} AS value FROM tcl",
)
def q_codec_canal_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = _temporal_changelog(spark, sf_dir)
    return encode_canal_json(cl, pk_names=("okey",)).select("seq", "value")


@register(
    "codec_csv_temporal",
    f"WITH {_TEMPORAL_CTE} SELECT seq, "
    "'\"I\",\"orders_t\",\"tpch\",' || commit_ts::VARCHAR || ',' || "
    "okey::VARCHAR || ',' || odate_txt || ',' || ots_txt AS value FROM tcl",
)
def q_codec_csv_temporal(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = _temporal_changelog(spark, sf_dir)
    return encode_csv(cl).select("seq", "value")


# ---------------------------------------------------------------------------
# Avro BINARY wire path (Confluent envelope), proven by consumer
# round-trip — the reference's own MQ oracle strategy (SURVEY §5):
# encode to magic+schema-id+avro-binary, decode like the consumer, and
# the recovered typed rows must equal the changelog (deletes recover
# only the handle key from the key message; value is a tombstone).
# ---------------------------------------------------------------------------
_AVRO_TYPES = {"okey": "long", "cust": "long", "price": "double",
               "status": "string", "priority": "string", "odate": "string"}


@register(
    "avro_binary_roundtrip",
    f"WITH {ORDERS_CL_SQL} SELECT seq, op, commit_ts, "
    "CASE WHEN op = 'D' THEN before_okey ELSE after_okey END AS okey, "
    "CASE WHEN op = 'D' THEN NULL ELSE after_cust END AS cust, "
    "CASE WHEN op = 'D' THEN NULL ELSE after_price END AS price, "
    "CASE WHEN op = 'D' THEN NULL ELSE after_status END AS status, "
    "CASE WHEN op = 'D' THEN NULL ELSE after_priority END AS priority, "
    "CASE WHEN op = 'D' THEN NULL ELSE after_odate END AS odate "
    "FROM orders_cl",
)
def q_avro_binary_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.codec.avro_protocol import (
        decode_avro_binary,
        encode_avro_binary,
    )
    from ticdc_spark.sources.typed import ORDERS_PK

    flat = flat_orders_changelog(spark, sf_dir)
    enc = encode_avro_binary(
        flat, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES, ORDERS_PK)
    return decode_avro_binary(
        enc, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES, ORDERS_PK)


# ---------------------------------------------------------------------------
# simple protocol, Avro encoding-format (`pkg/sink/codec/simple/avro.go`,
# schema message.json): full Message-record wire bytes through the
# compiled DML codec, proven by consumer round-trip.  Deletes
# carry the full old image (unlike the Confluent path's key-only
# tombstone), so the oracle recovers every before_* field for D rows.
# ---------------------------------------------------------------------------
_SIMPLE_AVRO_IMG = ", ".join(
    f"CASE WHEN op = 'D' THEN before_{f} ELSE after_{f} END AS {f}"
    for f in ORDERS_PAYLOAD_FIELDS
)


@register(
    "simple_avro_roundtrip",
    f"WITH {ORDERS_CL_SQL} SELECT seq, op, commit_ts, {_SIMPLE_AVRO_IMG} "
    "FROM orders_cl",
    bench="plan",
)
def q_simple_avro_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.codec.simple_avro import (
        decode_simple_avro_dml,
        encode_simple_avro_dml,
    )
    from ticdc_spark.sources.changelog import scale_out

    # Python-bound codec: rebalance the fixture's single-split scan
    # across cores first (dropped on a real multi-split source)
    flat = scale_out(flat_orders_changelog(spark, sf_dir))
    enc = encode_simple_avro_dml(flat, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES)
    return decode_simple_avro_dml(enc, ORDERS_PAYLOAD_FIELDS, _AVRO_TYPES)


# ---------------------------------------------------------------------------
# §2.9 exotic MySQL types: mounter decode (ENUM/SET/BIT/VECTOR) and the
# csv wire rendering (`csv_message.go:276-323`).
# ---------------------------------------------------------------------------
from pyspark.sql.types import ArrayType, FloatType  # noqa: E402

from ticdc_spark.functions.render import render_scalar  # noqa: E402
from ticdc_spark.sources.typed import EXOTIC_CL_SQL, exotic_changelog  # noqa: E402


@register(
    "mount_exotic_types",
    f"WITH {EXOTIC_CL_SQL} SELECT pid, color, tags, flags, vec_txt FROM exotic_cl",
)
def q_mount_exotic_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = exotic_changelog(spark, sf_dir)
    return cl.select(
        F.col("after.pid").alias("pid"),
        F.col("after.color").alias("color"),
        F.col("after.tags").alias("tags"),
        F.col("after.flags").alias("flags"),
        render_scalar(F.col("after.vec"), ArrayType(FloatType())).alias("vec_txt"),
    )


@register(
    "codec_csv_exotic",
    f"WITH {EXOTIC_CL_SQL} SELECT pid AS seq, "
    "'\"I\",\"exotic\",\"tpch\",' || commit_ts::VARCHAR || ',' || pid::VARCHAR "
    "|| ',\"' || color || '\",' "
    "|| coalesce('\"' || tags || '\"', '\\N') || ',' "
    "|| flags::VARCHAR || ',' "
    "|| coalesce('\"' || vec_txt || '\"', '\\N') || ',' "
    "|| dec_txt || ',\"' || tm_txt || '\",\"' "
    "|| replace(js_txt, '\"', '\"\"') || '\"' AS value "
    "FROM exotic_cl",
    bench="plan",
)
def q_codec_csv_exotic(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = encode_csv(exotic_changelog(spark, sf_dir))
    return out.select("seq", "value")


# canal-json carries the RAW numeric forms of exotic types (enum
# ordinal, set bitmask, bit uint64) with sqlType INTEGER(4)/BIT(-7) and
# mysqlType "enum"/"set"/"bit"/"vector" (`canal/helper.go:93-126`,
# `java.go:109-115,140-147`, `helper.go:38-46`).
EXOTIC_CANAL_TYPES = {
    "color": (4, "enum"),
    "tags": (-7, "set"),
    "flags": (-7, "bit"),
    "vec": (12, "vector"),
    # DECIMAL=3, TIME=92 (`java.go:30,34`); JSON rides VARCHAR=12
    "dec": (3, "decimal"),
    "tm": (92, "time"),
    "js": (12, "json"),
}

_EXOTIC_CANAL_VALUE = (
    "'{\"id\":0,\"database\":\"tpch\",\"table\":\"exotic\","
    "\"pkNames\":[\"pid\"],\"isDdl\":false,\"type\":\"INSERT\",\"es\":' || "
    "(commit_ts // 1000)::VARCHAR || "
    "',\"ts\":0,\"sql\":\"\","
    "\"sqlType\":{\"pid\":-5,\"color\":4,\"tags\":-7,\"flags\":-7,\"vec\":12,"
    "\"dec\":3,\"tm\":92,\"js\":12},"
    "\"mysqlType\":{\"pid\":\"bigint\",\"color\":\"enum\",\"tags\":\"set\","
    "\"flags\":\"bit\",\"vec\":\"vector\",\"dec\":\"decimal\",\"tm\":\"time\","
    "\"js\":\"json\"},"
    "\"data\":[{\"pid\":\"' || pid::VARCHAR || '\","
    "\"color\":\"' || ord::VARCHAR || '\","
    "\"tags\":' || coalesce('\"' || mask::VARCHAR || '\"', 'null') || ',"
    "\"flags\":\"' || flags::VARCHAR || '\","
    "\"vec\":' || coalesce('\"' || vec_txt || '\"', 'null') || ',"
    "\"dec\":\"' || dec_txt || '\","
    "\"tm\":\"' || tm_txt || '\","
    "\"js\":\"' || replace(js_txt, '\"', '\\\"') || '\"}],\"old\":null}'"
)


@register(
    "codec_canal_exotic",
    f"WITH {EXOTIC_CL_SQL} SELECT r.pid AS seq, {_EXOTIC_CANAL_VALUE} AS value "
    "FROM exotic_raw r",
)
def q_codec_canal_exotic(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = exotic_changelog(spark, sf_dir, mounted=False)
    out = encode_canal_json(
        cl, pk_names=("pid",), type_overrides=EXOTIC_CANAL_TYPES
    )
    return out.select("seq", "value")
