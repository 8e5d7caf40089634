"""Every JSON text frame escapes by construction.

A hostile fixture puts a quote, backslash, newline, tab, U+0001 and
non-ASCII text into the schema, table and column names, into string
values and into DDL text. Each frame of canal-json, open-protocol,
simple, debezium, avro-json, the redo record and the claim-check pointer
must parse with ``json.loads`` and equal the Python object it encodes; the
consumers must recover the hostile schema and table names exactly.
"""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

SCHEMA = 'd"b\\\n\x01ü'
TABLE = 't\\y\t"中'
PK, DBL, STR = "id", 'v"a\\l', "s\n\t\x01é"
COLS = f"`{PK}` bigint, `{DBL}` double, `{STR}` string"
TS = 1_704_067_200_123_456
DDL_SQL = ('CREATE TABLE `t` (\n  c VARCHAR(8) DEFAULT "x\\y"'
           " COMMENT '中文\x01'\r\n)")

# (op, before, after): string values hold every kind of hostile text
ROWS = [
    ("I", None, (1, 1.5, 'a\nb\x01"c\\d\t中文')),
    ("U", (2, -2.25, "plain"), (2, 3.0, None)),
    ("D", (3, None, "\x1f\x7f "), None),
]


@pytest.fixture(scope="module")
def cl(spark):
    return spark.createDataFrame(
        [(SCHEMA, TABLE, 7, op, TS + i, TS + i - 1, i, b, a)
         for i, (op, b, a) in enumerate(ROWS)],
        "schema_name string, table_name string, table_id bigint, op string,"
        " commit_ts bigint, start_ts bigint, seq bigint,"
        f" before struct<{COLS}>, after struct<{COLS}>")


@pytest.fixture(scope="module")
def ddl(spark):
    return spark.createDataFrame(
        [(0, SCHEMA, TABLE, TS, DDL_SQL, "create-table", 3,
          '{"columns":["id"]}')],
        "seq bigint, schema_name string, table_name string, commit_ts bigint,"
        " query string, ddl_type string, action_type int,"
        " table_schema_json string")


def _rows(df, *cols):
    return [tuple(json.loads(r[c]) for c in cols)
            for r in df.orderBy("seq").collect()]


def _text(img):
    """canal/simple/redo rendering: every value a string."""
    if img is None:
        return None
    i, v, s = img
    return {PK: str(i), DBL: None if v is None else f"{v:.2f}", STR: s}


def _src(**extra):
    return {"connector": "ticdc-spark", "db": SCHEMA, "table": TABLE,
            **extra}


def test_json_str_matches_json_dumps(spark):
    from ticdc_spark.functions.render import json_str

    texts = [chr(c) for c in range(128)] + [
        "", "plain", "中文 ü", " ", 'a"b\\c\nd', None]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "i int, t string")
    got = [r.j for r in df.orderBy("i").select(
        json_str(F.col("t")).alias("j")).collect()]
    assert got == [json.dumps(t, ensure_ascii=False) for t in texts]


def test_canal_json(cl, ddl):
    from ticdc_spark.codec.canal_json import (ddl_message,
                                              encode_canal_json,
                                              encode_canal_json_ddl)

    for ext in (False, True):
        got = _rows(encode_canal_json(cl, tidb_extension=ext), "value")
        for i, ((op, b, a), (m,)) in enumerate(zip(ROWS, got)):
            want = {
                "id": 0, "database": SCHEMA, "table": TABLE,
                "pkNames": ["id"], "isDdl": False,
                "type": {"I": "INSERT", "U": "UPDATE"}.get(op, "DELETE"),
                "es": (TS + i) // 1000, "ts": 0, "sql": "",
                "sqlType": {PK: -5, DBL: 8, STR: 12},
                "mysqlType": {PK: "bigint", DBL: "double", STR: "varchar"},
                "data": [_text(b if op == "D" else a)],
                "old": [_text(b)] if op == "U" else None}
            if ext:
                want["_tidb"] = {"commitTs": TS + i}
            assert m == want
    value = encode_canal_json_ddl(ddl).first().value
    m = json.loads(value)
    assert (m["database"], m["table"], m["sql"]) == (SCHEMA, TABLE, DDL_SQL)
    assert value.encode() == ddl_message(ddl.first().asDict())


def test_open_protocol(cl, ddl):
    from ticdc_spark.codec.open_protocol import (encode_open_protocol,
                                                 encode_open_protocol_ddl)

    def img(v):
        t = _text(v)
        return {PK: {"t": 8, "v": t[PK]}, DBL: {"t": 5, "v": t[DBL]},
                STR: {"t": 15, "v": t[STR]}}

    got = _rows(encode_open_protocol(cl), "key", "value")
    for i, ((op, b, a), (k, v)) in enumerate(zip(ROWS, got)):
        assert k == {"ts": TS + i, "scm": SCHEMA, "tbl": TABLE, "t": 1}
        assert v == ({"d": img(b)} if op == "D" else
                     {"u": img(a), "p": img(b)} if op == "U" else
                     {"u": img(a)})
    (k, v), = _rows(encode_open_protocol_ddl(ddl), "key", "value")
    assert k == {"ts": TS, "scm": SCHEMA, "tbl": TABLE, "t": 2}
    assert v == {"q": DDL_SQL, "t": 3}


def test_simple(cl, ddl):
    from ticdc_spark.codec.simple_protocol import (ddl_message,
                                                   encode_simple,
                                                   encode_simple_bootstrap,
                                                   watermark_messages)

    head = {"version": 1, "buildTs": 0, "schema": SCHEMA, "table": TABLE}
    got = _rows(encode_simple(cl), "value")
    for i, ((op, b, a), (m,)) in enumerate(zip(ROWS, got)):
        assert m == {
            **head, "type": {"I": "INSERT", "U": "UPDATE"}.get(op, "DELETE"),
            "commitTs": TS + i, "data": _text(a), "old": _text(b)}
    m = json.loads(ddl_message(ddl.first().asDict()))
    assert m == {**head, "type": "DDL", "commitTs": TS, "sql": DDL_SQL,
                 "tableSchema": {"columns": ["id"]}}
    m = json.loads(watermark_messages(cl).first().value)
    assert m == {**head, "type": "WATERMARK", "commitTs": TS + 2}
    m = json.loads(encode_simple_bootstrap(cl).first().value)
    assert m == {**head, "type": "BOOTSTRAP",
                 "tableSchema": {"columns": [PK, DBL, STR], "pk": ["id"]}}


def test_debezium(cl, ddl):
    from ticdc_spark.codec.debezium import (encode_debezium,
                                            encode_debezium_ddl,
                                            encode_debezium_full,
                                            encode_debezium_key)

    def img(v):
        return None if v is None else dict(zip((PK, DBL, STR), v))

    dbz_op = {"I": "c", "U": "u", "D": "d"}
    got = _rows(encode_debezium(cl), "value")
    for i, ((op, b, a), (m,)) in enumerate(zip(ROWS, got)):
        assert m == {"before": img(b), "after": img(a),
                     "source": _src(commit_ts=TS + i), "op": dbz_op[op],
                     "ts_ms": (TS + i) // 1000}
    full = encode_debezium_key(encode_debezium_full(cl, disable_schema=False),
                               disable_schema=False)
    topic = f"ticdc-spark.{SCHEMA}.{TABLE}"
    for i, ((op, b, a), (k, v)) in enumerate(
            zip(ROWS, _rows(full, "key", "value"))):
        assert k["payload"] == {PK: (a or b)[0]}
        assert k["schema"]["name"] == f"{topic}.Key"
        p = v["payload"]
        assert (p["source"]["db"], p["source"]["table"]) == (SCHEMA, TABLE)
        assert (p["op"], p["before"], p["after"]) == (dbz_op[op], img(b),
                                                      img(a))
        s = v["schema"]
        assert s["name"] == f"{topic}.Envelope"
        assert s["fields"][0]["name"] == f"{topic}.Value"
        assert [f["field"] for f in s["fields"][1]["fields"]] == [PK, DBL,
                                                                  STR]
    (k, v), = _rows(encode_debezium_ddl(ddl), "key", "value")
    assert k == {"payload": {"databaseName": SCHEMA}}
    assert v == {"payload": {
        "source": _src(commit_ts=TS), "ts_ms": TS // 1000,
        "databaseName": SCHEMA, "schemaName": None, "ddl": DDL_SQL,
        "tableChanges": [{"type": "CREATE", "id": f'"{SCHEMA}"."{TABLE}"'}]}}


def test_avro_json(cl):
    from ticdc_spark.codec.avro_codec import encode_avro_json

    def rec(v):
        if v is None:
            return None
        i, d, s = v
        return {PK: {"long": i}, DBL: None if d is None else {"double": d},
                STR: None if s is None else {"string": s}}

    for i, ((op, b, a), (m,)) in enumerate(
            zip(ROWS, _rows(encode_avro_json(cl), "value"))):
        assert m == {"op": op, "commitTs": TS + i, "before": rec(b),
                     "after": rec(a)}


def test_redo_record(cl):
    from ticdc_spark.sinks.redo import redo_log_files

    for i, ((op, b, a), (m,)) in enumerate(
            zip(ROWS, _rows(redo_log_files(cl), "value"))):
        assert m == {"type": "row", "row": {
            "startTs": TS + i - 1, "commitTs": TS + i, "schema": SCHEMA,
            "table": TABLE, "columns": [_text(a)] if a else None,
            "preColumns": [_text(b)] if b else None}}


def test_claim_check_pointer(cl):
    from ticdc_spark.codec.simple_protocol import encode_simple
    from ticdc_spark.operators.large_message import with_claim_check

    ptrs = with_claim_check(encode_simple(cl), max_bytes=0)
    for i, (m,) in enumerate(_rows(ptrs, "value")):
        assert m == {"claimCheckLocation":
                     f"s3://claims/{SCHEMA}/{TABLE}/{TS + i}-{i}.json"}


def test_consumers_recover_hostile_names(cl):
    """Each ``PROTOCOLS`` record with a consumer encodes the hostile
    frame and decodes it back, typed by the frame's own image: the
    hostile schema, table and column names and every value return."""
    from ticdc_spark.pipeline import PROTOCOLS, ChangefeedConfig
    from ticdc_spark.sinks.storage import storage_paths

    cfg = ChangefeedConfig(tidb_extension=True)
    image = cl.schema["after"].dataType
    decoders = {p: r for p, r in PROTOCOLS.items() if r.decode is not None}
    assert sorted(decoders) == ["canal-json", "csv", "debezium",
                                "open-protocol", "simple"]
    for protocol, rec in decoders.items():
        msgs = rec.dml(cl, cfg)
        if protocol == "csv":  # the storage consumer reads the file layout
            msgs = storage_paths(msgs)
        got = sorted(
            (r.schema_name, r.table_name, r.op, r.commit_ts,
             r.before and tuple(r.before), r.after and tuple(r.after))
            for r in rec.decode(msgs, image).collect())
        want = []
        for i, (op, b, a) in enumerate(ROWS):
            if protocol == "open-protocol" and op == "I":
                op = "U"  # open-protocol upserts do not tell I from U
            if protocol == "csv" and op == "U":
                b = None  # csv updates carry no old image
            want.append((SCHEMA, TABLE, op, TS + i, b, a))
        assert got == sorted(want), protocol
