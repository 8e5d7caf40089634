"""Query registry — every implemented operator exposed as a
(spark_fn, oracle_sql) pair for the driver's correctness gate.

Spark side composes the real operators from ``ticdc_spark.operators`` on
the canonical changelog (``sources/changelog.py``); the oracle side is
the same computation in ANSI SQL over the DuckDB views, sharing the
``CHANGELOG_SQL`` CTE so both derive from identical inputs. Column names
are aliased identically on both sides (driver hashes sorted-by-name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ticdc_spark.operators import (
    apply_event_filters,
    apply_expr_filter,
    apply_table_filter,
    compact_changelog,
    delete_handle_key_only,
    only_updated_columns,
    route,
    select_columns,
    split_updates,
    with_row_checksum,
)
from ticdc_spark.operators.table_filter import oracle_predicate_sql
from ticdc_spark.sources.changelog import (
    CHANGELOG_SQL,
    events_changelog,
    flat_changelog,
    scale_out,
)

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}
# How bench.py times a benched query (unbenched queries are absent):
# - "plan": the query function only plans; time the noop write alone.
# - "build": real work (an iterative trainer or convergence loop) runs at
#   construction; time construction plus write.
# - "endpoint": construction produces/applies through an in-process
#   protocol endpoint; time both, and skip the query at 10x, where the
#   number would measure that single-host stand-in, not the Spark plan.
BENCH: dict[str, str] = {}
BENCH_TAGS = ("plan", "build", "endpoint")

FLAT_COLS = [
    "schema_name", "table_name", "table_id", "op", "commit_ts", "start_ts",
    "seq", "dml_order", "pk", "before_id", "before_val", "before_k",
    "after_id", "after_val", "after_k",
]

_FLAT_SELECT = ", ".join(FLAT_COLS)


def _flatten(cl: DataFrame, extra: list | None = None) -> DataFrame:
    cols = [
        "schema_name", "table_name", "table_id", "op", "commit_ts",
        "start_ts", "seq", "dml_order", "pk",
        F.col("before.id").alias("before_id"),
        F.col("before.val").alias("before_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.id").alias("after_id"),
        F.col("after.val").alias("after_val"),
        F.col("after.k").alias("after_k"),
    ]
    return cl.select(*(cols + (extra or [])))


def register(name: str, oracle: str | None, bench: str | None = None):
    if bench is not None and bench not in BENCH_TAGS:
        raise ValueError(f"{name}: bench tag {bench!r} not in {BENCH_TAGS}")

    def deco(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        if bench is not None:
            BENCH[name] = bench
        return fn

    return deco


# ---------------------------------------------------------------------------
# S6/S7 — mount: the changelog derivation itself
# ---------------------------------------------------------------------------
@register(
    "changelog_mount",
    f"WITH {CHANGELOG_SQL} SELECT {_FLAT_SELECT} FROM changelog",
    bench="plan",
)
def q_changelog_mount(spark: SparkSession, sf_dir: str) -> DataFrame:
    return flat_changelog(spark, sf_dir)


# ---------------------------------------------------------------------------
# S7 — BINARY mounter: TiDB row-format v1/v2 decode
# (`pkg/common/event/mounter.go:44-151`, sources/binary_mount.py)
# ---------------------------------------------------------------------------
_BINARY_FLAT = (
    "table_id, pk, op, commit_ts, start_ts, seq, before_id, before_val, "
    "before_k, after_id, after_val, after_k"
)


@register(
    "mount_binary_rows",
    f"WITH {CHANGELOG_SQL} SELECT {_BINARY_FLAT} FROM changelog",
    bench="plan",
)
def q_mount_binary_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The changelog is serialized into real RawKV frames (record keys +
    row-format v1/v2 binary images, every 4th row v1) and mounted back —
    the oracle is the identity projection, so any decode drift (offsets,
    comparable floats, varints, null maps, key handles) hash-fails."""
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    raw = synthesize_binary_changelog(flat_changelog(spark, sf_dir))
    return mount_binary_rows(raw)


# ---------------------------------------------------------------------------
# charset fidelity — GBK column through the binary wire
# (`pkg/common/column.go:25-36` per-column charset;
#  reference e2e `tests/integration_tests/charset_gbk/`)
# ---------------------------------------------------------------------------
_ZH = ["中文数据", "测试", "汉字编码", "GBK兼容"]
_ZH_CASE = ("CASE CAST(pk % 4 AS INT) "
            + " ".join(f"WHEN {i} THEN '{s}'" for i, s in enumerate(_ZH))
            + " END")


@register(
    "charset_gbk_mount",
    f"WITH {CHANGELOG_SQL} SELECT pk, seq, op, {_ZH_CASE} AS txt "
    "FROM changelog",
    bench="plan",
)
def q_charset_gbk_mount(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A gbk-charset string column rides the binary wire in its OWN
    encoding ('中' = d6d0 on the wire, not utf-8 e4b8ad) and mounts back
    to a UTF-8 Spark string — byte-level fidelity is pinned by pytest
    (test_rowcodec.py); this query pins the end-to-end value path."""
    from pyspark.sql import functions as F

    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    cl = flat_changelog(spark, sf_dir)
    zh = F.element_at(
        F.array(*[F.lit(s) for s in _ZH]),
        (F.col("pk") % 4 + 1).cast("int"),
    )
    src = cl.select(
        "table_id", "pk", "op", "commit_ts", "start_ts", "seq",
        zh.alias("before_txt"), zh.alias("after_txt"),
    )
    cols = ({"id": 1, "name": "txt", "type": "string", "charset": "gbk"},)
    mounted = mount_binary_rows(synthesize_binary_changelog(src, cols), cols)
    return mounted.select(
        "pk", "seq", "op",
        F.coalesce("after_txt", "before_txt").alias("txt"),
    )


# ---------------------------------------------------------------------------
# S7 — JSON column through the binary wire (TiDB binary JSON,
# `codec/binary_json.py`; the reference mounter hands JSON column bytes
# to TiDB's json lib — `pkg/common/event/mounter.go` via rowcodec).
# Fixtures cover object / array / scalar / nested+unicode; text parses
# to the doc, the wire carries typeCode+value, mount re-renders.  Every
# 4th row rides the v1 datum list (JSONFlag=10), the rest rowcodec v2.
# ---------------------------------------------------------------------------
def _json_fixture_texts() -> list[str]:
    from ticdc_spark.codec.binary_json import render_json

    return [render_json(d) for d in (
        {"a": 1, "b": [True, None], "cc": "x"},          # object
        [1, 2.5, "s", {"k": None}],                      # array
        42,                                              # scalar
        {"s": "中文", "outer": {"f": 0.5,                # nested
                                "inner": [1, [2, 3]]}},
    )]


_JSON_CASE = ("CASE CAST(pk % 4 AS INT) "
              + " ".join(f"WHEN {i} THEN '{t}'"
                         for i, t in enumerate(_json_fixture_texts()))
              + " END")


@register(
    "mount_binary_json",
    f"WITH {CHANGELOG_SQL} SELECT pk, seq, op, {_JSON_CASE} AS j "
    "FROM changelog",
    bench="plan",
)
def q_mount_binary_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON column values ride the binary wire in TiDB's binary JSON
    format (object keys re-sorted by (len, bytes), literals inlined in
    value entries) and mount back to the MySQL-style text rendering —
    byte-level layout is pinned by tests/test_rowcodec.py; this
    query pins the end-to-end mount path on both row formats."""
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    cl = flat_changelog(spark, sf_dir)
    j = F.element_at(
        F.array(*[F.lit(t) for t in _json_fixture_texts()]),
        (F.col("pk") % 4 + 1).cast("int"),
    )
    src = cl.select(
        "table_id", "pk", "op", "commit_ts", "start_ts", "seq",
        j.alias("before_j"), j.alias("after_j"),
    )
    cols = ({"id": 1, "name": "j", "type": "json"},)
    mounted = mount_binary_rows(synthesize_binary_changelog(src, cols), cols)
    return mounted.select(
        "pk", "seq", "op",
        F.coalesce("after_j", "before_j").alias("j"),
    )


# ---------------------------------------------------------------------------
# F1 — wildcard table filter (last match wins)
# ---------------------------------------------------------------------------
_F1_RULES = ["*.*", "!test.tp_view", "!test.tp_c*", "test.tp_click"]


@register(
    "table_filter",
    f"WITH {CHANGELOG_SQL} SELECT {_FLAT_SELECT} FROM changelog "
    f"WHERE {oracle_predicate_sql(_F1_RULES)}",
)
def q_table_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_table_filter(flat_changelog(spark, sf_dir), _F1_RULES)


# ---------------------------------------------------------------------------
# F2/F4 — event-type filter scoped by matcher
# ---------------------------------------------------------------------------
_F2_RULES = [
    {"matcher": ["test.tp_*"], "ignore-event": ["delete"]},
    {"matcher": ["test.tp_click"], "ignore-event": ["update"]},
]


def _f2_oracle() -> str:
    drops = []
    for r in _F2_RULES:
        scope = oracle_predicate_sql(r["matcher"])
        ops = {"insert": "I", "update": "U", "delete": "D"}
        lst = ", ".join(f"'{ops[e]}'" for e in r["ignore-event"])
        drops.append(f"(({scope}) AND op IN ({lst}))")
    return (
        f"WITH {CHANGELOG_SQL} SELECT {_FLAT_SELECT} FROM changelog "
        f"WHERE NOT ({' OR '.join(drops)})"
    )


ORACLES["event_type_filter"] = _f2_oracle()


@register("event_type_filter", None)
def q_event_type_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    return apply_event_filters(flat_changelog(spark, sf_dir), _F2_RULES)


# ---------------------------------------------------------------------------
# F3 — SQL expression filter (F.expr = Catalyst as the expression engine)
# ---------------------------------------------------------------------------
_F3_SCOPE = oracle_predicate_sql(["test.tp_*"])


@register(
    "expr_filter",
    f"WITH {CHANGELOG_SQL} SELECT {_FLAT_SELECT} FROM changelog "
    f"WHERE NOT (({_F3_SCOPE}) AND ((op = 'I' AND after_val > 150.0) "
    f"OR (op = 'U' AND before_k < 10)))",
)
def q_expr_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = events_changelog(spark, sf_dir)
    out = apply_expr_filter(
        cl,
        ["test.tp_*"],
        ["id", "val", "k"],
        ignore_insert_value_expr="val > 150.0",
        ignore_update_old_value_expr="k < 10",
    )
    return _flatten(out)


# ---------------------------------------------------------------------------
# F4 — ignore-txn-start-ts (`pkg/filter/filter.go:244-251`): drop every
# event of specific transactions, identified by their start_ts — the
# reference's escape hatch for replaying around a known-bad txn.
# ---------------------------------------------------------------------------
_F4_SCOPE = ["test.tp_*"]
_F4_N = 5  # ignore the N earliest transactions (deterministic at any SF)


@register(
    "ignore_txn_start_ts_filter",
    f"WITH {CHANGELOG_SQL} SELECT {_FLAT_SELECT} FROM changelog "
    f"WHERE NOT (({oracle_predicate_sql(_F4_SCOPE)}) AND start_ts IN ("
    f"SELECT DISTINCT start_ts FROM changelog ORDER BY start_ts LIMIT {_F4_N}))",
)
def q_ignore_txn_start_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The config carries LITERAL start_ts values (the user names the txns
    to skip); here the literals are the N earliest distinct txns so the
    query has positive support at every SF. The lookup is a tiny metadata
    collect at plan-build (N values), not a data-path collect."""
    cl = flat_changelog(spark, sf_dir)
    ts_list = [
        r["start_ts"]
        for r in cl.select("start_ts").distinct()
        .orderBy("start_ts").limit(_F4_N).collect()
    ]
    rules = [{"matcher": _F4_SCOPE, "ignore-txn-start-ts": ts_list}]
    return apply_event_filters(cl, rules)


# ---------------------------------------------------------------------------
# P2 — update split on handle-key change
# ---------------------------------------------------------------------------
_P2_ORACLE = f"""
WITH {CHANGELOG_SQL},
split AS (
    SELECT schema_name, table_name, table_id, op, commit_ts, start_ts, seq,
           dml_order, pk, before_id, before_val, before_k,
           after_id, after_val, after_k
    FROM changelog
    WHERE NOT (op = 'U' AND before_id <> after_id)
    UNION ALL
    SELECT schema_name, table_name, table_id, 'D', commit_ts, start_ts, seq,
           1, pk, before_id, before_val, before_k,
           NULL, NULL, NULL
    FROM changelog WHERE op = 'U' AND before_id <> after_id
    UNION ALL
    SELECT schema_name, table_name, table_id, 'I', commit_ts, start_ts, seq,
           3, pk, NULL, NULL, NULL,
           after_id, after_val, after_k
    FROM changelog WHERE op = 'U' AND before_id <> after_id
)
SELECT {_FLAT_SELECT} FROM split
"""


@register("update_split", _P2_ORACLE, bench="plan")
def q_update_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _flatten(split_updates(events_changelog(spark, sf_dir)))


# ---------------------------------------------------------------------------
# A1 — changelog compaction (6-case fold)
# ---------------------------------------------------------------------------
_A1_ORACLE = f"""
WITH {CHANGELOG_SQL},
g AS (
    SELECT schema_name, table_name, table_id, pk,
           count(*) AS n_events,
           max(commit_ts) AS last_ts,
           arg_min(op, commit_ts) AS first_op,
           arg_max(op, commit_ts) AS last_op,
           arg_min(before_id, commit_ts) AS fb_id,
           arg_min(before_val, commit_ts) AS fb_val,
           arg_min(before_k, commit_ts) AS fb_k,
           arg_max(after_id, commit_ts) AS la_id,
           arg_max(after_val, commit_ts) AS la_val,
           arg_max(after_k, commit_ts) AS la_k
    FROM changelog WHERE op IN ('I', 'U', 'D')
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
       CASE WHEN net_op IN ('U', 'D') THEN fb_id END AS before_id,
       CASE WHEN net_op IN ('U', 'D') THEN fb_val END AS before_val,
       CASE WHEN net_op IN ('U', 'D') THEN fb_k END AS before_k,
       CASE WHEN net_op IN ('I', 'U') THEN la_id END AS after_id,
       CASE WHEN net_op IN ('I', 'U') THEN la_val END AS after_val,
       CASE WHEN net_op IN ('I', 'U') THEN la_k END AS after_k
FROM n WHERE net_op IS NOT NULL
"""


@register("compaction", _A1_ORACLE, bench="plan")
def q_compaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    out = compact_changelog(events_changelog(spark, sf_dir))
    return out.select(
        "schema_name", "table_name", "table_id", "pk", "net_op", "n_events",
        "commit_ts",
        F.col("before.id").alias("before_id"),
        F.col("before.val").alias("before_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.id").alias("after_id"),
        F.col("after.val").alias("after_val"),
        F.col("after.k").alias("after_k"),
    )


# ---------------------------------------------------------------------------
# O1/O2 — replay ordering (rank column)
# ---------------------------------------------------------------------------
@register(
    "ordering",
    f"WITH {CHANGELOG_SQL} SELECT table_id, seq, commit_ts, "
    "row_number() OVER (PARTITION BY table_id "
    "ORDER BY commit_ts, start_ts, dml_order, seq) AS sort_rank "
    "FROM changelog",
    bench="plan",
)
def q_ordering(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = flat_changelog(spark, sf_dir)
    w = Window.partitionBy("table_id").orderBy("commit_ts", "start_ts", "dml_order", "seq")
    return cl.select(
        "table_id", "seq", "commit_ts",
        F.row_number().over(w).cast("long").alias("sort_rank"),
    )


# ---------------------------------------------------------------------------
# A2 — checkpoint/resolved-ts aggregation (min over dispatcher watermarks)
# ---------------------------------------------------------------------------
@register(
    "checkpoint_ts",
    f"WITH {CHANGELOG_SQL} SELECT table_name, "
    "min(commit_ts) AS min_commit_ts, max(commit_ts) AS resolved_ts, "
    "count(*) AS n_rows FROM changelog GROUP BY table_name",
)
def q_checkpoint_ts(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (
        flat_changelog(spark, sf_dir)
        .groupBy("table_name")
        .agg(
            F.min("commit_ts").alias("min_commit_ts"),
            F.max("commit_ts").alias("resolved_ts"),
            F.count(F.lit(1)).alias("n_rows"),
        )
    )


# ---------------------------------------------------------------------------
# W2 — syncpoint (tumbling alignment every interval, rounded UP like
# CalculateStartSyncPointTs, syncpoint.go:28-39)
# ---------------------------------------------------------------------------
_SYNC_INTERVAL = 3_600_000_000  # 1h in µs


@register(
    "syncpoint",
    f"WITH {CHANGELOG_SQL} SELECT table_name, "
    f"(commit_ts - commit_ts % {_SYNC_INTERVAL}) + {_SYNC_INTERVAL} AS syncpoint_ts, "
    "count(*) AS n_rows, max(commit_ts) AS max_commit_ts "
    "FROM changelog GROUP BY 1, 2",
)
def q_syncpoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = flat_changelog(spark, sf_dir)
    sp = (F.col("commit_ts") - F.col("commit_ts") % _SYNC_INTERVAL) + _SYNC_INTERVAL
    return (
        cl.withColumn("syncpoint_ts", sp)
        .groupBy("table_name", "syncpoint_ts")
        .agg(F.count(F.lit(1)).alias("n_rows"), F.max("commit_ts").alias("max_commit_ts"))
    )


# ---------------------------------------------------------------------------
# P1 — column selector (drop k on tp_click; unified-schema semantics:
# dropped field renders NULL)
# ---------------------------------------------------------------------------
_P1_SCOPE = oracle_predicate_sql(["test.tp_click"])


@register(
    "column_selector",
    f"WITH {CHANGELOG_SQL} SELECT schema_name, table_name, op, seq, pk, "
    "before_id, after_id, before_val, after_val, "
    f"CASE WHEN ({_P1_SCOPE}) THEN NULL ELSE before_k END AS before_k, "
    f"CASE WHEN ({_P1_SCOPE}) THEN NULL ELSE after_k END AS after_k "
    "FROM changelog",
)
def q_column_selector(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = events_changelog(spark, sf_dir)
    out = select_columns(cl, [{"matcher": ["test.tp_click"], "columns": ["id", "val"]}])
    return out.select(
        "schema_name", "table_name", "op", "seq", "pk",
        F.col("before.id").alias("before_id"),
        F.col("after.id").alias("after_id"),
        F.col("before.val").alias("before_val"),
        F.col("after.val").alias("after_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.k").alias("after_k"),
    )


# ---------------------------------------------------------------------------
# P3 — only-output-updated-columns (null unchanged before-fields on U)
# ---------------------------------------------------------------------------
@register(
    "updated_columns_projection",
    f"WITH {CHANGELOG_SQL} SELECT schema_name, table_name, op, seq, pk, "
    "CASE WHEN op = 'U' AND before_id IS NOT DISTINCT FROM after_id "
    "THEN NULL ELSE before_id END AS before_id, "
    "CASE WHEN op = 'U' AND before_val IS NOT DISTINCT FROM after_val "
    "THEN NULL ELSE before_val END AS before_val, "
    "CASE WHEN op = 'U' AND before_k IS NOT DISTINCT FROM after_k "
    "THEN NULL ELSE before_k END AS before_k, "
    "after_id, after_val, after_k FROM changelog",
)
def q_updated_columns_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = only_updated_columns(events_changelog(spark, sf_dir))
    return cl.select(
        "schema_name", "table_name", "op", "seq", "pk",
        F.col("before.id").alias("before_id"),
        F.col("before.val").alias("before_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.id").alias("after_id"),
        F.col("after.val").alias("after_val"),
        F.col("after.k").alias("after_k"),
    )


# ---------------------------------------------------------------------------
# P4 — delete-only-output-handle-key
# ---------------------------------------------------------------------------
@register(
    "delete_handle_key_only",
    f"WITH {CHANGELOG_SQL} SELECT schema_name, table_name, op, seq, pk, "
    "before_id, "
    "CASE WHEN op = 'D' THEN NULL ELSE before_val END AS before_val, "
    "CASE WHEN op = 'D' THEN NULL ELSE before_k END AS before_k, "
    "after_id, after_val, after_k FROM changelog",
)
def q_delete_handle_key_only(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = delete_handle_key_only(events_changelog(spark, sf_dir))
    return cl.select(
        "schema_name", "table_name", "op", "seq", "pk",
        F.col("before.id").alias("before_id"),
        F.col("before.val").alias("before_val"),
        F.col("before.k").alias("before_k"),
        F.col("after.id").alias("after_id"),
        F.col("after.val").alias("after_val"),
        F.col("after.k").alias("after_k"),
    )


# ---------------------------------------------------------------------------
# R1-R6 — routing: topic template + ts / index-value partitioners
# ---------------------------------------------------------------------------
_MD5_32_SQL = "(('0x' || substr(md5({key}), 1, 8))::BIGINT)"
_R_SCOPE_SIGNUP = oracle_predicate_sql(["test.tp_signup"])
_R_KEY = "coalesce(after_id, before_id)::VARCHAR"


@register(
    "routing",
    f"WITH {CHANGELOG_SQL} SELECT seq, table_name, "
    f"CASE WHEN ({_R_SCOPE_SIGNUP}) THEN 'signup_topic' "
    "ELSE 'cdc_' || schema_name || '_' || table_name END AS topic, "
    f"CAST(CASE WHEN ({_R_SCOPE_SIGNUP}) THEN commit_ts % 16 "
    f"ELSE {_MD5_32_SQL.format(key=_R_KEY)} % 16 END AS INTEGER) AS partition "
    "FROM changelog",
    bench="plan",
)
def q_routing(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = events_changelog(spark, sf_dir)
    out = route(
        cl,
        [
            {"matcher": ["test.tp_signup"], "partition": "ts", "topic": "signup_topic"},
            {"matcher": ["test.tp_*"], "partition": "index-value",
             "topic": "cdc_{schema}_{table}"},
        ],
        n_partitions=16,
    )
    return out.select("seq", "table_name", "topic", "partition")


# ---------------------------------------------------------------------------
# P5 — integrity row checksum
# ---------------------------------------------------------------------------
_CK_AFTER = (
    "coalesce(after_id::VARCHAR, '\\N') || '|' || "
    "coalesce(printf('%.6f', after_val), '\\N') || '|' || "
    "coalesce(after_k::VARCHAR, '\\N')"
)
_CK_BEFORE = (
    "coalesce(before_id::VARCHAR, '\\N') || '|' || "
    "coalesce(printf('%.6f', before_val), '\\N') || '|' || "
    "coalesce(before_k::VARCHAR, '\\N')"
)


@register(
    "row_checksum",
    f"WITH {CHANGELOG_SQL} SELECT seq, op, "
    f"md5(CASE WHEN op <> 'D' THEN {_CK_AFTER} ELSE {_CK_BEFORE} END) AS checksum "
    "FROM changelog",
)
def q_row_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    cl = with_row_checksum(scale_out(events_changelog(spark, sf_dir)))
    return cl.select("seq", "op", "checksum")


# ---------------------------------------------------------------------------
# Changefeed replication window (StartTs/TargetTs,
# `pkg/config/changefeed.go:252-281`): rows at commit_ts <= start-ts are
# already replicated, target-ts bounds the feed.  Bounds here are the
# middle third of the commit-ts range (integer thirds — exact on both
# engines); the cut points are collected plan-time scalars, the same
# metadata class as an IVF codebook.
# ---------------------------------------------------------------------------
@register(
    "changefeed_window",
    f"WITH {CHANGELOG_SQL}, b AS ("
    "  SELECT min(commit_ts) + (max(commit_ts) - min(commit_ts)) // 3 AS lo,"
    "         min(commit_ts) + 2 * ((max(commit_ts) - min(commit_ts)) // 3)"
    "         AS hi FROM changelog) "
    f"SELECT {_FLAT_SELECT} FROM changelog, b "
    "WHERE commit_ts > lo AND commit_ts <= hi",
)
def q_changefeed_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.pipeline import (
        ChangefeedConfig,
        apply_replication_window,
    )

    cl = events_changelog(spark, sf_dir)
    mn, mx = cl.agg(F.min("commit_ts"), F.max("commit_ts")).collect()[0]
    lo = mn + (mx - mn) // 3
    hi = mn + 2 * ((mx - mn) // 3)
    cfg = ChangefeedConfig(start_ts=lo, target_ts=hi)
    return _flatten(apply_replication_window(cl, cfg))


# ---------------------------------------------------------------------------
# S7 — schema-evolution default fill: rows captured BEFORE an ADD
# COLUMN carry no id for the new column in their binary images; the
# mounter fills the schema DEFAULT, not NULL (`mounter.go:257-264`).
# Old rows encode under the pre-DDL column set, new rows under the
# post-DDL set; the oracle derives the expectation independently from
# the commit-ts split.
# ---------------------------------------------------------------------------
_DEFAULT_FILL_ORACLE = f"""
WITH {CHANGELOG_SQL},
b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS t FROM changelog)
SELECT table_id, pk, op, commit_ts, seq,
       CASE WHEN op IN ('U', 'D') THEN
            CASE WHEN commit_ts <= t THEN CAST(42 AS BIGINT)
                 ELSE pk % 100 END END AS before_val2,
       CASE WHEN op IN ('I', 'U') THEN
            CASE WHEN commit_ts <= t THEN CAST(42 AS BIGINT)
                 ELSE pk % 100 END END AS after_val2
FROM changelog, b
"""


@register("mount_default_fill", _DEFAULT_FILL_ORACLE)
def q_mount_default_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.sources.binary_mount import (
        PAYLOAD_COLUMNS,
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    val2_enc = {"id": 4, "name": "val2", "type": "bigint"}
    val2_mnt = {"id": 4, "name": "val2", "type": "bigint", "default": 42}
    cl = flat_changelog(spark, sf_dir)
    bounds = cl.agg(F.expr(
        "(min(commit_ts) + max(commit_ts)) div 2").alias("t"))
    cl2 = cl.crossJoin(F.broadcast(bounds))
    old = cl2.filter(F.col("commit_ts") <= F.col("t")).drop("t")
    new = (
        cl2.filter(F.col("commit_ts") > F.col("t")).drop("t")
        .withColumn("before_val2", (F.col("pk") % 100).cast("long"))
        .withColumn("after_val2", (F.col("pk") % 100).cast("long"))
    )
    raw = synthesize_binary_changelog(
        old, columns=PAYLOAD_COLUMNS,
    ).unionByName(synthesize_binary_changelog(
        new, columns=PAYLOAD_COLUMNS + (val2_enc,)))
    mounted = mount_binary_rows(
        raw, columns=PAYLOAD_COLUMNS + (val2_mnt,))
    return mounted.select(
        "table_id", "pk", "op", "commit_ts", "seq",
        "before_val2", "after_val2")


# ---------------------------------------------------------------------------
# S7 — clustered-PK handle fill + NOT-NULL zero fill
# (`pkg/common/event/chunk.go:134-161` tryDecodeFromHandle, `:182-238`
# getDefaultOrZeroValue): a clustered PK is not repeated in the row
# value — the mounter recovers it from the record-key handle; a
# NOT-NULL column with no default fills the type zero value.
# ---------------------------------------------------------------------------
_HANDLE_FILL_ORACLE = f"""
WITH {CHANGELOG_SQL}
SELECT table_id, pk, op, commit_ts, seq,
       CASE WHEN op IN ('U', 'D') THEN pk END AS before_hid,
       CASE WHEN op IN ('I', 'U') THEN pk END AS after_hid,
       CASE WHEN op IN ('U', 'D') THEN CAST(0 AS BIGINT) END AS before_znn,
       CASE WHEN op IN ('I', 'U') THEN CAST(0 AS BIGINT) END AS after_znn,
       CASE WHEN op IN ('U', 'D') THEN '' END AS before_zs,
       CASE WHEN op IN ('I', 'U') THEN '' END AS after_zs
FROM changelog
"""


@register("mount_handle_fill", _HANDLE_FILL_ORACLE, bench="plan")
def q_mount_handle_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    # encode ONLY the val column: the handle column and the two
    # NOT-NULL columns are absent from every image
    enc_cols = ({"id": 2, "name": "val", "type": "double"},)
    mnt_cols = (
        {"id": 9, "name": "hid", "type": "bigint", "handle": True},
        {"id": 2, "name": "val", "type": "double"},
        {"id": 10, "name": "znn", "type": "bigint", "not_null": True},
        {"id": 11, "name": "zs", "type": "string", "not_null": True},
    )
    cl = flat_changelog(spark, sf_dir)
    raw = synthesize_binary_changelog(cl, columns=enc_cols)
    mounted = mount_binary_rows(raw, columns=mnt_cols)
    return mounted.select(
        "table_id", "pk", "op", "commit_ts", "seq",
        "before_hid", "after_hid", "before_znn", "after_znn",
        "before_zs", "after_zs")


# Extension registries (import at bottom so `register` exists; they add
# themselves to QUERIES/ORACLES).
from ticdc_spark import llm_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import sink_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import typed_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import ddl_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import diff_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import metrics_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import corpus_queries  # noqa: E402,F401  isort:skip
from ticdc_spark import web_queries  # noqa: E402,F401  isort:skip


# ---------------------------------------------------------------------------
# S7 — VECTOR column through the binary wire (TiDB VectorFloat32,
# `types/vector.go` u32-count + f32 elements; the reference mounts it via
# rowcodec like any datum — `pkg/common/event/codec.go:212` — and renders
# the String() text downstream). Every 4th row rides the v1 datum list
# (vectorFloat32Flag=20), the rest rowcodec v2.
# ---------------------------------------------------------------------------
def _vector_fixture_texts() -> list[str]:
    from ticdc_spark.codec.rowcodec import decode_value, encode_value

    # generated THROUGH the codec so text rendering can't drift
    return [decode_value(encode_value(v, "vector"), "vector") for v in (
        [1.5, -2.25, 0.125],
        [0.5],
        [],
        [3.75, 0.0078125, -0.5, 2.0],
    )]


_VEC_CASE = ("CASE CAST(pk % 4 AS INT) "
             + " ".join(f"WHEN {i} THEN '{t}'"
                        for i, t in enumerate(_vector_fixture_texts()))
             + " END")


@register(
    "mount_binary_vector",
    f"WITH {CHANGELOG_SQL} SELECT pk, seq, op, {_VEC_CASE} AS vec "
    "FROM changelog",
    bench="plan",
)
def q_mount_binary_vector(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ticdc_spark.sources.binary_mount import (
        mount_binary_rows,
        synthesize_binary_changelog,
    )

    cl = flat_changelog(spark, sf_dir)
    vec = F.element_at(
        F.array(*[F.lit(t) for t in _vector_fixture_texts()]),
        (F.col("pk") % 4 + 1).cast("int"),
    )
    src = cl.select(
        "table_id", "pk", "op", "commit_ts", "start_ts", "seq",
        vec.alias("before_vec"), vec.alias("after_vec"),
    )
    cols = ({"id": 1, "name": "vec", "type": "vector"},)
    mounted = mount_binary_rows(synthesize_binary_changelog(src, cols), cols)
    return mounted.select(
        "pk", "seq", "op",
        F.coalesce("after_vec", "before_vec").alias("vec"),
    )
