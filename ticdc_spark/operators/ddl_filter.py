"""F6/F7 — DDL classification, allow-list, and query-regex filtering.

Reference: 38 DDL action types handled by the schema store
(`logservice/schemastore/persist_storage_ddl_handlers.go:120-462`);
only allow-listed types pass to downstream (`pkg/filter/filter.go:183-259`,
``isAllowedDDL:253``, `pkg/filter/ddl.go`); `ignore-sql` regexes drop
DDLs by query text (`pkg/config/filter.go:40`).

The classifier is a keyword map over the normalized query text — a
single CASE column; the allow-list and regex filters are predicates on
the classified stream.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# DDL type vocabulary (subset of the reference's 38 actions, the ones a
# downstream must distinguish).
DDL_TYPES = [
    # specific forms first — an ADD COLUMN query also contains
    # "alter table" and must classify as the specific action
    ("add column", "add-column"),
    ("drop column", "drop-column"),
    ("add index", "add-index"),
    ("drop index", "drop-index"),
    ("create table", "create-table"),
    ("drop table", "drop-table"),
    ("truncate table", "truncate-table"),
    ("rename table", "rename-table"),
    ("alter table", "alter-table"),
    ("create schema", "create-schema"),
    ("drop schema", "drop-schema"),
]

DEFAULT_ALLOW = {
    "create-table", "add-column", "drop-column", "add-index", "drop-index",
    "truncate-table", "alter-table",
}

# TiDB `model.ActionType` codes for the classified kinds — the `t` field
# of open-protocol DDL messages (`open/decoder.go:150-153` messageDDL;
# action values are the public tidb parser/model enum).
TIDB_ACTION_TYPE = {
    "create-schema": 1,
    "drop-schema": 2,
    "create-table": 3,
    "drop-table": 4,
    "add-column": 5,
    "drop-column": 6,
    "add-index": 7,
    "drop-index": 8,
    "truncate-table": 11,
    "rename-table": 14,
    "alter-table": 0,   # generic/unknown alter → ActionNone
    "other": 0,
}


def classify_ddl(query_col: Column) -> Column:
    q = F.lower(query_col)
    expr: Column = F.lit("other")
    for kw, label in reversed(DDL_TYPES):
        expr = F.when(q.contains(kw), F.lit(label)).otherwise(expr)
    return expr


def apply_ddl_filter(
    ddl: DataFrame,
    allow: set[str] | None = None,
    ignore_sql: list[str] | None = None,
    query_col: str = "query",
) -> DataFrame:
    allow = allow if allow is not None else DEFAULT_ALLOW
    out = ddl.withColumn("ddl_type", classify_ddl(F.col(query_col)))
    out = out.filter(F.col("ddl_type").isin(sorted(allow)))
    for pat in ignore_sql or []:
        out = out.filter(~F.col(query_col).rlike(pat))
    return out
