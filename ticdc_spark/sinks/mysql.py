"""K1 — MySQL/TiDB sink: SQL generation, safe mode, and state
materialization (SURVEY §2.11).

Reference: single-row builders `pkg/sink/mysql/sql_builder.go:155-258`
(INSERT / REPLACE / UPDATE / DELETE), multi-row batching
`pkg/sink/sqlmodel/multi_row.go:49-147`, safe-mode REPLACE upserts when
``commitTs < replicatingTs`` (`basic_dispatcher.go:156-161`), per-PK
write serialization via conflict slots
(`downstreamadapter/sink/mysql/causality/conflict_detector.go:30-141`).

Spark-first:

- ``sql_for_rows`` renders the dialect SQL as a string column — pure
  concat, oracle-reproducible, and exactly what a foreachBatch JDBC
  writer would executemany.
- ``materialize_state`` IS the differential-replication oracle: apply
  the changelog (post update-split) per sink key and keep the last
  surviving image. One shuffle (groupBy key, map-side partials) — the
  compaction fold specialized to "last write wins + delete kills".
- Conflict-slot parallelism (A4) falls out of ``repartition(hash(key))``
  before the write: per-partition serial, cross-partition parallel.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ticdc_spark.functions.render import render_scalar


def _sql_value(col: Column, dtype) -> Column:
    """Render one SQL literal: numbers bare, strings quoted('' doubling),
    NULL literal."""
    from pyspark.sql.types import StringType

    rendered = render_scalar(col, dtype)
    if isinstance(dtype, StringType):
        rendered = F.concat(
            F.lit("'"), F.replace(rendered, F.lit("'"), F.lit("''")), F.lit("'")
        )
    return F.coalesce(rendered, F.lit("NULL"))


def batchable_by_handle_key(
    pk_fields: tuple[str, ...],
    virtual_generated_columns: frozenset[str] = frozenset(),
) -> bool:
    """Mirror of ``shouldGenBatchSQL`` rule 3
    (`pkg/sink/mysql/mysql_writer_dml.go:128-152`): batch SQL groups rows
    by pk/uk, but a VIRTUAL generated column's value is computed from
    other columns and isn't guaranteed stable for the same key — so a
    handle key containing one disables multirow batching (the writer
    falls back to the per-row builders)."""
    return not any(k.lower() in virtual_generated_columns for k in pk_fields)


def sql_for_rows(cl: DataFrame, safe_mode: bool = False,
                 pk_fields: tuple[str, ...] = ("id",),
                 generated_columns: frozenset[str] = frozenset()) -> DataFrame:
    """Append a ``stmt`` column with the per-row dialect SQL
    (sql_builder.go:155-258; safe-mode REPLACE per
    basic_dispatcher.go:156-161).

    ``generated_columns`` (lower-cased names) is the target table's
    generated-column set (`pkg/sink/sqlmodel/utils.go:55`
    generatedColumnsNameSet): those columns are SKIPPED in INSERT/REPLACE
    column lists + VALUES (`multi_row.go:124-127`) and in UPDATE SET
    (`row_change.go:299-304`) — MySQL rejects writing a non-DEFAULT value
    into one (error 3105) — but they still serve in WHERE: a conflict key
    over a STORED generated column compares against the mounted image's
    value (reference e2e ``conflict_key_generated_column``)."""
    schema = cl.schema["after"].dataType
    write_fields = [f for f in schema.fields
                    if f.name.lower() not in generated_columns]
    tbl = F.concat(F.lit("`"), F.col("schema_name"), F.lit("`.`"),
                   F.col("table_name"), F.lit("`"))
    col_list = ", ".join(f"`{f.name}`" for f in write_fields)

    def values(image: str) -> Column:
        parts: list[Column] = []
        for i, f in enumerate(write_fields):
            if i:
                parts.append(F.lit(", "))
            parts.append(_sql_value(F.col(f"{image}.{f.name}"), f.dataType))
        return F.concat(*parts)

    def where(image: str) -> Column:
        parts: list[Column] = []
        for i, k in enumerate(pk_fields):
            if i:
                parts.append(F.lit(" AND "))
            parts.append(F.lit(f"`{k}` = "))
            parts.append(_sql_value(F.col(f"{image}.{k}"), schema[k].dataType))
        return F.concat(*parts)

    def set_clause() -> Column:
        parts: list[Column] = []
        for i, f in enumerate(write_fields):
            if i:
                parts.append(F.lit(", "))
            parts.append(F.lit(f"`{f.name}` = "))
            parts.append(_sql_value(F.col(f"after.{f.name}"), schema[f.name].dataType))
        return F.concat(*parts)

    insert_kw = "REPLACE" if safe_mode else "INSERT"
    insert_stmt = F.concat(
        F.lit(f"{insert_kw} INTO "), tbl, F.lit(f" ({col_list}) VALUES ("),
        values("after"), F.lit(")"),
    )
    update_stmt = (
        insert_stmt  # safe mode applies updates as REPLACE too
        if safe_mode
        else F.concat(F.lit("UPDATE "), tbl, F.lit(" SET "), set_clause(),
                      F.lit(" WHERE "), where("before"))
    )
    delete_stmt = F.concat(F.lit("DELETE FROM "), tbl, F.lit(" WHERE "), where("before"))
    stmt = (
        F.when(F.col("op") == "I", insert_stmt)
        .when(F.col("op") == "U", update_stmt)
        .otherwise(delete_stmt)
    )
    return cl.withColumn("stmt", stmt)


def multirow_batches(
    compacted: DataFrame,
    max_txn_row: int = 256,
    pk_fields: tuple[str, ...] = ("id",),
    generated_columns: frozenset[str] = frozenset(),
    virtual_generated_columns: frozenset[str] = frozenset(),
    max_multi_update_row: int = 40,
    max_multi_update_row_size: int = 1024,
) -> DataFrame:
    """Cross-event batch SQL (`pkg/sink/sqlmodel/multi_row.go:49-147`,
    reached from the compacted flush in `mysql_writer_dml_batch.go`):
    after the A1 fold, per (table, statement kind) the rows are chunked
    at ``MaxTxnRow`` (default 256, `pkg/sink/mysql/config.go:49`) and
    emitted as ONE statement per chunk:

    - net I → ``INSERT INTO t (cols) VALUES (...),(...)``      (GenInsertSQL)
    - net D → ``DELETE FROM t WHERE (pk) IN ((..),(..))``      (genDeleteSQLV1)
    - net U → ``UPDATE t SET c = CASE WHEN <where> THEN v ... END, ...
      WHERE (pk) IN (...)``                                    (genUpdateSQLV2)

    Input is ``compact_changelog`` output (net_op/before/after). Chunks
    are ordered by pk so the batch content is deterministic; within a
    chunk order is irrelevant (one row per key post-fold). Plan: one
    window shuffle on (table, kind) for row numbering, then a partial+
    final string agg — the same exchange a JDBC writer's
    ``repartition(hash(pk))`` needs anyway.

    UPDATE batching caps ([sink.mysql-config] / sink-URI,
    `pkg/sink/mysql/config.go:51-65`): UPDATE chunks close at
    ``max_multi_update_row`` (default 40, vs MaxTxnRow for I/D,
    `mysql_writer_dml_batch.go:575-607`), and a chunk whose average
    rendered row size reaches ``max_multi_update_row_size`` (default
    1 KB) falls back to one independent UPDATE per row
    (`mysql_writer_dml_batch.go:623-649` genUpdateSQL) — the CASE
    statement over huge rows is slower downstream than row updates.
    """
    if not batchable_by_handle_key(pk_fields, virtual_generated_columns):
        # shouldGenBatchSQL rule 3 (mysql_writer_dml.go:139-152): the
        # caller must fall back to the per-row builders.
        raise ValueError(
            "handle key contains a virtual generated column — "
            "multirow batching by key is unsound; use sql_for_rows")
    schema = compacted.schema["after"].dataType
    # generated columns are skipped in the INSERT column list and the
    # UPDATE CASE lines (multi_row.go:124-127, :305-313); WHERE tuples
    # (pk_fields) still reference them from the row images.
    write_fields = [f.name for f in schema.fields
                    if f.name.lower() not in generated_columns]
    fields = write_fields
    col_list = ", ".join(f"`{f}`" for f in fields)

    write_schema_fields = [f for f in schema.fields
                           if f.name.lower() not in generated_columns]

    def vals(image: str) -> Column:
        parts: list[Column] = [F.lit("(")]
        for i, f in enumerate(write_schema_fields):
            if i:
                parts.append(F.lit(", "))
            parts.append(_sql_value(F.col(f"{image}.{f.name}"), f.dataType))
        parts.append(F.lit(")"))
        return F.concat(*parts)

    def where(image: str) -> Column:
        parts: list[Column] = []
        for i, k in enumerate(pk_fields):
            if i:
                parts.append(F.lit(" AND "))
            parts.append(F.lit(f"`{k}` = "))
            parts.append(_sql_value(F.col(f"{image}.{k}"), schema[k].dataType))
        return F.concat(*parts)

    def in_tuple(image: str) -> Column:
        parts: list[Column] = [F.lit("(")]
        for i, k in enumerate(pk_fields):
            if i:
                parts.append(F.lit(", "))
            parts.append(_sql_value(F.col(f"{image}.{k}"), schema[k].dataType))
        parts.append(F.lit(")"))
        return F.concat(*parts)

    kind = (
        F.when(F.col("net_op") == "I", F.lit("insert"))
        .when(F.col("net_op") == "D", F.lit("delete"))
        .otherwise(F.lit("update"))
    )
    when_cols = [
        F.concat(F.lit("WHEN "), where("before"), F.lit(" THEN "),
                 _sql_value(F.col(f"after.{f.name}"), f.dataType)).alias(f"_w_{f.name}")
        for f in write_schema_fields
    ]
    from pyspark.sql.window import Window

    tbl_frag = F.concat(F.lit("`"), F.col("schema_name"), F.lit("`.`"),
                        F.col("table_name"), F.lit("`"))
    row_set = F.concat(*[
        c
        for i, f in enumerate(write_schema_fields)
        for c in ([F.lit(", ")] if i else [])
        + [F.lit(f"`{f.name}` = "),
           _sql_value(F.col(f"after.{f.name}"), f.dataType)]
    ])
    row_update = F.concat(F.lit("UPDATE "), tbl_frag, F.lit(" SET "),
                          row_set, F.lit(" WHERE "), where("before"))
    rows = compacted.select(
        "schema_name", "table_name", "pk", kind.alias("stmt_kind"),
        vals("after").alias("_vals"),
        in_tuple("before").alias("_in"),
        # GetApproximateDataSize proxy: the rendered row payload length
        F.length(vals("after")).cast("long").alias("_size"),
        row_update.alias("_row_update"),
        *when_cols,
    )
    w = Window.partitionBy("schema_name", "table_name", "stmt_kind").orderBy("pk")
    # UPDATE chunks cap at MaxMultiUpdateRowCount; I/D at MaxTxnRow
    chunk_rows = (F.when(F.col("stmt_kind") == "update",
                         F.lit(max_multi_update_row))
                  .otherwise(F.lit(max_txn_row)))
    chunked = rows.withColumn(
        "batch_seq",
        ((F.row_number().over(w) - 1) / chunk_rows).cast("int")
    )
    frag_fields = ["_vals", "_in"] + [f"_w_{f}" for f in fields]
    g = chunked.groupBy("schema_name", "table_name", "stmt_kind", "batch_seq").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum("_size").alias("_total_size"),
        F.transform(
            F.array_sort(F.collect_list(
                F.struct("pk", F.col("_row_update").alias("f")))),
            lambda s: s["f"],
        ).alias("_row_updates"),
        *[
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pk", F.col(c).alias("f")))),
                    lambda s: s["f"],
                ),
                "," if c in ("_vals", "_in") else " ",
            ).alias(f"agg{c}")
            for c in frag_fields
        ],
    )
    tbl = F.concat(F.lit("`"), F.col("schema_name"), F.lit("`.`"),
                   F.col("table_name"), F.lit("`"))
    in_list = F.concat(F.lit(" WHERE ("),
                       F.lit(", ".join(f"`{k}`" for k in pk_fields)),
                       F.lit(") IN ("), F.col("agg_in"), F.lit(")"))
    set_clause = F.concat(*[
        c
        for i, f in enumerate(fields)
        for c in (
            [F.lit(", ")] if i else []
        ) + [F.lit(f"`{f}` = CASE "), F.col(f"agg_w_{f}"), F.lit(" END")]
    ])
    # genUpdateSQL size gate: size < cap * len(rows) -> one CASE stmt,
    # else independent per-row UPDATEs (`mysql_writer_dml_batch.go:629`)
    update_fits = F.col("_total_size") < (
        F.lit(max_multi_update_row_size) * F.col("n_rows"))
    stmt_array = (
        F.when(F.col("stmt_kind") == "insert",
               F.array(F.concat(F.lit("INSERT INTO "), tbl,
                                F.lit(f" ({col_list}) VALUES "),
                                F.col("agg_vals"))))
        .when(F.col("stmt_kind") == "delete",
              F.array(F.concat(F.lit("DELETE FROM "), tbl, in_list)))
        .when(update_fits,
              F.array(F.concat(F.lit("UPDATE "), tbl, F.lit(" SET "),
                               set_clause, in_list)))
        .otherwise(F.col("_row_updates"))
    )
    n_stmts = F.size(stmt_array)
    exploded = g.select(
        "schema_name", "table_name", "stmt_kind", "batch_seq",
        # per-statement row count: the whole chunk for a batched stmt,
        # one for each per-row fallback UPDATE
        F.when(n_stmts == 1, F.col("n_rows")).otherwise(F.lit(1))
        .cast("long").alias("n_rows"),
        F.posexplode(stmt_array).alias("_stmt_seq", "stmt"),
    )
    return exploded.select("schema_name", "table_name", "stmt_kind",
                           "batch_seq", "n_rows", "stmt")


def materialize_state(cl_split: DataFrame) -> DataFrame:
    """Final downstream table state after applying the (post-split)
    changelog — the sync-diff oracle. Last write per key wins; a last
    DELETE removes the row. The key is the handle, the image's first
    column: the after image's for I/U, the before image's for D (valid
    post update-split, where U never changes it). Intra-commit-ts
    tiebreak via dml_order (D=1 < I=3, the split pieces' order)."""
    names = cl_split.schema["after"].dataType.names
    after = F.col("after")
    keyed = cl_split.withColumn(
        "_key", F.coalesce(after[names[0]], F.col("before")[names[0]])
    ).withColumn(
        # commit_ts µs * 4 stays far below int64; dml_order ∈ {1,2,3}
        "_ord", F.col("commit_ts") * 4 + F.col("dml_order")
    )
    # Scalar, all-numeric max_by buffers keep the fold in HashAggregate
    # (string/struct buffers would force SortAggregate — see compaction.py);
    # the op survives as its dml_order code (D=1).
    g = keyed.groupBy("schema_name", "table_name", "_key").agg(
        F.max_by("dml_order", "_ord").alias("_last_code"),
        *[F.max_by(after[n], "_ord").alias(f"_v{i}")
          for i, n in enumerate(names[1:])],
        F.max("commit_ts").alias("last_commit_ts"),
        F.count(F.lit(1)).alias("n_changes"),
    )
    return (
        g.filter(F.col("_last_code") != 1)
        .select(
            "schema_name", "table_name",
            F.col("_key").alias(names[0]),
            *[F.col(f"_v{i}").alias(n) for i, n in enumerate(names[1:])],
            "last_commit_ts", "n_changes",
        )
    )


def txn_flush_batches(
    cl: DataFrame,
    max_txn_row: int = 256,
    atomicity: str = "table",
) -> DataFrame:
    """A5/§2.12 — transaction-atomicity flush batching
    (`pkg/config/sink.go:140` TxnAtomicity; MaxTxnRow
    `pkg/sink/mysql/config.go:49-50`).

    ``atomicity="table"``: a transaction (rows sharing ``start_ts``)
    never splits across flush batches. Batch id = prior-rows-in-table
    div max_txn_row computed at TXN granularity — deterministic and
    engine-portable (fixed prior-count boundaries rather than the
    reference's stateful close-at-threshold greedy, whose reset base is
    not window-expressible). Contract: batches are txn-aligned and
    contiguous in txn order, and each non-final batch holds
    max_txn_row ± (largest-straddling-txn − 1) rows — the same
    "around MaxTxnRow, never splitting a txn" guarantee the reference's
    flush gives, under a closed form both engines reproduce.

    ``atomicity="none"``: plain row chunking at max_txn_row — a txn may
    split (`pkg/config/sink.go` allows this for MQ/storage sinks).

    Two windows over the same (table → txn order) partitioning: one
    shuffle total.
    """
    from pyspark.sql import Window

    if atomicity == "none":
        w = Window.partitionBy("schema_name", "table_name").orderBy(
            "commit_ts", "start_ts", "seq"
        )
        return cl.withColumn(
            "flush_batch",
            F.expr(f"(row_number() OVER (PARTITION BY schema_name, "
                   f"table_name ORDER BY commit_ts, start_ts, seq) - 1) "
                   f"div {max_txn_row}"),
        )
    if atomicity != "table":
        raise ValueError(f"unknown transaction-atomicity: {atomicity}")
    # Txn order is COMMIT order (replication applies by commit_ts): a txn
    # that starts early but commits late must batch after txns that
    # committed before it.  Rows of one txn share (commit_ts, start_ts),
    # so ordering by (commit_ts, start_ts, seq) keeps txns contiguous and
    # whole while preserving apply order — and matches the "none" mode.
    wt = Window.partitionBy("schema_name", "table_name").orderBy(
        "commit_ts", "start_ts", "seq"
    )
    # rows before this one in txn order, then held constant per txn:
    # prior_rows(txn) = rows of all earlier txns in the same table
    ranked = cl.withColumn("_rn", F.row_number().over(wt))
    wtx = Window.partitionBy(
        "schema_name", "table_name", "commit_ts", "start_ts"
    )
    prior = (F.min("_rn").over(wtx) - 1).cast("long")
    return ranked.withColumn(
        "flush_batch", F.floor(prior / max_txn_row).cast("long")
    ).drop("_rn")


# -- downstream session setup -----------------------------------------------
# TiDB/MySQL 5.7 default session SQL mode (public MySQL default; the
# reference applies AdjustSQLModeCompatible to it for every sink
# connection, `pkg/sink/mysql/helper.go:336-344`).
TIDB_DEFAULT_SQL_MODE = (
    "ONLY_FULL_GROUP_BY,STRICT_TRANS_TABLES,NO_ZERO_IN_DATE,NO_ZERO_DATE,"
    "ERROR_FOR_DIVISION_BY_ZERO,NO_AUTO_CREATE_USER,NO_ENGINE_SUBSTITUTION"
)

_SQL_MODE_DISABLE = (
    "NO_ZERO_IN_DATE", "NO_ZERO_DATE", "ERROR_FOR_DIVISION_BY_ZERO",
    "NO_AUTO_CREATE_USER", "STRICT_TRANS_TABLES", "STRICT_ALL_TABLES",
)
_SQL_MODE_ENABLE = (
    "IGNORE_SPACE", "NO_AUTO_VALUE_ON_ZERO", "ALLOW_INVALID_DATES",
)


def adjust_sql_mode_compatible(sql_modes: str) -> str:
    """`AdjustSQLModeCompatible` (`pkg/sink/mysql/helper.go:563-603`):
    disable the strict/zero-date modes the replicated binlog images were
    not produced under, enable the permissive ones replication needs.
    The reference does this as bitmask algebra then renders the
    canonical order; MySQL treats sql_mode as an unordered SET, so this
    name-set version preserves surviving input order and appends the
    enabled modes — same effective session mode."""
    modes = [m.strip().upper() for m in sql_modes.split(",") if m.strip()]
    out = [m for m in modes if m not in _SQL_MODE_DISABLE]
    out += [m for m in _SQL_MODE_ENABLE if m not in out]
    return ",".join(out)


def session_init_statements(sql_mode: str = "") -> list[str]:
    """Connection session setup the MySQL writer issues before any DML
    (the DSN-params analog of `GenerateDSN`, helper.go:336-344): the
    adjusted sql_mode, quoted.  ``sql_mode`` overrides the TiDB default
    as the adjustment input (the config's top-level ``sql-mode``)."""
    adjusted = adjust_sql_mode_compatible(
        sql_mode or TIDB_DEFAULT_SQL_MODE)
    return [f"SET sql_mode = '{adjusted}'"]
