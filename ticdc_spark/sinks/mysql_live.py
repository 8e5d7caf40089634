"""Live MySQL sink apply: generated DML over the real wire protocol.

Composes the K1 writer path end to end against a live endpoint:
changelog → update-split → conflict slots → safe-mode SQL generation
(`sinks/mysql.py`) → per-slot ordered apply where every Spark partition
dials the MySQL-protocol server (`sinks/mysql_server.py`) like the
reference's per-worker connections (`pkg/sink/mysql` MySQLSink workers),
runs the session-init statements, and flushes multi-statement batches —
then the final table state is read back over the same wire.

The apply is a construction-time job (sink flush, trainer precedent);
the returned DataFrame is the readback state, comparable against the
materialize_state oracle with the canonical %.2f double rendering the
statements put on the wire. The pieces (create_tables / apply_over_wire
/ read_state_df) are reusable — the live sync-diff test drives an
upstream/downstream pair through them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ticdc_spark.functions.arrow_rows import map_batches
from ticdc_spark.sinks.writer import (SUMMARY_SCHEMA, RetryPolicy, TaskWriter,
                                      transient)

# keep servers alive until the driver finishes evaluating the readback
_LIVE_SERVERS: list = []

_BATCH_STMTS = 256


def start_server(schema: str = "test", user: str = "root", password: str = "cdc-secret"):
    from ticdc_spark.sinks.mysql_server import MiniMySQLServer

    srv = MiniMySQLServer(user=user, password=password, schemas=(schema,)).start()
    _LIVE_SERVERS.append(srv)
    return srv


def create_tables(host: str, port: int, user: str, password: str,
                  tables: list[str], schema: str = "test",
                  extra_cols: str = "") -> None:
    """``extra_cols`` appends column DDL after the base three — e.g. a
    STORED generated column (reference e2e ``generate_column``):
    ``", `val2` DOUBLE AS (`val` * 2) STORED"``. The endpoint enforces
    the MySQL write prohibition on such columns (error 3105)."""
    from ticdc_spark.sinks.mysql_client import MySQLConn

    with MySQLConn(host, port, user, password) as c:
        for t in tables:
            c.query(
                f"CREATE TABLE `{schema}`.`{t}` "
                f"(`id` BIGINT PRIMARY KEY, `val` DOUBLE, `k` BIGINT"
                f"{extra_cols})"
            )


#: the applier's retry budget (the Kafka producer's, defaultMaxRetry=5)
RETRY = RetryPolicy(max_tries=6, base_delay=0.1, max_delay=2.0)


def applier(host: str, port: int, user: str, password: str,
            multi_stmt: bool = True) -> TaskWriter:
    """An apply task's writer over connections that run the session-init
    statements first; ``send(stmts)`` applies a flush batch as ONE
    transaction, so a retry re-runs the whole batch (idempotent in safe
    mode: REPLACE/DELETE are full-row writes).  ``multi_stmt`` mirrors
    enable-multi-statement (`mysql_writer_dml_exec.go:58`): one
    multi-statement COM_QUERY, or one per statement (sequenceExecute).
    SQL errors (``MySQLError``) are permanent."""
    from ticdc_spark.sinks.mysql import session_init_statements
    from ticdc_spark.sinks.mysql_client import MySQLConn

    init = session_init_statements()

    def open_():
        conn = MySQLConn(host, port, user, password)
        try:
            for s in init:
                conn.query(s)
        except BaseException:
            conn.close()
            raise
        return conn

    def send(conn, stmts) -> None:
        txn = ["START TRANSACTION", *stmts, "COMMIT"]
        if multi_stmt:
            conn.execute_batch(txn)
        else:
            for s in txn:
                conn.query(s)

    return TaskWriter(open_, send, transient(OSError), RETRY)


def _apply_stmts(shaped: DataFrame, host: str, port: int, user: str,
                 password: str, multi_stmt: bool, batch_stmts: int) -> list:
    """Apply the ``stmt`` column, ``batch_stmts`` statements per
    transaction; returns the tasks' SUMMARY_SCHEMA rows."""

    def _apply(batches):
        buf: list[str] = []
        with applier(host, port, user, password, multi_stmt) as w:
            # statement strings cross as Arrow batches (guide §4.1),
            # not pickled Rows, and arrive as Python lists
            for c in batches:
                w.tally(c)
                for s in c["stmt"]:
                    buf.append(s)
                    if len(buf) >= batch_stmts:
                        w.send(buf)
                        buf = []
            if buf:
                w.send(buf)
        yield list(w.summary())

    return map_batches(shaped, _apply, SUMMARY_SCHEMA).collect()


def apply_over_wire(
    cl_split: DataFrame, host: str, port: int, user: str, password: str,
    n_slots: int = 16, generated_columns: frozenset[str] = frozenset(),
    pk_fields: tuple[str, ...] = ("id",),
) -> list:
    """Per-slot concurrent distributed apply of the safe-mode statement
    stream; each Spark partition holds one connection, session-init
    first, then 256-statement multi-statement batches.  Returns the
    tasks' SUMMARY_SCHEMA rows.
    ``generated_columns`` are skipped in the generated DML column lists
    (multi_row.go:124-127) — the endpoint rejects writes to them.
    ``pk_fields`` drive the DELETE WHERE; a conflict key over a STORED
    generated column is legal here (its value rides the row images)."""
    from ticdc_spark.sinks.jdbc import statements_for_batch

    stmts = statements_for_batch(cl_split, safe_mode=True, n_slots=n_slots,
                                 pk_fields=pk_fields,
                                 generated_columns=generated_columns)
    return _apply_stmts(stmts, host, port, user, password, True,
                        _BATCH_STMTS)


def read_state_df(
    spark: SparkSession, host: str, port: int, user: str, password: str,
    tables: list[str], schema: str = "test",
    extra_select: tuple[tuple[str, str], ...] = (),
) -> DataFrame:
    """Final state (table_name, id, val, k) read back via SELECT over the
    wire — small (one row per live key), so a driver-side collect is the
    honest shape; a 100 TB deployment diffs downstream with sync-diff.
    ``extra_select`` appends (column, spark_type) pairs — e.g. a stored
    generated column the DOWNSTREAM computed, proving the sink never
    wrote it."""
    from ticdc_spark.sinks.mysql_client import MySQLConn

    cols = ["id", "val", "k"] + [c for c, _ in extra_select]
    sel = ", ".join(f"`{c}`" for c in cols)
    rows = []
    with MySQLConn(host, port, user, password) as c:
        for t in tables:
            rs = c.query(f"SELECT {sel} FROM `{schema}`.`{t}`")
            rows.extend((t, *r) for r in rs.rows)
    ddl = "table_name string, id long, val double, k long" + "".join(
        f", {c} {tp}" for c, tp in extra_select)
    return spark.createDataFrame(rows, ddl)


def mysql_live_apply(
    cl_split: DataFrame,
    tables: list[str],
    schema: str = "test",
    n_slots: int = 16,
    user: str = "root",
    password: str = "cdc-secret",
) -> DataFrame:
    """Apply the (post-split) changelog over the wire; return final state
    (table_name, id, val, k) read back via SELECT on the same socket."""
    spark = cl_split.sparkSession
    srv = start_server(schema, user, password)
    create_tables(srv.host, srv.port, user, password, tables, schema)
    apply_over_wire(cl_split, srv.host, srv.port, user, password, n_slots)
    return read_state_df(spark, srv.host, srv.port, user, password, tables, schema)


def mysql_live_apply_generated_column(
    cl_split: DataFrame,
    tables: list[str],
    schema: str = "test",
    n_slots: int = 16,
    user: str = "root",
    password: str = "cdc-secret",
) -> DataFrame:
    """`mysql_live_apply` against tables carrying a STORED generated
    column ``val2 DOUBLE AS (val * 2) STORED`` (reference e2e
    ``tests/integration_tests/generate_column``; skip rule
    `pkg/sink/sqlmodel/multi_row.go:124-127`). The SQL builders must
    omit ``val2`` from every REPLACE column list — the endpoint answers
    error 3105 to any write that names it — and the readback returns the
    value the DOWNSTREAM computed.

    The changelog images are first WIDENED with the mounted ``val2``
    (stored generated columns ride the upstream rowcodec, so the mounter
    surfaces them — `pkg/common/table_info.go:481`: visible when stored);
    without the skip, every generated REPLACE would name ``val2`` and
    the first batch dies with 3105."""
    from pyspark.sql import functions as F

    def widen(image: str):
        return F.when(
            F.col(f"{image}.id").isNotNull(),
            F.struct(F.col(f"{image}.id"), F.col(f"{image}.val"),
                     F.col(f"{image}.k"),
                     (F.col(f"{image}.val") * 2).alias("val2")),
        )

    cl_split = cl_split.withColumn("before", widen("before")).withColumn(
        "after", widen("after"))
    spark = cl_split.sparkSession
    srv = start_server(schema, user, password)
    create_tables(srv.host, srv.port, user, password, tables, schema,
                  extra_cols=", `val2` DOUBLE AS (`val` * 2) STORED")
    apply_over_wire(cl_split, srv.host, srv.port, user, password, n_slots,
                    generated_columns=frozenset({"val2"}))
    return read_state_df(spark, srv.host, srv.port, user, password, tables,
                         schema, extra_select=(("val2", "double"),))


def apply_over_wire_prepared(
    cl_split: DataFrame, host: str, port: int, user: str, password: str,
    n_slots: int = 16, schema: str = "test", batch_rows: int = 64,
    cache_prepared: bool = True,
) -> None:
    """The go-sql-driver shape of the writer: COM_STMT_PREPARE once per
    (table, statement shape), then COM_STMT_EXECUTE with binary-bound
    args — query + args arrays exactly like `pkg/sink/sqlmodel`, no
    literal rendering. Consecutive same-(table, op) runs flush as
    multirow REPLACE batches of ``batch_rows`` (arity-64 prepared once,
    remainder via the single-row statement), deletes row-at-a-time —
    order within a conflict slot is preserved.

    ``cache_prepared`` (enable-cache-prepared-statement,
    `pkg/sink/mysql/config.go:85,139` CachePrepStmts, go-sql-driver's
    stmt cache): False prepares and CLOSES a statement per execution —
    the shape a cache-disabled driver puts on the wire."""
    from pyspark.sql import functions as F

    from ticdc_spark.operators.conflict import with_conflict_slots

    shaped = (
        with_conflict_slots(cl_split, n_slots)
        .repartition(n_slots, "slot")
        .sortWithinPartitions("slot", "commit_ts", "dml_order", "seq")
        .select(
            "table_name", "op",
            F.col("before.id").alias("b_id"),
            F.col("after.id").alias("a_id"),
            F.col("after.val").alias("a_val"),
            F.col("after.k").alias("a_k"),
        )
    )

    def _apply(batches):
        from ticdc_spark.sinks.mysql_client import (
            MySQLConn, close_prepared, execute_prepared, prepare)

        conn = None
        stmt_cache: dict[tuple[str, str, int], int] = {}

        def _sql(table: str, kind: str, arity: int) -> str:
            if kind == "replace":
                row = "(?, ?, ?)"
                return (f"REPLACE INTO `{schema}`.`{table}` (`id`, `val`, `k`) "
                        f"VALUES {', '.join([row] * arity)}")
            return (f"DELETE FROM `{schema}`.`{table}` WHERE `id` IN "
                    f"({', '.join(['?'] * arity)})")

        def stmt(table: str, kind: str, arity: int) -> int:
            key = (table, kind, arity)
            sid = stmt_cache.get(key)
            if sid is None:
                sid, _ = prepare(conn, _sql(table, kind, arity))
                stmt_cache[key] = sid
            return sid

        def run(table: str, kind: str, arity: int, args: list) -> None:
            if cache_prepared:
                execute_prepared(conn, stmt(table, kind, arity), args)
                return
            # cache off: prepare -> execute -> close, every time
            sid, _ = prepare(conn, _sql(table, kind, arity))
            execute_prepared(conn, sid, args)
            close_prepared(conn, sid)

        window: list = []

        def flush():
            """Apply one flush window: last-write-wins compaction per key
            (REPLACE/DELETE are full-row writes, so only the final op per
            key within the window is observable — the multirow batching
            premise of pkg/sink/sqlmodel), then per table one IN-list
            DELETE + arity-chunked multirow REPLACEs."""
            nonlocal window
            if not window:
                return
            last: dict[tuple[str, int], tuple] = {}
            for row in window:
                table, op, b_id, a_id, _, _ = row
                last[(table, b_id if op == "D" else a_id)] = row
            by_table: dict[str, tuple[list, list]] = {}
            for (table, _), (_, op, b_id, a_id, a_val, a_k) in last.items():
                reps, dels = by_table.setdefault(table, ([], []))
                if op == "D":
                    dels.append(b_id)
                else:
                    reps.extend((a_id, a_val, a_k))
            for table, (reps, dels) in by_table.items():
                for i in range(0, len(dels), batch_rows):
                    chunk = dels[i : i + batch_rows]
                    run(table, "delete", len(chunk), chunk)
                for i in range(0, len(reps), 3 * batch_rows):
                    chunk = reps[i : i + 3 * batch_rows]
                    run(table, "replace", len(chunk) // 3, chunk)
            window = []

        n_rows = 0
        try:
            # Arrow batches across the boundary (guide §4.1) instead of
            # pickled Rows; ``arrow_rows.pylist`` hands back EXACT Python
            # ints/floats/None for the nullable long/double columns, so
            # the binary-protocol arg tags (_param_type) follow the
            # column types
            for c in batches:
                if not c["op"]:
                    continue
                if conn is None:
                    conn = MySQLConn(host, port, user, password)
                n_rows += len(c["op"])
                for row in zip(c["table_name"], c["op"], c["b_id"],
                               c["a_id"], c["a_val"], c["a_k"]):
                    window.append(row)
                    if len(window) >= 4 * batch_rows:
                        flush()
            flush()
        finally:
            if conn is not None:
                for sid in stmt_cache.values():
                    close_prepared(conn, sid)
                conn.close()
        yield [(n_rows,)]

    map_batches(shaped, _apply, "n_rows long").collect()


def mysql_live_apply_prepared(
    cl_split: DataFrame,
    tables: list[str],
    schema: str = "test",
    n_slots: int = 16,
    user: str = "root",
    password: str = "cdc-secret",
    cache_prepared: bool = True,
) -> DataFrame:
    """Like mysql_live_apply but through the binary prepared-statement
    protocol — values arrive BIT-EXACT (no text rendering), so the oracle
    compares raw doubles."""
    spark = cl_split.sparkSession
    srv = start_server(schema, user, password)
    create_tables(srv.host, srv.port, user, password, tables, schema)
    apply_over_wire_prepared(cl_split, srv.host, srv.port, user, password,
                             n_slots, schema,
                             cache_prepared=cache_prepared)
    return read_state_df(spark, srv.host, srv.port, user, password, tables, schema)


def apply_stmt_frame(stmts: DataFrame, host: str, port: int, user: str,
                     password: str, multi_stmt: bool = True,
                     batch_stmts: int = 256) -> list:
    """Apply an arbitrary ``stmt``-column frame (e.g. multirow batch
    SQL) over the wire through ``applier`` (``multi_stmt`` as there).
    Partitioned by table so one connection owns a table's stream.
    Returns the tasks' SUMMARY_SCHEMA rows."""
    shaped = stmts.select("schema_name", "table_name", "stmt").repartition(
        "schema_name", "table_name")
    return _apply_stmts(shaped, host, port, user, password, multi_stmt,
                        batch_stmts)


def mysql_live_apply_multirow_from_config(
    cl: DataFrame,
    cfg,
    tables: list[str],
    schema: str = "test",
    user: str = "root",
    password: str = "cdc-secret",
) -> DataFrame:
    """The BATCH writer path driven by [sink.mysql-config]: compacted
    net rows -> multirow batch SQL under the configured caps
    (max-multi-update-row(-size), `pkg/sink/mysql/config.go:51-65`) ->
    live wire apply honoring enable-multi-statement; downstream is
    pre-seeded with the before images of net U/D keys (the reference's
    batch flow likewise assumes the pre-image rows exist downstream).
    enable-batch-dml=false falls back to the per-row safe-mode writer
    (`mysql_writer_dml.go:126-132` shouldGenBatchSQL rule 1)."""
    from pyspark.sql import functions as F

    from ticdc_spark.config import mysql_batch_options
    from ticdc_spark.operators.compaction import compact_changelog
    from ticdc_spark.sinks.mysql import multirow_batches

    spark = cl.sparkSession
    opts = mysql_batch_options(cfg)
    srv = start_server(schema, user, password)
    create_tables(srv.host, srv.port, user, password, tables, schema)

    # the batch writer folds per HANDLE key (the downstream row
    # identity, `mysql_writer_dml_batch.go` groups by pk/uk args) —
    # re-key on the payload handle before compaction; the raw source
    # pk (RawKV key) is not the downstream identity
    cl = cl.withColumn("pk", F.coalesce(F.col("after.id"),
                                        F.col("before.id")))
    compacted = compact_changelog(cl)
    compacted = compacted.localCheckpoint()  # one materialization: seeds + stream
    # seed the pre-image rows for net U/D keys as INSERT batches
    seeds = (compacted.filter(F.col("net_op") != "I")
             .withColumn("after", F.col("before"))
             .withColumn("net_op", F.lit("I")))
    apply_stmt_frame(multirow_batches(seeds), srv.host, srv.port, user,
                     password, multi_stmt=opts["enable_multi_statement"])
    if opts["enable_batch_dml"]:
        stmts = multirow_batches(
            compacted,
            max_txn_row=opts["max_txn_row"],
            max_multi_update_row=opts["max_multi_update_row"],
            max_multi_update_row_size=opts["max_multi_update_row_size"],
        )
        apply_stmt_frame(stmts, srv.host, srv.port, user, password,
                         multi_stmt=opts["enable_multi_statement"])
    else:
        # per-row writer: REPLACE upserts + per-row DELETEs (safe mode)
        from ticdc_spark.sinks.mysql import sql_for_rows

        per_row = compacted.select(
            "schema_name", "table_name",
            F.col("net_op").alias("op"), "before", "after")
        apply_stmt_frame(
            sql_for_rows(per_row, safe_mode=True).select(
                "schema_name", "table_name", "stmt"),
            srv.host, srv.port, user, password,
            multi_stmt=opts["enable_multi_statement"])
    return read_state_df(spark, srv.host, srv.port, user, password,
                         tables, schema)
