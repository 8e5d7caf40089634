"""K1 — the transactional writer path (foreachBatch → executemany).

Reference: `pkg/sink/mysql/mysql_writer_dml_batch.go` — batch, order by
conflict slot, generate SQL, executemany with per-slot serialization.

``apply_ordered`` is the foreachBatch body: statements are generated as
columns (sql_for_rows), clustered by conflict slot, ordered by the
replay key inside each slot, and fed to an ``execute`` callback. In
production the callback is a JDBC connection per partition
(``foreachPartition`` + pool, workers write in parallel across slots);
tests drive it with DuckDB through a dialect shim. Ordering guarantee:
within a slot (= per key, A4) statements apply in (commit_ts, dml_order,
seq) order; across slots order is free — exactly the reference's
conflict-detector contract.
"""

from __future__ import annotations

import time
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ticdc_spark.operators.conflict import with_conflict_slots
from ticdc_spark.sinks.mysql import sql_for_rows
from ticdc_spark.sinks.writer import RetryPolicy, TaskWriter


def with_retry(
    execute: Callable[[str], None],
    policy: RetryPolicy = RetryPolicy(),
    retryable: Callable[[Exception], bool] = lambda e: True,
    sleep: Callable[[float], None] = time.sleep,
) -> Callable[[str], None]:
    """Wrap a statement executor with the reference's retry/backoff
    (the sinks' one retry loop, ``TaskWriter.send``; the executor owns
    its connection).

    Non-retryable errors (syntax, constraint violations — anything the
    classifier rejects) propagate immediately; transient ones retry up
    to max_tries with exponential backoff."""
    return TaskWriter(lambda: None, lambda _conn, stmt: execute(stmt),
                      retryable, policy, sleep).send


def apply_txn_with_retry(
    stmts: list[str],
    execute: Callable[[str], None],
    policy: RetryPolicy = RetryPolicy(),
    retryable: Callable[[Exception], bool] = lambda e: True,
    sleep: Callable[[float], None] = time.sleep,
) -> int:
    """Apply one flush batch transactionally: BEGIN … COMMIT, ROLLBACK +
    whole-txn retry on transient failure (the reference retries the
    whole txn, never a prefix — partial batches would break atomicity)."""
    def run_txn(_: str) -> None:
        execute("BEGIN")
        try:
            for s in stmts:
                execute(s)
            execute("COMMIT")
        except Exception:
            execute("ROLLBACK")
            raise

    with_retry(run_txn, policy, retryable, sleep)("")
    return len(stmts)


def statements_for_batch(
    batch_df: DataFrame, safe_mode: bool = True, n_slots: int = 16,
    pk_fields: tuple[str, ...] = ("id",),
    generated_columns: frozenset[str] = frozenset(),
) -> DataFrame:
    """(slot, stmt) in per-slot apply order."""
    stmts = sql_for_rows(with_conflict_slots(batch_df, n_slots),
                         safe_mode=safe_mode, pk_fields=pk_fields,
                         generated_columns=generated_columns)
    return (
        stmts.repartition(n_slots, "slot")
        .sortWithinPartitions("slot", "commit_ts", "dml_order", "seq")
        .select("slot", "commit_ts", "dml_order", "seq", "stmt")
    )


def apply_ordered(
    batch_df: DataFrame,
    execute: Callable[[str], None],
    safe_mode: bool = True,
    n_slots: int = 16,
    retry: RetryPolicy | None = None,
    retryable: Callable[[Exception], bool] = lambda e: True,
    sleep: Callable[[float], None] = time.sleep,
    session_init: list[str] | None = None,
) -> int:
    """Drive every statement through ``execute`` in slot-serial order.

    Driver-side iteration (toLocalIterator) — fine for a single test DB;
    swap for ``foreachPartition`` with a JDBC pool per executor when the
    downstream accepts concurrent sessions. ``retry`` applies the
    reference's per-statement backoff.  ``session_init`` statements
    (e.g. ``sinks.mysql.session_init_statements`` — the adjusted
    sql_mode, helper.go:336-344) run once before any DML; a MySQL
    downstream needs them, the DuckDB test shim passes none."""
    for stmt in session_init or []:
        execute(stmt)
    if retry is not None:
        execute = with_retry(execute, retry, retryable, sleep)
    n = 0
    for row in statements_for_batch(batch_df, safe_mode, n_slots).toLocalIterator():
        execute(row["stmt"])
        n += 1
    return n


def mysql_to_duckdb_dialect(stmt: str) -> str:
    """Test shim: MySQL dialect → DuckDB (backticks, REPLACE INTO).

    Multi-row UPDATEs set every column including the PK; DuckDB's PK
    index rejects updates that touch the key column even when the CASE
    maps each id to itself (documented index limitation — MySQL applies
    them fine). Strip the PK self-assignment so the statement runs."""
    import re as _re

    out = stmt.replace("`", '"')
    if out.startswith("REPLACE INTO "):
        out = "INSERT OR REPLACE INTO " + out[len("REPLACE INTO "):]
    if out.startswith("UPDATE "):
        out = _re.sub(r'SET "id" = CASE .*? END, ', "SET ", out, count=1)
    return out
