"""W3 — DDL barrier as micro-batch splitting.

Reference: `maintainer/barrier.go:31-41` — a 7-step distributed protocol
aligning all dispatchers of affected tables at one DDL commitTs, with a
single elected writer. In Spark the driver is the only coordinator, so
the barrier collapses to deterministic batch splitting inside
foreachBatch: rows with ``commit_ts < ddl_ts`` flush first, the DDL
applies exactly once (schema registry bump + downstream DDL), then rows
``>= ddl_ts`` flush against the new schema version. DML sorts before DDL
at equal commit ts (`pkg/eventservice/event_scanner.go:74-96`), so the
split predicate is ``commit_ts <= ddl_ts`` for the pre-batch.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ticdc_spark import failpoint


def split_batch_at_ddl(
    batch_df: DataFrame,
    ddl_commit_ts: list[int],
    flush_fn: Callable[[DataFrame, int], None],
    ddl_fn: Callable[[int], None],
) -> None:
    """Apply `flush_fn` to each DML segment between DDL barriers, calling
    ``ddl_fn(ts)`` exactly once at each barrier, in commit-ts order.

    The segment assignment is a single column expression (no driver-side
    row iteration); each segment flush is one filtered write — at scale
    this is K extra passes over the cached batch for K DDLs in the batch.
    An epoch admits as many files as the changefeed's memory-quota allows,
    so an epoch that drains a backlog routinely spans K >= 2 DDLs.
    """
    barriers = sorted(set(ddl_commit_ts))
    if not barriers:
        flush_fn(batch_df, 0)
        return
    batch_df = batch_df.cache()
    try:
        prev = None
        for i, ts in enumerate(barriers):
            seg = batch_df.filter(
                (F.col("commit_ts") <= ts)
                & (F.lit(True) if prev is None else (F.col("commit_ts") > prev))
            )
            flush_fn(seg, i)
            # chaos hook: crash after the pre-DDL flush, before the DDL
            # applies — the kill_owner_with_ddl scenario; restart must
            # re-run the barrier and apply the DDL exactly once (the
            # DDLTsBook makes the reapply idempotent)
            failpoint.inject("barrier/before-ddl", {"ts": ts})
            ddl_fn(ts)
            prev = ts
        tail = batch_df.filter(F.col("commit_ts") > barriers[-1])
        flush_fn(tail, len(barriers))
    finally:
        batch_df.unpersist()


class DDLTsBook:
    """Applied-DDL bookkeeping (`pkg/sink/mysql/mysql_writer_for_ddl_ts.go`):
    the reference records each executed DDL's commit ts in a downstream
    ``tidb_cdc.ddl_ts_v1`` table so a restarted writer can tell an
    already-applied DDL from a pending one. File-backed here (one JSON
    line per applied ts, per changefeed+table scope).

    Usage: ``if book.should_apply(ts): apply(); book.record(ts)`` —
    a crash between apply() and record() re-applies the DDL once more,
    which is safe because reference DDL execution is itself idempotent
    (CREATE/DROP guarded by existence checks); a crash after record()
    skips cleanly on replay.
    """

    def __init__(self, path: str) -> None:
        self.path = path
        self._applied: set[int] = set()
        if os.path.exists(path):
            with open(path) as f:
                for line in f:
                    self._applied.add(json.loads(line)["ddl_ts"])

    def should_apply(self, ddl_ts: int) -> bool:
        return ddl_ts not in self._applied

    def record(self, ddl_ts: int) -> None:
        os.makedirs(os.path.dirname(self.path) or ".", exist_ok=True)
        with open(self.path, "a") as f:
            f.write(json.dumps({"ddl_ts": ddl_ts}) + "\n")
        self._applied.add(ddl_ts)
