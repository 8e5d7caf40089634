"""The task-side writer every live sink runs inside its Spark task.

The reference's sinks share one contract (`sink.go:32-51`); a
Structured Streaming sink writer has the same shape: each task writes
its part and returns a commit message.  A ``TaskWriter`` holds the
task's connection, sends every batch through the one retry loop and
folds the task's rows into the ``SUMMARY_SCHEMA`` rows it returns.  A
sink supplies only ``open() -> conn``, ``send(conn, batch)`` and the
errors that count as transient; any other error surfaces at once.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass
from itertools import repeat

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: what each task reports per topic it wrote (a null topic when the frame
#: has none): the row count and the commit-ts range (null where the frame
#: does not carry commit_ts) — a changefeed's checkpoint is built from these
SUMMARY_SCHEMA = "topic string, rows long, min_ts long, max_ts long"
_SUMMARY_FIELDS = [f.split() for f in SUMMARY_SCHEMA.split(", ")]
#: the frame columns a summary reads, each only where the frame has it:
#: rows group by topic, and the ts range is taken over commit_ts
_TOPIC, _TS = "topic", "commit_ts"


def summarize(frame: DataFrame) -> list:
    """SUMMARY_SCHEMA rows of a frame that is not written here (the file
    and DB sinks' epoch), from one aggregate grouped like a task's."""
    cols = set(frame.columns)
    keys = [_TOPIC] if _TOPIC in cols else []
    out = frame.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("rows"),
        *([F.min(_TS).alias("min_ts"), F.max(_TS).alias("max_ts")]
          if _TS in cols else []))
    return out.select(*[
        F.col(name) if name in out.columns
        else F.lit(None).cast(typ).alias(name)
        for name, typ in _SUMMARY_FIELDS]).collect()


@dataclass(frozen=True)
class RetryPolicy:
    """Tries per batch, and the wait between them: doubling from
    ``base_delay``, capped at ``max_delay``.  The defaults are the MySQL
    sink's (`pkg/sink/mysql/config.go:77-79`)."""
    max_tries: int = 8
    base_delay: float = 0.1
    max_delay: float = 5.0

    def delay(self, attempt: int) -> float:
        """The wait after failed try number ``attempt`` (from 0)."""
        return min(self.base_delay * 2 ** attempt, self.max_delay)


def transient(*errors: type[BaseException]) -> Callable[[Exception], bool]:
    """The retry predicate that accepts exactly ``errors``."""
    return lambda exc: isinstance(exc, errors)


class TaskWriter:
    """One task's connection to a sink, its retry loop and its summary;
    as a context manager it closes the connection on task exit."""

    def __init__(self, open: Callable[[], object],
                 send: Callable[[object, object], object],
                 retryable: Callable[[Exception], bool],
                 policy: RetryPolicy,
                 sleep: Callable[[float], None] = time.sleep):
        self._open = open
        self._send = send
        self.retryable = retryable
        self.policy = policy
        self.sleep = sleep
        self.conn = None
        self._summary: dict = {}  # topic -> [rows, min_ts, max_ts]

    def send(self, batch, tries: int | None = None):
        """``send(conn, batch)``, tried up to ``tries`` times (default:
        the policy's), each retry on a fresh connection."""
        tries = tries or self.policy.max_tries
        for attempt in range(tries):
            try:
                if self.conn is None:
                    self.conn = self._open()
                return self._send(self.conn, batch)
            except Exception as exc:  # noqa: BLE001 — the predicate decides
                if not self.retryable(exc):
                    raise
                self.drop()
                if attempt == tries - 1:
                    raise
                self.sleep(self.policy.delay(attempt))

    def drop(self) -> None:
        """Close the connection; the next send opens a fresh one."""
        conn, self.conn = self.conn, None
        if conn is not None:
            conn.close()

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self.drop()

    def tally(self, batch: dict) -> None:
        """Count one ``arrow_rows.map_batches`` batch of the task's frame
        (``{column: values}``) into the summary."""
        n = len(next(iter(batch.values()), ()))
        topics = batch.get(_TOPIC) or repeat(None, n)
        for topic, ts in zip(topics, batch.get(_TS) or repeat(None, n)):
            acc = self._summary.setdefault(topic, [0, None, None])
            acc[0] += 1
            if ts is not None:
                acc[1] = ts if acc[1] is None else min(acc[1], ts)
                acc[2] = ts if acc[2] is None else max(acc[2], ts)

    def summary(self):
        """The task's SUMMARY_SCHEMA rows, one tuple per topic (none when
        it had no rows)."""
        for topic, acc in self._summary.items():
            yield (topic, *acc)
