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

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: what each task reports per topic it wrote (a null topic when the frame
#: has none): the row count and the commit-ts range (null where the frame
#: does not carry commit_ts) — a changefeed's checkpoint is built from these
SUMMARY_SCHEMA = "topic string, rows long, min_ts long, max_ts long"
_SUMMARY_FIELDS = [f.split() for f in SUMMARY_SCHEMA.split(", ")]
_SUMMARY_COLS = [name for name, _ in _SUMMARY_FIELDS]
_SUMMARY_KEYS = ("topic",)
#: summary column -> (frame column, aggregate), besides the row count
_SUMMARY_AGGS = {"min_ts": ("commit_ts", "min"),
                 "max_ts": ("commit_ts", "max")}


def _summarize(pdf):
    """One pandas batch's SUMMARY_SCHEMA rows."""
    import numpy as np

    aggs = {"rows": (pdf.columns[0], "size")}
    aggs.update({out: agg for out, agg in _SUMMARY_AGGS.items()
                 if agg[0] in pdf})
    # no topic column: the whole batch is one group
    keys = [c for c in _SUMMARY_KEYS if c in pdf] or np.zeros(len(pdf), "i1")
    out = pdf.groupby(keys, sort=False, dropna=False).agg(**aggs).reset_index()
    for c in _SUMMARY_COLS:
        if c not in out:
            out[c] = None
    return out[_SUMMARY_COLS]


def summarize(frame: DataFrame) -> list:
    """SUMMARY_SCHEMA rows of a frame that is not written here (the file
    and DB sinks' epoch), from one aggregate grouped like a task's."""
    cols = set(frame.columns)
    out = frame.groupBy(*[c for c in _SUMMARY_KEYS if c in cols]).agg(
        F.count(F.lit(1)).alias("rows"),
        *[getattr(F, fn)(c).alias(name)
          for name, (c, fn) in _SUMMARY_AGGS.items() if c in cols])
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

    def tally(self, pdf) -> None:
        """Count one pandas batch of the task's frame into the summary."""
        import pandas as pd

        for topic, rows, lo, hi in _summarize(pdf).itertuples(
                index=False, name=None):
            acc = self._summary.setdefault(topic, [0, None, None])
            acc[0] += int(rows)
            if not pd.isna(lo):
                acc[1] = lo if acc[1] is None else min(acc[1], lo)
                acc[2] = hi if acc[2] is None else max(acc[2], hi)

    def summary(self):
        """The task's SUMMARY_SCHEMA rows (no frame when it had none)."""
        import pandas as pd

        if self._summary:
            yield pd.DataFrame([(t, *acc) for t, acc in self._summary.items()],
                               columns=_SUMMARY_COLS)
