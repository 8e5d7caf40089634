"""Open-loop file generator for the ``changefeed_lag`` workload.

Runs as its own process, on a schedule that does not slow down when the
changefeed does.  The k-th file it publishes (k from 0, index
``--first + k``) holds the events created during
``[start + k·period, start + (k+1)·period)``: each row's commit time is
its creation time, spread evenly over the period, so the file is due at
the end of its period.  Each file is written under a hidden staging
directory and renamed into ``<dir>/events.parquet/batch=<i>/`` in one
step, so the stream never lists a half-written file.

Prints ``{"start": <wall s>}`` once its inputs are built, then appends
one JSON line per published file to ``--log``:
``{"file", "due", "published", "rows", "min_ts", "max_ts"}``.

    python3 cdcbench/feeder.py --dir D --seed 1 --rows 5000 \\
        --period 3.0 --files 4 --first 4 --log feed.jsonl
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from gen import TS_TYPE, events_table, rng_for  # noqa: E402

#: seconds between announcing the start and the first period
LEAD_S = 0.2


def stage(src_dir: str, index: int, table: pa.Table) -> None:
    """Write file ``index`` where the stream does not list it."""
    staging = os.path.join(src_dir, ".staging", f"batch={index}")
    os.makedirs(staging, exist_ok=True)
    pq.write_table(table, os.path.join(staging, "events.parquet"))


def release(src_dir: str, index: int) -> None:
    """Move a staged file into the stream's view in one step."""
    os.rename(os.path.join(src_dir, ".staging", f"batch={index}"),
              os.path.join(src_dir, "events.parquet", f"batch={index}"))


def publish(src_dir: str, index: int, table: pa.Table) -> None:
    stage(src_dir, index, table)
    release(src_dir, index)


def stamp(table: pa.Table, start_us: int, period_us: int) -> pa.Table:
    n = table.num_rows
    ts = start_us + (np.arange(1, n + 1, dtype=np.int64) * period_us) // n
    return table.set_column(table.schema.get_field_index("ts"), "ts",
                            pa.array(ts, TS_TYPE))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--period", type=float, required=True)
    ap.add_argument("--files", type=int, required=True)
    ap.add_argument("--first", type=int, required=True,
                    help="index of the first file (earlier ones are taken)")
    ap.add_argument("--log", required=True)
    a = ap.parse_args()

    tables = [events_table(rng_for(a.seed, 4, i), a.rows, i * a.rows)
              for i in range(a.first, a.first + a.files)]
    start = time.time() + LEAD_S
    print(json.dumps({"start": start}), flush=True)
    period_us = int(a.period * 1e6)
    with open(a.log, "a") as log:
        for k, table in enumerate(tables):
            i = a.first + k
            period_start = start + k * a.period
            due = period_start + a.period
            table = stamp(table, int(period_start * 1e6), period_us)
            time.sleep(max(0.0, due - time.time()))
            publish(a.dir, i, table)
            ts = table.column("ts").cast(pa.int64())
            log.write(json.dumps({
                "file": i, "due": due, "published": time.time(),
                "rows": table.num_rows,
                "min_ts": ts[0].as_py(), "max_ts": ts[-1].as_py(),
            }) + "\n")
            log.flush()


if __name__ == "__main__":
    main()
