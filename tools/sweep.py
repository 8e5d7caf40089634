"""Parallel oracle sweep: the tests/test_oracle_parity.py differential
check (every registered query vs its DuckDB oracle), sharded over N
worker processes so a big-SF sweep finishes in wall-clock hours/N.

Each shard gets every Nth query name (sorted), its own SparkSession
(SPARK_GRAFT_CPUS caps its cores), and prints RED lines + progress.
Exit 0 iff every checked query matched.

The comparison itself is ``tests/oracle_harness.py`` (the module the
parity test uses); the script puts ``tests/`` and the checkout holding
it on ``sys.path``, so it runs from any directory.

Usage: python tools/sweep.py SF_DIR SHARD NSHARDS
       for i in 0 1 2; do python tools/sweep.py dir $i 3 > shard$i.log & done
"""

from __future__ import annotations

import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    sf_dir = sys.argv[1]
    shard = int(sys.argv[2]) if len(sys.argv) > 2 else 0
    nshards = int(sys.argv[3]) if len(sys.argv) > 3 else 1

    sys.path[:0] = [ROOT, os.path.join(ROOT, "tests")]
    from oracle_harness import compare, run_oracle

    from ticdc_spark.queries import ORACLES, QUERIES
    from ticdc_spark.session import get_spark

    names = sorted(ORACLES)
    mine = [n for i, n in enumerate(names) if i % nshards == shard]
    spark = get_spark(f"sweep_shard{shard}", shuffle_partitions=8)
    red: list[str] = []
    t0 = time.time()
    for i, n in enumerate(mine):
        try:
            probs = compare(QUERIES[n](spark, sf_dir), run_oracle(ORACLES[n], sf_dir))
        except Exception as exc:  # noqa: BLE001 — a crash is a red row, not a dead sweep
            probs = [f"EXCEPTION: {exc!r}"]
        if probs:
            red.append(n)
            print(f"RED {n}: {probs[:2]}", flush=True)
        if (i + 1) % 10 == 0:
            print(
                f"shard {shard}/{nshards}: {i + 1}/{len(mine)} checked, "
                f"{len(red)} red, {int(time.time() - t0)}s",
                flush=True,
            )
    print(
        f"SHARD {shard}/{nshards} DONE: {len(mine) - len(red)}/{len(mine)} "
        f"green in {int(time.time() - t0)}s"
        + (f"; red: {red}" if red else ""),
        flush=True,
    )
    sys.exit(1 if red else 0)


if __name__ == "__main__":
    main()
