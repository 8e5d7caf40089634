"""A/B timing harness: alternate two arms over the same registry queries.

    SPARK_GRAFT_SF_DIR=<testdata scale dir> python tools/abab.py
        [--a DIR] [--b DIR] [--conf-a K=V]... [--conf-b K=V]...
        [-n N] [--plans] QUERY...

An arm is a checkout directory (default: this one; for example a
``git worktree`` of the parent commit) plus Spark conf overrides.  Arm B
exists when ``--b`` or ``--conf-b`` is given (``--conf-b`` alone runs
arm A's checkout with other confs); arm A alone makes this a per-query
timer.  Each arm runs in its own worker process, which imports
``ticdc_spark`` from the arm's directory and warms its session once
(``bench.warm_up``).

Per query, each arm first runs once untimed, then N sample pairs follow;
the pairs flip which arm goes first (A B, B A, A B, ...), so a drift in
host speed lands on both arms.  A sample records ``build_s`` (the
registry query function) and ``write_s`` (the noop write), split as
``bench.time_query`` splits them, and the host's CPU-steal jiffies over
the sample.  ``-n 0`` skips timing.  ``--plans`` writes each arm's
formatted plan to ``plans/abab/<query>_<arm>.txt`` under the working
directory and prints its Exchange and join-operator counts.

Prints one line per sample and per plan, then one JSON summary line.
"""

from __future__ import annotations

import argparse
import json
import multiprocessing as mp
import os
import re
import statistics
import sys
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

import bench  # noqa: E402  (imports no ticdc_spark code)

# per-node detail headers of a formatted plan: "(12) SortMergeJoin ..."
_NODE = re.compile(r"^\(\d+\) (\w+)", re.M)


def plan_counts(plan: str) -> tuple[int, int]:
    """(Exchange, join-operator) node counts of a formatted plan."""
    nodes = _NODE.findall(plan)
    exchanges = sum(n in ("Exchange", "BroadcastExchange") for n in nodes)
    joins = sum(n.endswith("Join") or n == "CartesianProduct"
                for n in nodes)
    return exchanges, joins


def _worker(conn, arm_dir: str, confs: list[str], sf_dir: str) -> None:
    """Serve ("time"|"plan", query) requests for one arm; every reply
    is (ok, payload)."""
    # the arm's package must win in this process AND in Spark's Python
    # workers, which start in its cwd with its PYTHONPATH
    os.chdir(arm_dir)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (arm_dir, os.environ.get("PYTHONPATH")) if p)
    sys.path.insert(0, arm_dir)
    try:
        import ticdc_spark
        from ticdc_spark.queries import QUERIES
        from ticdc_spark.session import get_spark

        spark = get_spark("ticdc_abab")
        for kv in confs:
            key, _, value = kv.partition("=")
            spark.conf.set(key, value)
        bench.warm_up(spark, sf_dir)
    except Exception:  # noqa: BLE001 — reported by the parent
        conn.send((False, traceback.format_exc()))
        return
    conn.send((True, os.path.dirname(ticdc_spark.__file__)))
    for op, name in iter(conn.recv, None):
        try:
            if op == "plan":
                df = QUERIES[name](spark, sf_dir)
                reply = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted")
            else:
                steal0 = bench._cpu_steal_jiffies()
                build_s, write_s = bench.time_query(
                    spark, QUERIES[name], sf_dir)
                reply = {"build_s": round(build_s, 3),
                         "write_s": round(write_s, 3),
                         "steal": bench._cpu_steal_jiffies() - steal0}
            conn.send((True, reply))
        except Exception:  # noqa: BLE001 — reported by the parent
            conn.send((False, traceback.format_exc()))
    spark.stop()


def _parse(argv):
    ap = argparse.ArgumentParser(
        description=__doc__.split("\n\n")[0],
        formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--a", default=ROOT, metavar="DIR",
                    help="arm A checkout (default: this one)")
    ap.add_argument("--b", metavar="DIR", help="arm B checkout")
    ap.add_argument("--conf-a", action="append", default=[],
                    metavar="K=V", help="Spark conf for arm A (repeatable)")
    ap.add_argument("--conf-b", action="append", default=[],
                    metavar="K=V", help="Spark conf for arm B (repeatable)")
    ap.add_argument("-n", type=int, default=3, metavar="N",
                    help="sample pairs per query (default 3)")
    ap.add_argument("--plans", action="store_true",
                    help="write each arm's formatted plan and its counts")
    ap.add_argument("queries", nargs="+", metavar="QUERY")
    args = ap.parse_args(argv)
    if not os.environ.get("SPARK_GRAFT_SF_DIR"):
        ap.error("set SPARK_GRAFT_SF_DIR to a testdata scale directory")
    bad = [kv for kv in args.conf_a + args.conf_b if "=" not in kv]
    if bad or args.n < 0:
        ap.error(f"confs must be K=V and N >= 0 (got {bad}, {args.n})")
    return args


def main(argv=None) -> int:
    args = _parse(argv)
    sf_dir = os.path.abspath(os.environ["SPARK_GRAFT_SF_DIR"])
    arms = {"A": (os.path.abspath(args.a), args.conf_a)}
    if args.b or args.conf_b:
        arms["B"] = (os.path.abspath(args.b or args.a), args.conf_b)
    plan_dir = os.path.abspath(os.path.join("plans", "abab"))

    ctx = mp.get_context("spawn")
    conns, procs = {}, []
    for arm, (arm_dir, confs) in arms.items():
        conn, child = ctx.Pipe()
        procs.append(ctx.Process(target=_worker, daemon=True,
                                 args=(child, arm_dir, confs, sf_dir)))
        procs[-1].start()
        conns[arm] = conn

    def reply(arm, what):
        ok, payload = conns[arm].recv()
        if not ok:
            raise SystemExit(f"abab: arm {arm} {what}: {payload}")
        return payload

    def call(arm, op, name):
        conns[arm].send((op, name))
        return reply(arm, f"{op} {name}")

    # the package each worker imported: proof of which code an arm ran
    packages = {arm: reply(arm, "warm-up") for arm in arms}
    order = list(arms)
    result = {"sf_dir": sf_dir, "pairs": args.n,
              "arms": {arm: {"dir": d, "conf": c, "package": packages[arm]}
                       for arm, (d, c) in arms.items()},
              "queries": {}}
    steal0 = bench._cpu_steal_jiffies()
    for q in args.queries:
        entry = result["queries"][q] = {arm: {} for arm in order}
        if args.n:
            for arm in order:
                call(arm, "time", q)  # untimed: codegen, caches
            samples = {arm: [] for arm in order}
            for i in range(args.n):
                for arm in order if i % 2 == 0 else order[::-1]:
                    s = call(arm, "time", q)
                    samples[arm].append(s)
                    print(f"sample {q} pair {i} {arm}: "
                          f"build_s={s['build_s']:.3f} "
                          f"write_s={s['write_s']:.3f} "
                          f"steal={s['steal']}", flush=True)
            for arm in order:
                walls = [s["build_s"] + s["write_s"] for s in samples[arm]]
                entry[arm].update(samples=samples[arm],
                                  median_s=round(statistics.median(walls), 3),
                                  min_s=round(min(walls), 3))
            if "B" in entry:
                entry["median_ratio_b_over_a"] = round(
                    entry["B"]["median_s"] / max(entry["A"]["median_s"],
                                                 1e-3), 3)
        if args.plans:
            os.makedirs(plan_dir, exist_ok=True)
            for arm in order:
                plan = call(arm, "plan", q)
                exchanges, joins = plan_counts(plan)
                path = os.path.join(plan_dir, f"{q}_{arm}.txt")
                with open(path, "w") as f:
                    f.write(plan)
                entry[arm].update(exchanges=exchanges, joins=joins,
                                  plan=path)
                print(f"plan {q} {arm}: {exchanges} Exchange, "
                      f"{joins} join -> {path}", flush=True)
    result["steal_jiffies_delta"] = bench._cpu_steal_jiffies() - steal0
    for conn in conns.values():
        conn.send(None)
    for proc in procs:
        proc.join(timeout=60)
        if proc.is_alive():
            proc.terminate()
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
