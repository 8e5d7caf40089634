"""The changefeed benchmark: one run of one workload.

    python3 cdcbench/run.py --workload changefeed_lag --seed 1 --seconds 12 --trace 0

Run from the root of a checkout.  Inputs are generated from ``--seed``
before the clock starts; the engine is then set up, measured for
``--seconds`` and checked.  The last line of standard output is one JSON
object: ``{"correct", "attempted", "failed", "metrics"}`` carrying every
end-to-end metric of ``BENCHMARK.json`` (``--trace 0``) or every
per-layer metric (``--trace 1``).  See ``cdcbench/README.md``.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import os
import shutil
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(1, ROOT)

#: driver memory pinned for the benchmark (the session default is 16g);
#: the heap starts at full size, so its resident size does not depend on
#: how far the collector chose to grow it in a given run
DRIVER_MEMORY = "2g"
#: the declared workload whose traced run also traces the ``llm`` layer,
#: over a ``corpus_dedup`` corpus, since no declared workload enters it
LLM_TRACED_WITH = "changefeed_lag"
#: seconds between two samples of the engine's resident size
RSS_EVERY_S = 0.2


def declared() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {"e2e": {m["name"]: m["unit"] for m in spec["end_to_end"]},
            "layer": {m["name"]: m["unit"] for m in spec["per_layer"]}}


def configure_env(work: str, tmp: str, cores: int, trace: bool) -> None:
    """Everything the engine writes stays inside the checkout; set before
    the JVM starts."""
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_DRIVER_MEMORY": DRIVER_MEMORY,
        "SPARK_GRAFT_UI": "1" if trace else "0",
        "TMPDIR": tmp,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_SUBMIT_ARGS": (
            f"--driver-java-options '-Djava.io.tmpdir={tmp} "
            f"-Xms{DRIVER_MEMORY}' "
            "--conf spark.ui.showConsoleProgress=false pyspark-shell"),
    })


class RssSampler:
    """Peak summed RSS of this process tree (driver JVM, Python driver,
    Python workers), leaving out the processes in ``not_engine``."""

    def __init__(self, not_engine: set[int]):
        self.not_engine = not_engine
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        from tracing import process_tree_rss_mb

        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, process_tree_rss_mb(
                os.getpid(), self.not_engine))
            self._stop.wait(RSS_EVERY_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


def start_session(ctx_cores: int):
    from ticdc_spark.session import get_spark

    os.environ["SPARK_GRAFT_CPUS"] = str(ctx_cores)
    return get_spark("cdcbench")


def stop_jvm(spark) -> None:
    """Stop the session, then the JVM the session launched, and wait."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            proc.wait(timeout=30)


def warm_wall(w, ctx) -> float:
    """Median of two ``batch_pass`` walls after one untimed pass: the
    first pass at a new size or core count runs cold."""
    w.batch_pass(ctx)
    return statistics.median(w.batch_pass(ctx) for _ in range(2))


def traced_layers(w, ctx, tr) -> dict:
    """After the timed window: the workload's traced pass, its overhead
    over the same pass untraced, the ``llm`` layer where this workload
    carries it, and the 1-core baseline (the untraced pass at local[1]
    over local[nproc]).  A layer the run does not enter is left out (it
    reads 0)."""
    from workloads import trace_llm_layer

    nproc_wall = warm_wall(w, ctx)
    tr.pass_id = 1
    layer = w.traced(ctx, tr)
    layer["trace.overhead_s"] = tr.seconds("pass") - nproc_wall
    if w.name == LLM_TRACED_WITH:
        tr.pass_id = 2
        layer.update(trace_llm_layer(ctx, tr))
    ctx.spark.stop()
    ctx.spark = start_session(1)
    layer["spark.speedup_vs_1core"] = warm_wall(w, ctx) / nproc_wall
    return layer


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if importlib.util.find_spec("ticdc_spark") is None:
        print("cdcbench: the ticdc_spark package is not in this checkout",
              file=sys.stderr)
        return 2
    spec = declared()
    from workloads import WORKLOADS

    if a.workload not in WORKLOADS:
        print(f"cdcbench: unknown workload {a.workload}", file=sys.stderr)
        return 2

    from bench import _cpu_steal_jiffies, _loadavg
    from downstream import Downstream
    from stats import highest_supported_percentile
    from tracing import Tracer, WindowMeter
    from workloads import Ctx

    cores = len(os.sched_getaffinity(0))
    base = os.path.join(ROOT, ".bench_work")
    work = os.path.join(base, f"run-{os.getpid()}")
    tmp = os.path.join(base, "tmp")
    os.makedirs(tmp, exist_ok=True)
    configure_env(work, tmp, cores, bool(a.trace))
    provenance = {"loadavg_start": _loadavg(),
                  "steal_start": _cpu_steal_jiffies()}

    w = WORKLOADS[a.workload]()
    w.prepare(work, a.seed, a.seconds)  # inputs exist before the clock starts

    ds = ctx = None
    try:
        t0 = time.perf_counter()
        ds = Downstream(ROOT)
        spark = start_session(cores)
        t_session = time.perf_counter()
        ctx = Ctx(spark, ds, work, a.seed)
        w.warm(ctx)
        setup_s = time.perf_counter() - t0
        layer = {"session.start_s": t_session - t0,
                 "session.warm_s": setup_s - (t_session - t0)}

        meter = WindowMeter(spark, ds, cores, bool(a.trace))
        with RssSampler(ctx.not_engine) as rss:
            r = w.timed(ctx, meter)
        e2e = {k: r[k] for k in ("rows_per_s", "lag_p50_s", "lag_p90_s")}
        e2e["setup_s"] = setup_s
        e2e["peak_rss_mb"] = rss.peak_mb

        if a.trace:
            tr = Tracer(a.workload)
            layer.update(meter.metrics)
            layer.update(traced_layers(w, ctx, tr))
            unknown = set(layer) - set(spec["layer"])
            if unknown:
                raise RuntimeError(f"undeclared per-layer metrics: {unknown}")
            metrics = {n: float(layer.get(n, 0.0)) for n in spec["layer"]}
            units = spec["layer"]
        else:
            metrics = {n: float(e2e[n]) for n in spec["e2e"]}
            units = spec["e2e"]

        provenance.update(loadavg_end=_loadavg(),
                          steal_delta=_cpu_steal_jiffies()
                          - provenance.pop("steal_start"))
        samples = r["attempted"]
        detail = {"workload": a.workload, "seed": a.seed, "cores": cores,
                  "samples": samples,
                  "highest_supported_percentile":
                      highest_supported_percentile(samples),
                  **provenance}
        print("cdcbench: " + json.dumps(detail), flush=True)
        if a.trace:
            tr.write(os.path.join(base, "trace",
                                  f"{a.workload}-seed{a.seed}.json"),
                     {"per_layer": metrics, "end_to_end": e2e, **detail})
        print(json.dumps({
            "correct": r["failed"] == 0, "attempted": r["attempted"],
            "failed": r["failed"],
            "metrics": {n: {"value": v, "unit": units[n]}
                        for n, v in metrics.items()},
        }), flush=True)
        return 0
    finally:
        if ctx is not None:
            stop_jvm(ctx.spark)
        if ds is not None:
            ds.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
