"""Tracing for the benchmark's traced run: spans, the Spark status REST
API, and host provenance.

Spans are recorded from the benchmark's own files, around its calls into
each layer; they stay in memory and are written out once at the end.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager


class Tracer:
    """In-memory span recorder.  A span is (name, start, end, parent,
    workload, pass); a layer's self time is its span minus the part of
    that interval its child spans cover."""

    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[dict] = []
        self._stack: list[str] = []
        self.pass_id = 0

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None,
               "parent": self._stack[-1] if self._stack else None,
               "workload": self.workload, "pass": self.pass_id}
        self._stack.append(name)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()
            self.spans.append(rec)

    def seconds(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name)

    def self_seconds(self, name: str) -> float:
        total = 0.0
        for s in self.spans:
            if s["name"] != name:
                continue
            kids = sorted((c["start"], c["end"]) for c in self.spans
                          if c["parent"] == name and c["pass"] == s["pass"]
                          and c["start"] >= s["start"] and c["end"] <= s["end"])
            covered, cur_s, cur_e = 0.0, None, None
            for a, b in kids:
                if cur_e is None or a > cur_e:
                    if cur_e is not None:
                        covered += cur_e - cur_s
                    cur_s, cur_e = a, b
                else:
                    cur_e = max(cur_e, b)
            if cur_e is not None:
                covered += cur_e - cur_s
            total += (s["end"] - s["start"]) - covered
        return total

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "self_s": {n: self.self_seconds(n)
                                  for n in {s["name"] for s in self.spans}},
                       **extra}, f, indent=1)


class SparkRest:
    """Reader for the Spark status REST API (the UI must be on).
    ``snapshot()`` returns cumulative counters; the difference of two
    snapshots is the engine work done between them."""

    def __init__(self, spark):
        self.base = spark.sparkContext.uiWebUrl
        if not self.base:
            raise RuntimeError("Spark UI is off; the traced run needs it")
        self.app = spark.sparkContext.applicationId

    def _get(self, path: str):
        url = f"{self.base}/api/v1/applications/{self.app}/{path}"
        with urllib.request.urlopen(url, timeout=10) as r:
            return json.loads(r.read())

    def snapshot(self) -> dict:
        stages = self._get("stages?status=complete")
        jobs = self._get("jobs")
        return {
            "jobs": sum(1 for j in jobs if j.get("status") == "SUCCEEDED"),
            "tasks": sum(s.get("numCompleteTasks", 0) for s in stages),
            "executor_run_s": sum(s.get("executorRunTime", 0)
                                  for s in stages) / 1e3,
            "executor_cpu_s": sum(s.get("executorCpuTime", 0)
                                  for s in stages) / 1e9,
            "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
            "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0)
                                    for s in stages) / 1e6,
            "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0)
                                   for s in stages) / 1e6,
        }

    @staticmethod
    def delta(before: dict, after: dict) -> dict:
        return {k: after[k] - before[k] for k in after}


class WindowMeter:
    """Engine and stand-in cost over a workload's timed window, read from
    outside: the Spark status REST API and the stand-in process's CPU.
    Inert (``metrics`` stays empty) when the Spark UI is off."""

    def __init__(self, spark, ds, cores: int, on: bool):
        self.rest = SparkRest(spark) if on else None
        self.ds = ds
        self.cores = cores
        self.metrics: dict = {}

    def start(self) -> None:
        if self.rest is not None:
            self._start = (time.time(), self.rest.snapshot(), self.ds.cpu_s())

    def stop(self) -> None:
        if self.rest is None:
            return
        t0, snap0, cpu0 = self._start
        delta = SparkRest.delta(snap0, self.rest.snapshot())
        wall_s = time.time() - t0
        self.metrics = {f"spark.{k}": v for k, v in delta.items()}
        self.metrics["spark.idle_frac"] = (
            1.0 - delta["executor_run_s"] / (wall_s * self.cores))
        self.metrics["downstream.cpu_s"] = self.ds.cpu_s() - cpu0


def process_tree_rss_mb(root_pid: int, exclude: set[int]) -> float:
    """Summed RSS of ``root_pid`` and its descendants, skipping the
    subtrees rooted at ``exclude`` (the downstream stand-ins)."""
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    page = os.sysconf("SC_PAGE_SIZE")
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            with open(f"/proc/{name}/statm") as f:
                rss[int(name)] = int(f.read().split()[1]) * page
        except (OSError, ValueError, IndexError):
            continue
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root_pid]
    while todo:
        pid = todo.pop()
        if pid in exclude:
            continue
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total / 1e6
