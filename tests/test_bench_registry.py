"""The registry's bench tags (``queries.BENCH``) and the A/B harness
(``tools/abab.py``) that times registry queries by them."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from ticdc_spark.queries import BENCH, BENCH_TAGS, ORACLES, QUERIES, register

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_benched_queries_are_registered_with_oracles():
    assert BENCH
    assert [n for n in BENCH if n not in QUERIES] == []
    assert [n for n in BENCH if n not in ORACLES] == []


def test_bench_tags_are_known():
    assert BENCH_TAGS == ("plan", "build", "endpoint")
    assert set(BENCH.values()) <= set(BENCH_TAGS)
    with pytest.raises(ValueError, match="bench tag"):
        register("no_such_query", None, bench="wall")
    assert "no_such_query" not in QUERIES


def test_abab_smoke_alternates_arms_and_counts_exchanges(sf_dir, tmp_path):
    """Both arms on this checkout, 2 pairs of one cheap query: 4 samples
    in A B B A order, each with a steal reading, and one plan (with its
    Exchange count) per arm."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "tools", "abab.py"),
         "--a", ROOT, "--b", ROOT, "-n", "2", "--plans", "compaction"],
        cwd=tmp_path, env=dict(os.environ, SPARK_GRAFT_SF_DIR=sf_dir),
        capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    samples = [ln.split() for ln in lines if ln.startswith("sample ")]
    assert [s[4] for s in samples] == ["A:", "B:", "B:", "A:"]
    assert all(s[-1].startswith("steal=") for s in samples)
    plans = [ln for ln in lines if ln.startswith("plan ")]
    assert [ln.split()[2] for ln in plans] == ["A:", "B:"]

    summary = json.loads(lines[-1])
    assert summary["arms"]["A"]["package"] == os.path.join(
        ROOT, "ticdc_spark")
    per_query = summary["queries"]["compaction"]
    for arm in ("A", "B"):
        got = per_query[arm]
        assert len(got["samples"]) == 2
        assert all(isinstance(s["steal"], int) for s in got["samples"])
        assert got["exchanges"] >= 1  # the compaction fold shuffles
        with open(got["plan"]) as f:
            assert "Exchange" in f.read()
    assert per_query["A"]["exchanges"] == per_query["B"]["exchanges"]
