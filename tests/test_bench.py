"""The measurement tooling: bench.py's sample walk, the trace script
built on it, and the registry order that ``__spark_entry__`` exports."""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys
from types import SimpleNamespace

import pytest

import bench

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


class FakeHost:
    """A clock that advances only when a sample runs, and a canary that
    replays fixed readings."""

    def __init__(self, samples, canaries):
        self.now = 0.0
        self.samples = iter(samples)
        self.canaries = iter(canaries)
        self.runs = 0

    def perf_counter(self):
        return self.now

    def run_once(self):
        self.runs += 1
        self.now += next(self.samples)

    def canary_s(self):
        return next(self.canaries)


@pytest.mark.parametrize(
    "canary, runs",
    [
        # quiet: every reading at the run's quietest
        (0.02, 3),
        # contended: every reading after the seed is 1.5x the quietest
        (0.03, 8),
    ],
)
def test_timed_min_walks_while_the_canary_reads_contended(monkeypatch, canary, runs):
    """Samples that agree among themselves stop the walk at ``base``
    only when the canary says the window was quiet; a contended canary
    walks to ``cap``. Either way the reported value is the measured
    minimum."""
    times = [1.0, 0.95, 0.97, 0.96, 0.98, 0.99, 0.97, 0.96]
    host = FakeHost(times, [canary] * 8)
    monkeypatch.setattr(bench, "time", host)
    monkeypatch.setattr(bench, "canary_s", host.canary_s)
    spark = SimpleNamespace(catalog=SimpleNamespace(clearCache=lambda: None))

    got = bench.timed_min(spark, "q", host.run_once, canaries=[0.02])

    assert host.runs == runs
    assert got == round(min(times[:runs]), 3)


def test_front_has_no_duplicates_and_every_name_is_registered():
    import __spark_entry__ as entry

    assert len(entry.FRONT) == len(set(entry.FRONT))
    assert [n for n in entry.FRONT if n not in entry.QUERIES] == []
    assert list(entry.queries())[: len(entry.FRONT)] == entry.FRONT


def test_trace_queries_prints_one_line_per_query():
    env = dict(
        os.environ,
        SPARK_GRAFT_SF_DIR="/root/testdata/sf0.001",
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
    )
    out = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "trace_queries.py"), "scan_filter_project"],
        capture_output=True,
        text=True,
        timeout=600,
        env=env,
        cwd=ROOT,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    lines = out.stdout.splitlines()
    assert len(lines) == 1, out.stdout
    row = json.loads(lines[0])
    assert row["query"] == "scan_filter_project"
    assert row["min"] == min(row["samples"])
    assert row["summary"]["spark.jobs"] >= 1
    assert "python.run_s" in row["summary"]
    assert math.isfinite(row["canary_ratio"]) and row["canary_ratio"] >= 1.0
    assert row["stages"]
