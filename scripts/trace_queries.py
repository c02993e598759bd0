#!/usr/bin/env python
"""Time registry queries the way bench.py does, and break each down by layer.

    python scripts/trace_queries.py <query> [query ...]

Runs at $SPARK_GRAFT_SF_DIR on bench.py's session (``build_spark`` with an
event log), after bench.py's warm-up, with bench.py's adaptive min-of-N walk
and noop sink. Every sample's jobs are tagged through ``perfbench.eventlog``,
so each sample reads its own jobs and tasks, not a launch-time window.

Prints one JSON line per query:

  {"query", "samples", "min", "canary_ratio", "summary", "stages"}

``summary`` is ``EventLog.summary()`` of the fastest sample: spark.jobs,
stages and tasks, executor run and CPU time, the python.* Python-worker
time and bytes, shuffle write, spill, task skew and the driver gap.
``stages`` holds that sample's per-stage task totals. ``canary_ratio`` is
the host canary read right after the fastest sample over the quietest
canary of the run (≈1 quiet, >1.3 contended). Spark's executor CPU time
excludes the Python workers: for a query that runs Python kernels read
``python.run_s``.
"""

from __future__ import annotations

import itertools
import json
import os
import sys
import tempfile
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import bench  # noqa: E402
from perfbench.eventlog import MIB, EventLog, set_tag  # noqa: E402


def stage_totals(log: EventLog, tag: str) -> dict[str, dict[str, float]]:
    """Per-stage task count, run, CPU and Python time, shuffle write and
    spill over the tasks of ``tag``, by stage id."""
    totals: dict[int, dict[str, float]] = defaultdict(lambda: defaultdict(float))
    for t in log.tasks:
        if log.stage_tag.get(t.stage_id) != tag:
            continue
        s = totals[t.stage_id]
        s["tasks"] += 1
        s["run_s"] += t.run_ms / 1e3
        s["cpu_s"] += t.cpu_ns / 1e9
        s["python_run_s"] += t.python.get("python.run_s", 0.0)
        s["shuffle_write_mb"] += t.shuffle_write_bytes / MIB
        s["spill_mb"] += t.spill_bytes / MIB
    return {
        str(sid): {k: round(v, 3) for k, v in totals[sid].items()}
        for sid in sorted(totals)
    }


def main() -> None:
    names = sys.argv[1:]
    if not names:
        sys.exit(__doc__)

    import __spark_entry__

    qs = __spark_entry__.queries()
    unknown = [n for n in names if n not in qs]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    walks: dict[str, list[tuple[float, float]]] = {}
    with tempfile.TemporaryDirectory(prefix="trace_queries_") as log_dir:
        spark = bench.build_spark(event_log_dir=log_dir)
        spark.sparkContext.setLogLevel("ERROR")
        bench.warm_up(spark, qs)
        canaries = [bench.canary_s()]
        for name in names:
            sample = itertools.count()

            def run_once(name=name, sample=sample):
                set_tag(spark, f"{name}#{next(sample)}")
                bench.run_noop(qs[name](spark, bench.SF_DIR))
                set_tag(spark, None)

            walks[name] = bench.walk(spark, name, run_once, canaries)
        spark.stop()  # closes the event log
        log = EventLog.from_dir(log_dir)

    quietest = min(canaries)
    for name, samples in walks.items():
        best = min(range(len(samples)), key=lambda i: samples[i][0])
        secs, canary = samples[best]
        tag = f"{name}#{best}"
        summary = log.summary(tag, secs)
        print(
            json.dumps(
                {
                    "query": name,
                    "samples": [round(s, 3) for s, _ in samples],
                    "min": round(secs, 3),
                    "canary_ratio": round(canary / quietest, 3),
                    "summary": {k: round(v, 3) for k, v in summary.items()},
                    "stages": stage_totals(log, tag),
                }
            ),
            flush=True,
        )


if __name__ == "__main__":
    main()
