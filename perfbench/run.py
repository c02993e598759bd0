#!/usr/bin/env python3
"""Benchmark of the extraction engine: one workload per process.

    python3 perfbench/run.py --workload xml_extract --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` under ``.perfbench_work/`` and removed at exit. One SparkSession
``local[N]`` (N = usable cores) runs a cold pass, then warm passes, one
at a time (closed loop, one client), until ``--seconds`` have passed.

``--trace 0`` prints the end-to-end metrics; ``--trace 1`` runs a plain, an
event-logged and another plain session and prints the per-layer metrics
(``layers.json`` maps each to the end-to-end metric and workload it
should move). Every output is checked; the last stdout line is one JSON
object, and the exit code is 1 when any check failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

from eventlog import EventLog, set_tag
from host import canary_s, tree_hwm_mb
from metrics import END_TO_END, PER_LAYER

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

N_SETUPS = 3
HEAP = "1g"
MIN_WARM_PASSES = 2


def cores() -> int:
    return len(os.sched_getaffinity(0))


def build_session(work_dir: str, event_log_dir: str | None = None):
    from pyspark.sql import SparkSession

    n = cores()
    tmp = os.path.join(work_dir, "tmp")
    builder = (
        SparkSession.builder.master(f"local[{n}]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", str(n))
        # a fixed-size heap keeps the JVM's share of peak RSS from
        # following G1's lazy heap growth
        .config("spark.driver.memory", HEAP)
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.local.dir", os.path.join(work_dir, "local"))
        .config("spark.sql.warehouse.dir", os.path.join(work_dir, "warehouse"))
        .config("spark.driver.extraJavaOptions", f"-Xms{HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    )
    if event_log_dir is not None:
        os.makedirs(event_log_dir, exist_ok=True)
        builder = (
            builder.config("spark.eventLog.enabled", "true")
            .config("spark.eventLog.dir", "file://" + event_log_dir)
            .config("spark.eventLog.compress", "false")
            .config("spark.eventLog.rolling.enabled", "false")
        )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def set_up(work_dir: str, event_log_dir: str | None = None):
    """Session build plus one tiny warm-up query; returns (session, seconds)."""
    t0 = time.perf_counter()
    spark = build_session(work_dir, event_log_dir)
    spark.range(1000).selectExpr("sum(id)").collect()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM that the sessions ran in and wait for it: PySpark's
    gateway exits when its stdin closes, taking the Python daemon along."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    proc.stdin.close()
    try:
        proc.wait(timeout=60)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = SparkContext._jvm = None


class Loop:
    """Closed-loop passes over one session, with the output checks, the
    host canary and the process tree's peak RSS around each pass."""

    def __init__(self, spark, workload):
        self.spark = spark
        self.wl = workload
        self.jvm_pid = spark.sparkContext._gateway.proc.pid
        self.attempted = 0
        self.failures: list[str] = []
        self.canary: list[float] = []
        self.peak_rss_mb = 0.0
        self.walls: dict[str, float] = {}

    def one(self, pass_tag: str) -> float:
        self.canary.append(canary_s())
        t0 = time.perf_counter()
        try:
            failures = self.wl.run(self.spark, pass_tag)
        except Exception as e:  # a failed pass is counted, the run goes on
            failures = [f"{pass_tag}: {type(e).__name__}: {str(e)[:200]}"]
        wall = time.perf_counter() - t0
        set_tag(self.spark, None)
        if not failures:
            failures = self.wl.check()
        self.attempted += self.wl.executions
        self.failures += failures
        self.peak_rss_mb = max(self.peak_rss_mb, tree_hwm_mb(self.jvm_pid))
        self.walls[pass_tag] = wall
        return wall

    def until(self, seconds: float, prefix: str) -> dict[str, float]:
        """Warm passes until ``seconds`` have passed (at least
        MIN_WARM_PASSES); pass tag → wall seconds."""
        walls: dict[str, float] = {}
        deadline = time.perf_counter() + seconds
        while len(walls) < MIN_WARM_PASSES or time.perf_counter() < deadline:
            ptag = f"{prefix}{len(walls) + 1}"
            walls[ptag] = self.one(ptag)
        return walls

    def verify(self) -> None:
        attempted, failures = self.wl.verify(self.spark)
        self.attempted += attempted
        self.failures += failures


def phase(wl, work_dir: str, seconds: float, prefix: str, log_dir=None, after=None):
    """One session: set-up, a cold pass, warm passes for ``seconds``, then
    ``after(spark, loop)``. Returns (loop, warm pass walls, set-up seconds,
    what ``after`` returned)."""
    spark, took = set_up(work_dir, log_dir)
    try:
        loop = Loop(spark, wl)
        loop.one(f"{prefix}0")
        warm = loop.until(seconds, prefix)
        extra = after(spark, loop) if after is not None else None
    finally:
        spark.stop()  # also flushes and closes an event log
    return loop, warm, took, extra


def end_to_end(wl, work_dir: str, seconds: float) -> tuple[dict, list[Loop]]:
    setups = []
    for _ in range(N_SETUPS - 1):
        spark, took = set_up(work_dir)
        setups.append(took)
        spark.stop()
    loop, warm, took, _ = phase(wl, work_dir, seconds, "pass", after=lambda _, lp: lp.verify())
    setups.append(took)
    pass_s = statistics.median(warm.values())
    metrics = {
        "setup_s": statistics.median(setups),
        "first_pass_s": loop.walls["pass0"],
        "pass_s": pass_s,
        "items_per_s": wl.n_items / pass_s,
        "peak_rss_mb": loop.peak_rss_mb,
    }
    return metrics, [loop]


def traced(wl, work_dir: str, seconds: float) -> tuple[dict, list[Loop]]:
    """Three sessions in one JVM: plain (warms the JVM up), traced, plain
    again. The tracing overhead compares the last two, which run in an
    equally warm JVM."""
    def stages_then_verify(spark, loop):
        walls = wl.stages(spark)
        loop.verify()
        return walls

    log_dir = os.path.join(work_dir, "eventlog")
    before, _, _, _ = phase(wl, work_dir, seconds / 3, "before")
    loop, warm, _, stage_walls = phase(
        wl, work_dir, seconds / 3, "pass", log_dir, after=stages_then_verify
    )
    after, warm_after, _, _ = phase(wl, work_dir, seconds / 3, "after")
    log = EventLog.from_dir(log_dir)

    def per_pass(ptag: str, wall: float | None = None) -> dict[str, float]:
        return log.summary_of(lambda t: t is not None and t.split("|")[0] == ptag, wall)

    passes = [per_pass(p, w) for p, w in warm.items()]
    metrics = {k: 0.0 for k in PER_LAYER}
    for key in passes[0]:
        metrics[key] = statistics.median(p[key] for p in passes)
    metrics["python.start_s"] = per_pass("pass0")["python.start_s"]

    med = {s: statistics.median(w) for s, w in stage_walls.items()}
    shuffle = {
        s: statistics.median(
            log.summary(f"stage|{s}|{r}")["spark.shuffle_write_mb"] for r in range(len(w))
        )
        for s, w in stage_walls.items()
    }
    metrics.update(wl.stage_metrics(med, shuffle))
    metrics.update(wl.microbench())

    for q in getattr(wl, "QUERIES", ()):
        def of_query(p):
            return log.summary_of(lambda t: t is not None and t.startswith(f"{p}|{q}|"))

        per_q = [of_query(p) for p in warm]
        timed_q = [wl.times[p, q] for p in warm if (p, q) in wl.times]  # failed runs have none
        if timed_q:
            metrics[f"queries.{q}.build_s"] = statistics.median(t[0] for t in timed_q)
            metrics[f"queries.{q}.action_s"] = statistics.median(t[1] for t in timed_q)
        metrics[f"queries.{q}.jobs"] = statistics.median(s["spark.jobs"] for s in per_q)
        metrics[f"queries.{q}.python_run_s"] = statistics.median(s["python.run_s"] for s in per_q)

    canary = before.canary + loop.canary + after.canary
    metrics["host.canary_ratio"] = statistics.median(canary) / min(canary)
    metrics["trace.overhead_s"] = statistics.median(warm.values()) - statistics.median(
        warm_after.values()
    )
    return metrics, [before, loop, after]


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(1, ROOT)
    try:
        from workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: the engine is not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2

    work_dir = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    tmp = os.path.join(work_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # Python workers import the engine by name and inherit this environment.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work_dir, "local")
    try:
        wl = WORKLOADS[args.workload]()
        sizes = wl.prepare(work_dir, args.seed)
        run = traced if args.trace else end_to_end
        metrics, loops = run(wl, work_dir, args.seconds)
    finally:
        stop_jvm()
        shutil.rmtree(work_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work_dir))
        except OSError:
            pass  # another run still uses it

    attempted = sum(lp.attempted for lp in loops)
    failures = [f for lp in loops for f in lp.failures]
    for f in failures[:20]:
        print(f"perfbench: FAILED {f}", file=sys.stderr)
    units = PER_LAYER if args.trace else END_TO_END
    canary = [c for lp in loops for c in lp.canary]
    print(
        f"perfbench {args.workload} seed={args.seed} trace={args.trace} "
        f"inputs={json.dumps(sizes)} failed_frac={len(failures) / attempted:.4f} "
        f"({len(failures)}/{attempted} executions) "
        f"canary_ms={1e3 * statistics.median(canary):.1f} "
        f"canary_ratio={statistics.median(canary) / min(canary):.3f} passes_s="
        + json.dumps({p: round(w, 3) for lp in loops for p, w in lp.walls.items()})
    )
    for name, unit in units.items():
        print(f"  {name} = {metrics[name]:.6g} {unit}")
    print(json.dumps({
        "correct": not failures,
        "attempted": attempted,
        "failed": len(failures),
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
