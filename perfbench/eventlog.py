"""Reader for Spark's JSON event log: per-tag job, stage and task totals.

The benchmark sets the local property ``TAG_PROPERTY`` before each timed
segment; Spark copies local properties into every JobStart and
StageSubmitted event, so jobs and the tasks of their stages can be
attributed to the segment that ran them. The log must be written
uncompressed and unrolled (``spark.eventLog.compress=false``,
``spark.eventLog.rolling.enabled=false``); the directory is walked
recursively all the same.
"""

from __future__ import annotations

import json
import os
import statistics
from collections import defaultdict
from dataclasses import dataclass, field

TAG_PROPERTY = "perfbench.tag"
MIB = float(1 << 20)

# SQL metrics of the Python runners (mapInPandas, pandas UDFs, ...), as
# they appear in TaskEnd accumulables: name → (metric key, scale to s/MiB).
PYTHON_ACCUMULABLES = {
    "time to run Python workers": ("python.run_s", 1e-3),
    "time to start Python workers": ("python.start_s", 1e-3),
    "data sent to Python workers": ("python.mb_sent", 1 / MIB),
    "data returned from Python workers": ("python.mb_returned", 1 / MIB),
}


def set_tag(spark, value: str | None) -> None:
    """Tag the jobs the calling thread submits from now on."""
    spark.sparkContext.setLocalProperty(TAG_PROPERTY, value)


@dataclass
class Task:
    stage_id: int
    run_ms: int
    cpu_ns: int
    shuffle_write_bytes: int
    spill_bytes: int
    python: dict = field(default_factory=dict)


@dataclass
class Job:
    job_id: int
    tag: str | None
    submit_ms: int
    end_ms: int | None = None


class EventLog:
    """Jobs and tasks of one or more event-log files, indexed by tag."""

    def __init__(self, events):
        self.jobs: dict[int, Job] = {}
        self.stage_tag: dict[int, str | None] = {}
        self.tasks: list[Task] = []
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                tag = (ev.get("Properties") or {}).get(TAG_PROPERTY)
                self.jobs[ev["Job ID"]] = Job(ev["Job ID"], tag, ev["Submission Time"])
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end_ms = ev["Completion Time"]
            elif kind == "SparkListenerStageSubmitted":
                stage_id = ev["Stage Info"]["Stage ID"]
                self.stage_tag[stage_id] = (ev.get("Properties") or {}).get(TAG_PROPERTY)
            elif kind == "SparkListenerTaskEnd":
                self.tasks.append(_task(ev))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        return cls(_walk_events(log_dir))

    def summary(self, tag: str, wall_s: float | None = None) -> dict[str, float]:
        """spark.* and python.* totals over the jobs and tasks of ``tag``.
        With the segment's wall time, ``spark.driver_gap_s`` is the part
        of it that no job interval covers."""
        return self.summary_of(lambda t: t == tag, wall_s)

    def summary_of(self, match, wall_s: float | None = None) -> dict[str, float]:
        jobs = [j for j in self.jobs.values() if match(j.tag)]
        tasks = [t for t in self.tasks if match(self.stage_tag.get(t.stage_id))]
        out = {
            "spark.jobs": float(len(jobs)),
            "spark.stages": float(len({t.stage_id for t in tasks})),
            "spark.tasks": float(len(tasks)),
            "spark.executor_run_s": sum(t.run_ms for t in tasks) / 1e3,
            "spark.executor_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
            "spark.shuffle_write_mb": sum(t.shuffle_write_bytes for t in tasks) / MIB,
            "spark.spill_mb": sum(t.spill_bytes for t in tasks) / MIB,
            "spark.task_skew": task_skew(tasks),
        }
        for key, _ in PYTHON_ACCUMULABLES.values():
            out[key] = sum(t.python.get(key, 0.0) for t in tasks)
        if wall_s is not None:
            out["spark.driver_gap_s"] = wall_s - union_ms(jobs) / 1e3
        return out


def task_skew(tasks: list[Task]) -> float:
    """Max over median task run time in the stage whose slowest task is
    slowest (stages of one task have no skew and are skipped); 1.0 when
    no stage has two tasks."""
    by_stage: dict[int, list[int]] = defaultdict(list)
    for t in tasks:
        by_stage[t.stage_id].append(t.run_ms)
    multi = [runs for runs in by_stage.values() if len(runs) > 1]
    if not multi:
        return 1.0
    worst = max(multi, key=max)
    return max(worst) / max(statistics.median(worst), 1.0)


def union_ms(jobs: list[Job]) -> float:
    """Length of the union of [submit, end] over finished jobs, in ms."""
    spans = sorted((j.submit_ms, j.end_ms) for j in jobs if j.end_ms is not None)
    total = 0
    cur_start = cur_end = None
    for start, end in spans:
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return float(total)


def _task(ev: dict) -> Task:
    metrics = ev.get("Task Metrics") or {}
    shuffle = metrics.get("Shuffle Write Metrics") or {}
    python: dict[str, float] = {}
    for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
        known = PYTHON_ACCUMULABLES.get(acc.get("Name"))
        if known is None or acc.get("Update") is None:
            continue
        key, scale = known
        python[key] = python.get(key, 0.0) + float(acc["Update"]) * scale
    return Task(
        stage_id=ev["Stage ID"],
        run_ms=int(metrics.get("Executor Run Time", 0)),
        cpu_ns=int(metrics.get("Executor CPU Time", 0)),
        shuffle_write_bytes=int(shuffle.get("Shuffle Bytes Written", 0)),
        spill_bytes=int(metrics.get("Disk Bytes Spilled", 0)),
        python=python,
    )


def _walk_events(log_dir: str):
    for root, _, files in os.walk(log_dir):
        for name in sorted(files):
            if name.startswith(".") or name.endswith(".crc"):
                continue
            with open(os.path.join(root, name), encoding="utf-8") as f:
                for line in f:
                    line = line.strip()
                    if line:
                        yield json.loads(line)
