"""Read Spark's own event log (uncompressed JSON lines) into job and task
records, and roll them up per job group.

Only the four record types the benchmark needs are decoded; the large
SQL-plan records are skipped by their prefix without parsing.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
from dataclasses import dataclass, field

_WANTED = tuple(
    '{"Event":"%s"' % e
    for e in ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
              "SparkListenerStageCompleted")
)
MB = 1024.0 * 1024.0


@dataclass
class Task:
    stage: int
    launch_ms: int
    finish_ms: int
    gc_ms: int
    shuffle_write: int
    spill: int
    peak_mem: int


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    submit_ms: int
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: list[Job]
    tasks: list[Task]
    stages_run: set[int]

    def select(self, pred) -> "EventLog":
        """The jobs matching ``pred(job)`` and the tasks of their stages."""
        jobs = [j for j in self.jobs if pred(j)]
        stages = {s for j in jobs for s in j.stages}
        return EventLog(jobs, [t for t in self.tasks if t.stage in stages],
                        self.stages_run & stages)


def read(log_dir: str) -> EventLog:
    # one uncompressed, non-rolling file per application
    files = sorted(
        (p for p in glob.glob(os.path.join(log_dir, "*")) if not p.endswith(".crc")),
        key=os.path.getmtime,
    )
    jobs: dict[int, Job] = {}
    tasks: list[Task] = []
    stages_run: set[int] = set()
    for path in files:
        with open(path) as f:
            for line in f:
                if not line.startswith(_WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerTaskEnd":
                    m, info = e.get("Task Metrics") or {}, e["Task Info"]
                    tasks.append(Task(
                        stage=e["Stage ID"],
                        launch_ms=info["Launch Time"],
                        finish_ms=info["Finish Time"],
                        gc_ms=m.get("JVM GC Time", 0),
                        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                        peak_mem=m.get("Peak Execution Memory", 0),
                    ))
                elif kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    jobs[e["Job ID"]] = Job(
                        job_id=e["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        description=props.get("spark.job.description"),
                        submit_ms=e["Submission Time"],
                        stages=list(e["Stage IDs"]),
                    )
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]].end_ms = e["Completion Time"]
                else:
                    stages_run.add(e["Stage Info"]["Stage ID"])
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id), tasks, stages_run)


def union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def task_skew(tasks: list[Task]) -> float:
    """max / median task time in the widest stage (most tasks; the
    longest-running one on ties)."""
    by_stage: dict[int, list[int]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(max(t.finish_ms - t.launch_ms, 1))
    if not by_stage:
        return 0.0
    widest = max(by_stage.values(), key=lambda d: (len(d), sum(d)))
    return max(widest) / statistics.median(widest)


def summary(log: EventLog) -> dict:
    """Engine totals of a set of jobs."""
    return {
        "jobs": len(log.jobs),
        "stages": len(log.stages_run),
        "tasks": len(log.tasks),
        "shuffle_write_mb": sum(t.shuffle_write for t in log.tasks) / MB,
        "spill_mb": sum(t.spill for t in log.tasks) / MB,
        "gc_s": sum(t.gc_ms for t in log.tasks) / 1000.0,
        "task_skew": task_skew(log.tasks),
        "peak_exec_mem_mb": max((t.peak_mem for t in log.tasks), default=0) / MB,
    }
