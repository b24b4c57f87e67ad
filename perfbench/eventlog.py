"""Spark event log parsing: jobs per job group, with their intervals,
stages, tasks, task run time and shuffle bytes.

A stage belongs to the first job that lists it; a later job that lists
the same stage skipped it.  Only stages that completed, and the tasks
that ended in them, count.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass
class Job:
    job_id: int
    group: str | None
    start_ms: int
    end_ms: int | None = None
    succeeded: bool = False
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    task_run_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0


@dataclass
class Group:
    jobs: list = field(default_factory=list)

    def total(self, attr: str) -> int:
        return sum(getattr(j, attr) for j in self.jobs)

    def intervals(self) -> list[tuple[int, int]]:
        return [
            (j.start_ms, j.end_ms) for j in self.jobs if j.end_ms is not None
        ]


def parse(lines) -> dict[int, Job]:
    """Jobs by id from an iterable of event-log JSON lines."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            job = Job(
                job_id=ev["Job ID"],
                group=props.get("spark.jobGroup.id"),
                start_ms=ev["Submission Time"],
            )
            jobs[job.job_id] = job
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, job.job_id)
        elif kind == "SparkListenerJobEnd":
            job = jobs.get(ev["Job ID"])
            if job is not None:
                job.end_ms = ev["Completion Time"]
                job.succeeded = (
                    ev.get("Job Result", {}).get("Result") == "JobSucceeded"
                )
        elif kind == "SparkListenerStageCompleted":
            job = jobs.get(stage_job.get(ev["Stage Info"]["Stage ID"]))
            if job is not None:
                job.stages += 1
        elif kind == "SparkListenerTaskEnd":
            job = jobs.get(stage_job.get(ev["Stage ID"]))
            if job is None:
                continue
            info = ev.get("Task Info", {})
            job.tasks += 1
            if info.get("Failed") or info.get("Killed"):
                job.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            job.task_run_ms += m.get("Executor Run Time", 0)
            rd = m.get("Shuffle Read Metrics") or {}
            job.shuffle_read_bytes += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            )
            wr = m.get("Shuffle Write Metrics") or {}
            job.shuffle_write_bytes += wr.get("Shuffle Bytes Written", 0)
    return jobs


def parse_dir(path: str) -> dict[int, Job]:
    """Jobs from the finished event log of the one application that
    wrote under ``path`` (a single file, or a rolling-log directory)."""
    files = []
    for dirpath, _dirs, names in os.walk(path):
        files += [os.path.join(dirpath, n) for n in names
                  if not n.endswith(".inprogress")
                  and not n.startswith("appstatus")]
    lines: list[str] = []
    for name in sorted(files):
        with open(name) as f:
            lines += f.readlines()
    return parse(lines)


def by_group(jobs: dict[int, Job]) -> dict[str, Group]:
    out: dict[str, Group] = {}
    for job in jobs.values():
        if job.group is not None:
            out.setdefault(job.group, Group()).jobs.append(job)
    return out


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total = 0.0
    cur_a = cur_b = None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total
