"""Spark event-log reader: jobs, tasks and their timings per job group.

`session.get_spark` writes an uncompressed, non-rolling JSON-lines event
log when `SPARK_GRAFT_EVENTLOG` names a directory. The benchmark puts each
traced call under its own job group (`SparkContext.setJobGroup`) and,
through `trace.tag_call_sites`, a job description naming the package
source line that triggered the job; this module turns the log back into
per-group numbers.

Time decomposition of a span [t0, t1] (epoch ms) over the jobs of its
group:
  - exec: union of [first task launch, job end] over the jobs;
  - sched_delay: union of [job submit, job end] minus exec, i.e. time a
    submitted job waited for its first task;
  - driver_gap: the rest of the span, when no job of the group was
    running (Python, planning, py4j round trips, result handling).
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

MB = 1024 * 1024
_WANTED = tuple(
    f'{{"Event":"SparkListener{kind}"'
    for kind in ("JobStart", "JobEnd", "TaskEnd")
)


@dataclass
class Job:
    job_id: int
    group: str | None
    description: str | None
    submit: int
    stage_ids: list[int]
    end: int | None = None
    first_launch: int | None = None
    task_ms: list[int] = field(default_factory=list)
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0


def _log_files(evdir: str) -> list[str]:
    out = []
    for root, _, files in os.walk(evdir):
        out += [os.path.join(root, f) for f in files if not f.startswith("appstatus")]
    return sorted(out)


def read_jobs(evdir: str) -> list[Job]:
    """Every job in the event logs under `evdir`, tasks attributed to the
    lowest job id that lists their stage (a shuffle stage shared by later
    jobs runs once, in the first job, and is skipped afterwards)."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    for path in _log_files(evdir):
        with open(path) as fh:
            for line in fh:
                # most of the log is SQL plan events; skip them unparsed
                if not line.startswith(_WANTED):
                    continue
                try:
                    ev = json.loads(line)
                except ValueError:
                    continue  # a torn last line of a log still being written
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    job = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        description=props.get("spark.job.description"),
                        submit=ev["Submission Time"],
                        stage_ids=list(ev.get("Stage IDs", [])),
                    )
                    jobs[job.job_id] = job
                    for sid in job.stage_ids:
                        stage_job.setdefault(sid, job.job_id)
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(ev["Stage ID"], -1))
                    if job is None:
                        continue
                    info = ev.get("Task Info") or {}
                    launch, finish = info.get("Launch Time"), info.get("Finish Time")
                    if launch is not None:
                        if job.first_launch is None or launch < job.first_launch:
                            job.first_launch = launch
                        if finish is not None:
                            job.task_ms.append(finish - launch)
                    m = ev.get("Task Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    job.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get(
                        "Local Bytes Read", 0
                    )
                    job.shuffle_write += sw.get("Shuffle Bytes Written", 0)
                    job.spill += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return sorted((j for j in jobs.values() if j.end is not None), key=lambda j: j.submit)


def _union_ms(intervals: list[tuple[int, int]]) -> int:
    total, cur_s, cur_e = 0, None, None
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


def summarize(jobs: list[Job], t0_ms: int, t1_ms: int) -> dict:
    """Numbers for one span: `jobs` are the jobs of its group, clipped to
    the span [t0_ms, t1_ms]."""
    wall = max(t1_ms - t0_ms, 1)
    busy, run = [], []
    task_ms: list[int] = []
    for j in jobs:
        s, e = max(j.submit, t0_ms), min(j.end, t1_ms)
        if e <= s:
            continue
        busy.append((s, e))
        launch = min(max(j.first_launch if j.first_launch is not None else e, s), e)
        run.append((launch, e))
        task_ms += j.task_ms
    busy_ms, exec_ms = _union_ms(busy), _union_ms(run)
    med = statistics.median(task_ms) if task_ms else 0
    return {
        "wall_s": wall / 1000,
        "jobs": len(busy),
        "tasks": len(task_ms),
        "exec_s": exec_ms / 1000,
        "sched_delay_s": (busy_ms - exec_ms) / 1000,
        "driver_gap_s": (wall - busy_ms) / 1000,
        "shuffle_read_mb": sum(j.shuffle_read for j in jobs) / MB,
        "shuffle_write_mb": sum(j.shuffle_write for j in jobs) / MB,
        "spill_mb": sum(j.spill for j in jobs) / MB,
        "task_ms_max": max(task_ms) if task_ms else 0,
        "task_ms_median": med,
        "task_skew": (max(task_ms) / med) if med else 1.0,
    }
