"""Spark event-log reader: per-scope task time, shuffle, spill, failures
and idle-core time.

A scope is either a job group (`SparkContext.setJobGroup`) or a
[start, end] wall-clock window; jobs submitted from threads that do not
inherit the caller's job group (for example the kNN tier pool) are
attributed by submission time. The log must be written uncompressed
(`spark.eventLog.compress=false`).

Standalone use prints one row per job group:

    python3 perfbench/eventlog.py <event-log dir or file> [cores]
"""

from __future__ import annotations

import glob
import json
import os
import sys
from dataclasses import dataclass, field


@dataclass
class Task:
    launch: float  # epoch seconds
    finish: float
    cpu_s: float
    shuffle_write: int
    spill: int
    failed: bool


@dataclass
class Job:
    job_id: int
    group: str | None
    submit: float
    end: float | None = None
    stages: list[int] = field(default_factory=list)


@dataclass
class EventLog:
    jobs: dict[int, Job]
    tasks_by_stage: dict[int, list[Task]]
    cores: int

    def tasks_of(self, jobs: list[Job]) -> list[Task]:
        """Tasks of the given jobs; a stage shared by several jobs counts
        once."""
        seen: set[int] = set()
        out: list[Task] = []
        for j in jobs:
            for s in j.stages:
                if s not in seen:
                    seen.add(s)
                    out.extend(self.tasks_by_stage.get(s, ()))
        return out


def event_files(path: str) -> list[str]:
    """A single log file, or the files of a (rolling) log directory."""
    if os.path.isfile(path):
        return [path]
    files = sorted(glob.glob(os.path.join(path, "**", "events_*"), recursive=True))
    if not files:
        files = sorted(
            f for f in glob.glob(os.path.join(path, "*")) if os.path.isfile(f) and not f.endswith(".inprogress")
        )
    return files


def read_log(path: str, cores: int) -> EventLog:
    jobs: dict[int, Job] = {}
    tasks: dict[int, list[Task]] = {}
    for fn in event_files(path):
        with open(fn, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = Job(
                        job_id=ev["Job ID"],
                        group=props.get("spark.jobGroup.id"),
                        submit=ev["Submission Time"] / 1000.0,
                        stages=list(ev.get("Stage IDs", ())),
                    )
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    info = ev.get("Task Info") or {}
                    m = ev.get("Task Metrics") or {}
                    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
                    tasks.setdefault(ev["Stage ID"], []).append(
                        Task(
                            launch=info.get("Launch Time", 0) / 1000.0,
                            finish=info.get("Finish Time", 0) / 1000.0,
                            cpu_s=m.get("Executor CPU Time", 0) / 1e9,
                            shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                            spill=m.get("Disk Bytes Spilled", 0),
                            failed=bool(info.get("Failed")) or reason != "Success",
                        )
                    )
    return EventLog(jobs=jobs, tasks_by_stage=tasks, cores=cores)


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of the intervals."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def scope_metrics(log: EventLog, jobs: list[Job], start: float, end: float) -> dict[str, float]:
    """Event-log metrics of one scope: the given jobs over [start, end]."""
    tasks = log.tasks_of(jobs)
    wall = max(end - start, 1e-9)
    busy = sum(max(t.finish - t.launch, 0.0) for t in tasks)
    return {
        "wall_s": end - start,
        "executor_cpu_s": sum(t.cpu_s for t in tasks),
        "shuffle_write_mb": sum(t.shuffle_write for t in tasks) / 1e6,
        "spill_mb": sum(t.spill for t in tasks) / 1e6,
        "jobs": float(len(jobs)),
        "failed_tasks": float(sum(t.failed for t in tasks)),
        "driver_only_s": wall - _covered([(t.launch, t.finish) for t in tasks], start, end),
        "core_util": busy / (wall * log.cores),
    }


def assign_jobs(log: EventLog, spans: list[dict]) -> dict[str, list[Job]]:
    """span id -> jobs it caused directly. A job whose group names a span
    belongs to it; any other job belongs to the innermost span whose
    window contains its submission time (ties go to the later-started,
    i.e. deeper, span)."""
    by_id = {s["id"]: s for s in spans}
    out: dict[str, list[Job]] = {s["id"]: [] for s in spans}
    for job in log.jobs.values():
        if job.group in by_id:
            out[job.group].append(job)
            continue
        inside = [s for s in spans if s["start"] <= job.submit <= s["end"]]
        if inside:
            out[max(inside, key=lambda s: s["start"])["id"]].append(job)
    return out


def span_metrics(log: EventLog, spans: list[dict]) -> dict[str, dict[str, float]]:
    """span id -> metrics over the span's own jobs and its descendants'."""
    direct = assign_jobs(log, spans)
    children: dict[str | None, list[str]] = {}
    for s in spans:
        children.setdefault(s.get("parent"), []).append(s["id"])

    def subtree(sid: str) -> list[Job]:
        jobs = list(direct[sid])
        for c in children.get(sid, ()):
            jobs.extend(subtree(c))
        return jobs

    return {s["id"]: scope_metrics(log, subtree(s["id"]), s["start"], s["end"]) for s in spans}


def group_report(log: EventLog) -> dict[str, dict[str, float]]:
    """job group -> metrics, the window being first submission to last end."""
    groups: dict[str, list[Job]] = {}
    for j in log.jobs.values():
        groups.setdefault(j.group or "<none>", []).append(j)
    return {
        g: scope_metrics(log, js, min(j.submit for j in js), max((j.end or j.submit) for j in js))
        for g, js in groups.items()
    }


def main(argv: list[str]) -> int:
    if not argv:
        print(__doc__)
        return 2
    cores = int(argv[1]) if len(argv) > 1 else os.cpu_count() or 1
    for group, m in sorted(group_report(read_log(argv[0], cores)).items()):
        print(group, json.dumps({k: round(v, 4) for k, v in m.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
