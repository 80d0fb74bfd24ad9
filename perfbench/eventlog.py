"""Per-layer metrics from an uncompressed Spark event log.

The traced run enables ``spark.eventLog.enabled`` with compression off. The
benchmark tags each timed iteration with a job group from its own thread;
jobs that the program submits from its own worker threads carry no such
group, so they are attributed to the iteration whose time window holds their
submission. Task metrics then roll up to the jobs of one iteration.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

# SQL accumulables that the Python/Arrow boundary operators publish per task
PY_RUN = "time to run Python workers"  # milliseconds
PY_SENT = "data sent to Python workers"  # bytes
PY_RETURNED = "data returned from Python workers"  # bytes


@dataclass
class Job:
    job_id: int
    submit_ms: int
    end_ms: int | None
    group: str | None
    stage_ids: list[int]


@dataclass
class Task:
    stage_id: int
    result_task: bool
    run_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    result_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    output_bytes: int = 0
    output_records: int = 0
    py_run_ms: int = 0
    py_sent_bytes: int = 0
    py_returned_bytes: int = 0


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    completed_stages: set[int] = field(default_factory=set)
    tasks: list[Task] = field(default_factory=list)


@dataclass(frozen=True)
class Window:
    """One timed iteration: its job group and wall-clock span (epoch ms)."""

    name: str
    group: str
    start_ms: float
    end_ms: float


def event_files(log_dir: str) -> list[str]:
    """Event files under ``log_dir``, oldest first.

    Spark 4 writes one rolling ``eventlog_v2_<app>/events_<n>_<app>``
    directory per application.
    """
    out = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if entry.startswith("eventlog_v2_") and os.path.isdir(path):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            out.extend(os.path.join(path, f) for f in parts)
    return out


def read_events(paths: list[str]) -> list[dict]:
    events = []
    for path in paths:
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line:
                    continue
                try:
                    events.append(json.loads(line))
                except json.JSONDecodeError:
                    # a log cut while in progress ends in a partial line
                    break
    return events


def _task(event: dict) -> Task:
    m = event.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    inp = m.get("Input Metrics") or {}
    out = m.get("Output Metrics") or {}
    acc = {
        a.get("Name"): a.get("Update")
        for a in (event.get("Task Info") or {}).get("Accumulables", [])
    }
    return Task(
        stage_id=event["Stage ID"],
        result_task=event.get("Task Type") == "ResultTask",
        run_ms=m.get("Executor Run Time", 0),
        cpu_ns=m.get("Executor CPU Time", 0),
        gc_ms=m.get("JVM GC Time", 0),
        result_bytes=m.get("Result Size", 0),
        input_bytes=inp.get("Bytes Read", 0),
        input_records=inp.get("Records Read", 0),
        shuffle_read_bytes=sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
        spill_bytes=m.get("Disk Bytes Spilled", 0),
        output_bytes=out.get("Bytes Written", 0),
        output_records=out.get("Records Written", 0),
        py_run_ms=int(acc.get(PY_RUN) or 0),
        py_sent_bytes=int(acc.get(PY_SENT) or 0),
        py_returned_bytes=int(acc.get(PY_RETURNED) or 0),
    )


def parse(events: list[dict]) -> EventLog:
    log = EventLog()
    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            log.jobs[e["Job ID"]] = Job(
                job_id=e["Job ID"],
                submit_ms=e["Submission Time"],
                end_ms=None,
                group=props.get("spark.jobGroup.id"),
                stage_ids=list(e.get("Stage IDs", [])),
            )
        elif kind == "SparkListenerJobEnd":
            job = log.jobs.get(e["Job ID"])
            if job is not None:
                job.end_ms = e["Completion Time"]
        elif kind == "SparkListenerStageCompleted":
            log.completed_stages.add(e["Stage Info"]["Stage ID"])
        elif kind == "SparkListenerTaskEnd":
            log.tasks.append(_task(e))
    return log


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by a set of possibly overlapping intervals."""
    total = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted(i for i in intervals if i[1] > i[0]):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def assign_jobs(log: EventLog, windows: list[Window]) -> dict[str, list[Job]]:
    """Jobs per window: by the benchmark's job group, else by submission time.

    A job without one of the windows' groups (submitted from a program
    thread, or under a group the program set itself) belongs to the window
    that holds its submission. Jobs in no window (set-up, warm-up, the
    benchmark's own probes) are dropped.
    """
    by_group = {w.group: w.name for w in windows}
    out: dict[str, list[Job]] = {w.name: [] for w in windows}
    for job in log.jobs.values():
        name = by_group.get(job.group)
        if name is None:
            for w in windows:
                if w.start_ms <= job.submit_ms <= w.end_ms:
                    name = w.name
                    break
        if name is not None:
            out[name].append(job)
    return out


def _skew(tasks: list[Task]) -> float:
    """Max over stages of max/median task run time (1.0 = perfectly even)."""
    runs: dict[int, list[int]] = {}
    for t in tasks:
        runs.setdefault(t.stage_id, []).append(t.run_ms)
    worst = 1.0
    for r in runs.values():
        med = statistics.median(r)
        if len(r) >= 2 and med > 0:
            worst = max(worst, max(r) / med)
    return worst


def window_metrics(log: EventLog, window: Window, jobs: list[Job]) -> dict[str, float]:
    """Per-layer metrics of one iteration from its jobs' tasks."""
    stage_ids = {s for j in jobs for s in j.stage_ids}
    tasks = [t for t in log.tasks if t.stage_id in stage_ids]
    job_spans = [
        (max(j.submit_ms, window.start_ms), min(j.end_ms or window.end_ms, window.end_ms))
        for j in jobs
    ]
    wall_ms = window.end_ms - window.start_ms
    return {
        "exec.jobs": len(jobs),
        "exec.stages": len(stage_ids & log.completed_stages),
        "exec.tasks": len(tasks),
        "exec.task_run_s": sum(t.run_ms for t in tasks) / 1e3,
        "exec.task_cpu_s": sum(t.cpu_ns for t in tasks) / 1e9,
        "exec.gc_s": sum(t.gc_ms for t in tasks) / 1e3,
        "exec.skew": _skew(tasks),
        "scan.input_bytes": sum(t.input_bytes for t in tasks),
        "scan.input_records": sum(t.input_records for t in tasks),
        "shuffle.write_bytes": sum(t.shuffle_write_bytes for t in tasks),
        "shuffle.read_bytes": sum(t.shuffle_read_bytes for t in tasks),
        "spill.bytes": sum(t.spill_bytes for t in tasks),
        "write.bytes": sum(t.output_bytes for t in tasks),
        "write.records": sum(t.output_records for t in tasks),
        "collect.result_bytes": sum(t.result_bytes for t in tasks if t.result_task),
        "arrow.py_run_s": sum(t.py_run_ms for t in tasks) / 1e3,
        "arrow.bytes_to_py": sum(t.py_sent_bytes for t in tasks),
        "arrow.bytes_from_py": sum(t.py_returned_bytes for t in tasks),
        "driver.gap_s": (wall_ms - union_length(job_spans)) / 1e3,
    }


def iteration_metrics(log_dir: str, windows: list[Window]) -> list[dict[str, float]]:
    """``window_metrics`` for every window, in window order."""
    log = parse(read_events(event_files(log_dir)))
    jobs = assign_jobs(log, windows)
    return [window_metrics(log, w, jobs[w.name]) for w in windows]
