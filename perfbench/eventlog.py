"""Offline reader for Spark's event log, attributing work to time windows.

Spark writes one zstd-compressed JSON-lines log per SparkContext;
``pyarrow.input_stream(path, compression="zstd")`` reads it without another
package. Jobs are attributed to a window by submission time and tasks by
launch time, so no label inside the library is needed: the windows come
from the benchmark's own spans and, for cascade stages and batches, from
``CascadeResult.wall_ms`` and the manifest's ``committed_at``/``wall_ms``.
"""

from __future__ import annotations

import json
import os
import statistics
from dataclasses import dataclass, field

import pyarrow as pa

PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_to_worker",
    "data returned from Python workers": "python.bytes_from_worker",
    "time to run Python workers": "python.worker_s",
}


@dataclass
class Job:
    start: float  # epoch seconds
    end: float


@dataclass
class Task:
    stage: tuple[str, int]  # (application, stage id)
    launch: float
    finish: float
    cpu_s: float
    gc_s: float
    shuffle_write: int
    spill: int
    python: dict[str, float] = field(default_factory=dict)


@dataclass
class EventLog:
    jobs: list[Job] = field(default_factory=list)
    tasks: list[Task] = field(default_factory=list)


def _events(path: str):
    with pa.input_stream(path, compression="zstd") as f:
        data = f.read()
    for line in data.splitlines():
        if line.strip():
            yield json.loads(line)


def _log_parts(directory: str) -> dict[str, list[str]]:
    """Event-log files per application, in order. Spark 4 writes each
    application as ``eventlog_v2_<app>/events_<n>_<app>.zstd``."""
    apps: dict[str, list[tuple[int, str]]] = {}
    for d, _, names in os.walk(directory):
        for n in names:
            if n.startswith("events_") and n.endswith(".zstd"):
                idx = int(n.split("_", 2)[1])
                apps.setdefault(d, []).append((idx, os.path.join(d, n)))
    return {app: [p for _, p in sorted(parts)] for app, parts in apps.items()}


def read_event_logs(directory: str) -> EventLog:
    log = EventLog()
    for app, parts in sorted(_log_parts(directory).items()):
        starts: dict[int, float] = {}  # job ids restart in every application
        for ev in (e for p in parts for e in _events(p)):
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                starts[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                t0 = starts.pop(ev["Job ID"], None)
                if t0 is not None:
                    log.jobs.append(Job(t0, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerTaskEnd":
                log.tasks.append(_task(app, ev))
    return log


def _task(app: str, ev: dict) -> Task:
    info = ev["Task Info"]
    m = ev.get("Task Metrics") or {}
    py: dict[str, float] = {}
    for acc in info.get("Accumulables", []):
        key = PYTHON_METRICS.get(acc.get("Name"))
        if key:
            scale = 1e-3 if key.endswith("_s") else 1  # timing metrics are ms
            py[key] = py.get(key, 0) + float(acc.get("Update", 0)) * scale
    return Task(
        stage=(app, ev["Stage ID"]),
        launch=info["Launch Time"] / 1000,
        finish=info["Finish Time"] / 1000,
        cpu_s=m.get("Executor CPU Time", 0) / 1e9,
        gc_s=m.get("JVM GC Time", 0) / 1000,
        shuffle_write=(m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
        spill=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
        python=py,
    )


def _inside(t: float, windows: list[tuple[float, float]]) -> bool:
    return any(a <= t <= b for a, b in windows)


def _covered(windows: list[tuple[float, float]], jobs: list[Job]) -> float:
    """Seconds of ``windows`` during which at least one job ran."""
    total = 0.0
    for a, b in windows:
        ivs = sorted((max(a, j.start), min(b, j.end)) for j in jobs if j.end > a and j.start < b)
        cur_s = cur_e = None
        for s, e in ivs:
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    total += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            total += cur_e - cur_s
    return total


def scope_metrics(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    """Spark work inside ``windows``: jobs by submission time, tasks by
    launch time, and the driver gap (window time with no job running)."""
    jobs = [j for j in log.jobs if _inside(j.start, windows)]
    tasks = [t for t in log.tasks if _inside(t.launch, windows)]
    by_stage: dict[tuple, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t.stage, []).append(t.finish - t.launch)
    # skew = sum over stages of the slowest task / sum of the median task:
    # 1.0 when every stage's tasks take equally long
    med = sum(statistics.median(d) for d in by_stage.values())
    skew = sum(max(d) for d in by_stage.values()) / med if med > 0 else 1.0
    out = {
        "jobs": len(jobs),
        "tasks": len(tasks),
        "exec_cpu_s": sum(t.cpu_s for t in tasks),
        "gc_s": sum(t.gc_s for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "task_skew": skew,
        "driver_gap_s": sum(b - a for a, b in windows) - _covered(windows, log.jobs),
    }
    for key in PYTHON_METRICS.values():
        out[key] = sum(t.python.get(key, 0) for t in tasks)
    return out
