"""Shared pieces of the benchmark: box settings, Spark sessions, spans,
the process-tree memory sampler and small statistics helpers.

Every Spark setting the benchmark depends on is fixed here and echoed in
the run's output, so a parent commit and a change run identically.
"""

from __future__ import annotations

import contextlib
import functools
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass, field

# Box settings: a 4-core, 15 GiB machine. The driver heap leaves room for
# the Python workers and the OS; shuffle/spill scratch and every output live
# under the run root, which is created fresh for each run.
CORES = 4
SHUFFLE_PARTITIONS = 8  # same plan at local[4] and local[1]
DRIVER_MEM = "6g"
SETUP_REPS = 3


@dataclass
class Settings:
    run_root: str
    trace: bool

    @property
    def event_log_dir(self) -> str:
        return os.path.join(self.run_root, "eventlog")

    @property
    def local_dir(self) -> str:
        return os.path.join(self.run_root, "spark-local")

    def describe(self) -> dict:
        return {
            "master": f"local[{CORES}] (cascade_bulk: also local[1])",
            "shuffle_partitions": SHUFFLE_PARTITIONS,
            "driver_memory": DRIVER_MEM,
            "spark_local_dir": self.local_dir,
            "run_root": self.run_root,
            "event_log": self.trace,
        }


def prepare_run_root(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(os.path.join(path, "tmp"))


def start_session(settings: Settings, cores: int, app: str):
    """(Re)start the SparkContext at ``local[cores]`` with the library's own
    planner config plus the benchmark's box settings. Stops any live
    context first; the JVM is reused."""
    from pyspark.sql import SparkSession

    from sequenzo_spark import get_spark

    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": settings.local_dir,
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(settings.run_root, "warehouse"),
        "spark.eventLog.enabled": "true" if settings.trace else "false",
    }
    if settings.trace:
        os.makedirs(settings.event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.dir": settings.event_log_dir,
                "spark.eventLog.compress": "true",
                "spark.eventLog.compression.codec": "zstd",
            }
        )
    spark = get_spark(
        app,
        cores=cores,
        shuffle_partitions=SHUFFLE_PARTITIONS,
        extra_conf=conf,
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


# ------------------------------------------------------------------ spans

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: str | None = None

    @property
    def elapsed(self) -> float:
        return self.end - self.start


@dataclass
class Tracer:
    """Wall-clock spans around the benchmark's calls into the library.

    Spans are kept in memory; the event-log reader attributes Spark jobs to
    them by time window after the run."""

    spans: list[Span] = field(default_factory=list)
    counts: dict[str, float] = field(default_factory=dict)
    _stack: list[str] = field(default_factory=list)

    @contextlib.contextmanager
    def span(self, name: str):
        s = Span(name, time.time(), parent=self._stack[-1] if self._stack else None)
        self._stack.append(name)
        try:
            yield s
        finally:
            self._stack.pop()
            s.end = time.time()
            self.spans.append(s)

    def total(self, name: str) -> float:
        return sum(s.elapsed for s in self.spans if s.name == name)

    def count(self, name: str, n: float = 1) -> None:
        self.counts[name] = self.counts.get(name, 0) + n

    def wrap(self, owner, attr: str, name: str):
        """Replace ``owner.attr`` by a wrapper that records a span and a
        call count per call; returns a function restoring the original."""
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapped(*a, **kw):
            self.count(name + ".calls")
            with self.span(name):
                return orig(*a, **kw)

        setattr(owner, attr, wrapped)
        return lambda: setattr(owner, attr, orig)


# -------------------------------------------------------- memory sampler

def _tree_rss_kb(root: int) -> int:
    children: dict[int, list[int]] = {}
    rss: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
            with open(f"/proc/{entry}/statm") as f:
                pages = int(f.read().split()[1])
        except OSError:
            continue  # the process ended while we listed it
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        pid = int(entry)
        children.setdefault(ppid, []).append(pid)
        rss[pid] = pages * (os.sysconf("SC_PAGE_SIZE") // 1024)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += rss.get(pid, 0)
        todo.extend(children.get(pid, []))
    return total


class PeakRss:
    """Samples the resident memory of this process and all its descendants
    (the JVM and the Python workers) every ``interval`` seconds."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, _tree_rss_kb(me))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        return False

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024


# ------------------------------------------------------------- helpers

def median(values: list[float]) -> float:
    return statistics.median(values)


def dir_stats(paths: list[str], small_bytes: int = 64 * 1024) -> dict:
    """Parquet data files under ``paths``: count, small-file count, bytes."""
    files = small = total = 0
    for root in paths:
        for d, _, names in os.walk(root):
            for n in names:
                if n.endswith(".parquet"):
                    size = os.path.getsize(os.path.join(d, n))
                    files += 1
                    small += size < small_bytes
                    total += size
    return {"files": files, "small_files": small, "bytes": total}
