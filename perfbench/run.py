"""Benchmark entry point.

    python3 perfbench/run.py --workload cascade_bulk --seed 1 --seconds 5 --trace 0

Runs one workload from the root of a source checkout, checks its outputs,
prints a readable report and, as the last line, one JSON object:
``{"correct", "attempted", "failed", "metrics"}``. With ``--trace 0`` the
metrics are the end-to-end metrics of BENCHMARK.json; with ``--trace 1`` the
run also writes Spark's event log and times the benchmark's calls into the
library, and the metrics are the per-layer ones.

Everything the run writes (staged inputs, Spark scratch, outputs, the event
log) lives under ``.perfbench_run/`` in the checkout and is deleted at exit.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("cascade_bulk", "query_mix")


def _parse(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def _isolate(run_root: str) -> None:
    """Keep Spark, the JVM and the Python workers inside the run root."""
    tmp = os.path.join(run_root, "tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(run_root, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher included: temp files here, and no
    # hsperfdata file in the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    import tempfile

    tempfile.tempdir = tmp


def _stop_jvm() -> None:
    """Stop the Py4J gateway JVM this process started and wait for it."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:  # never leave the JVM behind
            proc.kill()
            proc.wait(timeout=30)
    SparkContext._gateway = None
    SparkContext._jvm = None


def _layer_metrics(outcome, tracer, settings) -> None:
    """Fill the event-log and wrapped-call metrics of a traced run."""
    from perfbench.eventlog import read_event_logs, scope_metrics

    lay = outcome.layers
    log = read_event_logs(settings.event_log_dir)
    for scope, windows in outcome.scopes.items():
        m = scope_metrics(log, windows)
        if scope == "eager":
            lay["query.eager_jobs"] = m["jobs"]
            continue
        for k, v in m.items():
            if k.startswith("python."):
                if scope == "total":
                    lay[k] = v
            else:
                lay[f"spark.{scope}.{k}"] = v
    lay["manifest.commit_s"] = tracer.total("manifest.commit")
    lay["manifest.completed_s"] = tracer.total("manifest.completed")
    lay["manifest.commits"] = tracer.counts.get("manifest.commit.calls", 0)
    stage = lay.get("cascade.rollup_1m_s", 0) + lay.get("cascade.rollup_1h1d_s", 0)
    if stage:
        lay["cascade.write_commit_s"] = stage - (
            lay.get("aggregates.rollup_1m_compute_s", 0)
            + lay.get("aggregates.merge_1h1d_compute_s", 0)
            + lay.get("gorilla.compress_s", 0)
        )
    lay["trace.work_s"] = outcome.e2e["work_s"]


def main(argv=None) -> int:
    args = _parse(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    sys.path.insert(0, ROOT)
    import sequenzo_spark  # noqa: F401 — fail fast without the library

    from perfbench import harness

    run_root = os.path.join(ROOT, ".perfbench_run", args.workload)
    harness.prepare_run_root(run_root)
    _isolate(run_root)
    settings = harness.Settings(run_root=run_root, trace=bool(args.trace))
    tracer = harness.Tracer()
    restore = []
    try:
        if args.trace:
            from sequenzo_spark.checkpoint.manifest import Manifest

            restore = [
                tracer.wrap(Manifest, "commit", "manifest.commit"),
                tracer.wrap(Manifest, "completed", "manifest.completed"),
            ]
        if args.workload == "cascade_bulk":
            from perfbench import cascade_bulk as workload
        else:
            from perfbench import query_mix as workload
        with harness.PeakRss() as rss:
            outcome = workload.run(settings, args.seed, args.seconds, tracer)
        outcome.layers["memory.peak_rss_mb"] = rss.peak_mb
        outcome.put("peak_rss_mb", rss.peak_mb, "MB")
        outcome.put(
            "failed_ops_frac", outcome.failed / max(1, outcome.attempted), "ratio"
        )
        if args.trace:
            _layer_metrics(outcome, tracer, settings)
    finally:
        for undo in restore:
            undo()
        _stop_jvm()
        shutil.rmtree(run_root, ignore_errors=True)

    print(f"# workload {args.workload} seed {args.seed} trace {args.trace}")
    print("# settings " + json.dumps(settings.describe()))
    top: dict[str, float] = {}
    for s in tracer.spans:
        if s.parent is None:
            top[s.name] = top.get(s.name, 0.0) + s.elapsed
    print("# seconds " + " ".join(f"{k}={v:.2f}" for k, v in top.items()))
    for name, (value, unit) in outcome.report.items():
        print(f"{name:28s} {value:>16.6g} {unit}")
    for op, why in outcome.failed_ops.items():
        print(f"FAILED {op}: {why}".rstrip())

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = outcome.layers if args.trace else outcome.e2e
    metrics = {}
    for m in wanted:
        value = float(source.get(m["name"], 0.0))
        metrics[m["name"]] = {"value": value if math.isfinite(value) else 0.0, "unit": m["unit"]}
    print(
        json.dumps(
            {
                "correct": outcome.failed == 0,
                "attempted": outcome.attempted,
                "failed": outcome.failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
