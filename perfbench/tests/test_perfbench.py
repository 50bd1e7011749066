"""Tests of the benchmark itself, on tiny inputs.

Run from the repository root:  python -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import cascade_bulk, query_mix, run  # noqa: E402
from perfbench.eventlog import read_event_logs, scope_metrics  # noqa: E402
from perfbench.outcome import Outcome  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)

# metrics the readable report carries, by workload, with their units
REPORTED = {
    "cascade_bulk": {
        "setup_s": "s",
        "cascade_turns_per_s": "1/s",
        "cascade_turns_per_s_1core": "1/s",
        "scaling_eff_1v4": "ratio",
        "tier_read_s": "s",
        "stored_bytes_per_turn": "B",
        "resume_s": "s",
        "peak_rss_mb": "MB",
        "failed_ops_frac": "ratio",
    },
    "query_mix": {
        "setup_s": "s",
        "query_suite_s": "s",
        "query_p50_s": "s",
        "peak_rss_mb": "MB",
        "failed_ops_frac": "ratio",
    },
}


def test_spec_is_well_formed():
    assert set(SPEC) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 1 <= SPEC["run_seconds"] <= 60
    assert 2 <= len(SPEC["workloads"]) <= 8
    assert [w["name"] for w in SPEC["workloads"]] == list(run.WORKLOADS)
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert all(0 < m["bound"] <= 0.25 for m in e2e.values())
    assert e2e["setup_s"]["bound"] == max(m["bound"] for m in e2e.values())
    assert 1 <= len(SPEC["per_layer"]) <= 128


# Full runs go through a fresh interpreter, as a benchmark run does, with
# the workload sizes shrunk before ``run.main`` starts.
TINY = """
import sys
sys.path.insert(0, {root!r})
from perfbench import cascade_bulk, harness, query_mix, run
cascade_bulk.N_CONVS, cascade_bulk.GIANT_TURNS, cascade_bulk.SALT_BUCKETS = 20, 60, 2
query_mix.QUERY_FAMILIES = query_mix.QUERY_FAMILIES[:3]
harness.SETUP_REPS = 1
sys.exit(run.main(sys.argv[1:]))
"""


def _main(*args: str) -> tuple[str, dict]:
    p = subprocess.run(
        [sys.executable, "-c", TINY.format(root=ROOT), *args],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return p.stdout, json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_every_metric_prints_with_its_unit(workload):
    text, result = _main("--workload", workload, "--seed", "5", "--seconds", "0", "--trace", "0")
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    assert all(v["value"] > 0 for v in result["metrics"].values())
    for name, unit in REPORTED[workload].items():
        assert re.search(rf"^{name}\s+\S+ {re.escape(unit)}$", text, re.M), name
    assert not os.path.exists(os.path.join(ROOT, ".perfbench_run", workload))


def test_traced_run_prints_every_layer_metric():
    _, result = _main("--workload", "cascade_bulk", "--seed", "5", "--seconds", "0", "--trace", "1")
    want = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in result["metrics"].items()} == want
    got = {k: v["value"] for k, v in result["metrics"].items()}
    for name in ("spark.rollup_1h1d.jobs", "gorilla.points", "manifest.commits",
                 "python.bytes_to_worker", "trace.work_s"):
        assert got[name] > 0, name


# ---------------------------------------------------------- gate: cascade

@pytest.fixture(scope="module")
def cascade_out(tmp_path_factory):
    from sequenzo_spark import get_spark

    root = str(tmp_path_factory.mktemp("cascade"))
    spark = get_spark("perfbench-tests", cores=2, shuffle_partitions=2)
    mp = pytest.MonkeyPatch()
    mp.setattr(cascade_bulk, "N_CONVS", 20)
    mp.setattr(cascade_bulk, "GIANT_TURNS", 60)
    mp.setattr(cascade_bulk, "SALT_BUCKETS", 2)
    n = cascade_bulk._stage_input(spark, 9, f"{root}/staged")
    cascade_bulk._cascade(spark, f"{root}/staged", f"{root}/out", "t", resume=False)
    yield spark, root, n
    mp.undo()


def _rewrite_first(path: str, fn) -> None:
    """Apply ``fn`` to the first parquet file under ``path``, in place. The
    checksum sidecar goes too, so the read succeeds and the gate has to
    catch the wrong values itself."""
    for d, _, names in sorted(os.walk(path)):
        for name in sorted(names):
            if name.endswith(".parquet"):
                f = os.path.join(d, name)
                # INT96 timestamps, as Spark writes them
                pq.write_table(fn(pq.read_table(f)), f, use_deprecated_int96_timestamps=True)
                os.remove(os.path.join(d, f".{name}.crc"))
                return
    raise AssertionError(f"no parquet file under {path}")


def _copy(root: str, tag: str) -> str:
    out = f"{root}/{tag}"
    shutil.copytree(f"{root}/out", out)
    return out


def test_gate_passes_on_a_clean_cascade(cascade_out):
    spark, root, n = cascade_out
    assert cascade_bulk.check_tiers(spark, f"{root}/staged", f"{root}/out", n) == []


def test_gate_rejects_a_corrupted_tier_file(cascade_out):
    spark, root, n = cascade_out
    out = _copy(root, "bad_tier")

    def bump(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index("n_turns")
        return t.set_column(i, "n_turns", pc.add(t.column(i), 1))

    _rewrite_first(f"{out}/rollup_1h/state_counts", bump)
    bad = cascade_bulk.check_tiers(spark, f"{root}/staged", out, n)
    assert any("1h state_counts" in b for b in bad), bad


def test_gate_rejects_a_corrupted_chunk_blob(cascade_out):
    spark, root, n = cascade_out
    out = _copy(root, "bad_chunk")

    def flip(t: pa.Table) -> pa.Table:
        i = t.schema.get_field_index("val_blob")
        blobs = t.column(i).to_pylist()
        blobs[0] = blobs[0][:-1] + bytes([blobs[0][-1] ^ 0xFF])
        return t.set_column(i, "val_blob", pa.array(blobs, pa.binary()))

    _rewrite_first(f"{out}/gorilla/chunks", flip)
    assert cascade_bulk.check_tiers(spark, f"{root}/staged", out, n)


# ------------------------------------------------------------ gate: queries

@pytest.fixture(scope="module")
def query_oracle(tmp_path_factory):
    import duckdb

    from sequenzo_spark.driver_queries import ORACLE_SQL

    d, names = query_mix.TABLES_DIR, query_mix.TABLE_NAMES
    con = duckdb.connect()
    for t in names:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')")
    want = {q: con.execute(ORACLE_SQL[q]).df() for q in ("transition_counts", "spell_stats")}
    con.close()
    return d, names, want


def test_query_gate_accepts_matching_results(query_oracle):
    d, names, want = query_oracle
    out = Outcome(ops=list(want))
    query_mix.gate({q: df.copy() for q, df in want.items()}, d, names, out)
    assert out.failed == 0


def test_query_gate_rejects_a_corrupted_result(query_oracle):
    d, names, want = query_oracle
    results = {q: df.copy() for q, df in want.items()}
    df = results["transition_counts"]
    col = [c for c in df.columns if df[c].dtype.kind in "iuf"][-1]
    df.loc[0, col] = df.loc[0, col] + 1
    out = Outcome(ops=list(results))
    query_mix.gate(results, d, names, out)
    assert set(out.failed_ops) == {"transition_counts"}
    assert out.failed / out.attempted == 0.5


def test_query_set_is_fixed(monkeypatch):
    picked = query_mix.selected_queries()
    assert len(picked) == len(query_mix.QUERY_FAMILIES) == len(set(picked.values()))
    monkeypatch.setattr(query_mix, "QUERY_FAMILIES", (("no_such_query", "sql"),))
    with pytest.raises(KeyError, match="no_such_query"):
        query_mix.selected_queries()


# --------------------------------------------------------------- event log

def test_event_log_attribution(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()

    def task(stage, t0, t1, cpu_ns):
        return {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": stage,
            "Task Info": {
                "Launch Time": t0, "Finish Time": t1,
                "Accumulables": [{"Name": "data sent to Python workers", "Update": "100"}],
            },
            "Task Metrics": {"Executor CPU Time": cpu_ns, "JVM GC Time": 5,
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 7}},
        }

    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000},
        task(0, 1000, 2000, 10**9),
        task(0, 1000, 4000, 10**9),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 4000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9500},
    ]
    with pa.output_stream(str(app / "events_1_local-1.zstd"), compression="zstd") as f:
        f.write("\n".join(json.dumps(e) for e in events).encode())
    log = read_event_logs(str(tmp_path))
    m = scope_metrics(log, [(0.5, 6.0)])
    assert m["jobs"] == 1 and m["tasks"] == 2
    assert m["exec_cpu_s"] == pytest.approx(2.0)
    assert m["shuffle_write_bytes"] == 14
    assert m["driver_gap_s"] == pytest.approx(5.5 - 3.0)
    assert m["task_skew"] == pytest.approx(3.0 / 2.0)
    assert m["python.bytes_to_worker"] == 200


def test_fails_without_the_library(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=170, env=env,
    )
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
