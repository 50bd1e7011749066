"""Workload ``query_mix``: driver queries over the fixture tables.

A closed loop with one client: each query is built, executed and collected
(``toPandas``) before the next one starts; the four ``release_*`` functions
drop persisted caches between queries, untimed. Each query first runs once
untimed, which pays Spark's code generation and the JVM's JIT for its plan,
then once timed. The cascade is never touched, so this workload is the
no-change prediction for cascade changes (and the cascade workload is the
no-change prediction for query changes).

The tables are the sf0.01 fixture tables (``TESTDATA.md``: seed 42, the
scale of the DuckDB oracle gate), kept byte for byte under
``perfbench/tables/sf0.01`` and only read. The seed sets the query order
and nothing else.

Query results are collected rather than sent to a noop sink so that the
correctness gate checks the very rows that were timed instead of running
every query a second time. The gate (untimed) compares each oracled query
with DuckDB running its ``ORACLE_SQL`` on the same parquet files,
normalized as in ``tests/test_driver_oracle_parity.py``; a query without an
oracle must return at least one row.

A full pass over all queries does not fit the run budget (every query pays
a fixed planning, job and code-generation cost of about a second), so the
workload runs the fixed set ``QUERY_FAMILIES``: one query per library
module family (``operators/``, ``pipeline/``, ``functions/``; ``sql`` for
plain DataFrame code).
"""

from __future__ import annotations

import os
import random
import time
import traceback

from perfbench import harness
from perfbench.outcome import Outcome

TABLES_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "tables", "sf0.01")
TABLE_NAMES = (
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings",
)

# (query name in driver_queries.QUERIES, family): fixed, so that a parent
# and a change always time the same queries
QUERY_FAMILIES = (
    ("state_dist_hourly", "distributions"),
    ("transition_counts", "transitions"),
    ("spell_stats", "spells"),
    ("seq_indicators", "indicators"),
    ("seqconc", "sql"),
    ("gapfill_locf_minutely", "gapfill"),
    ("person_period", "reshape"),
    ("find_seq_occurrences", "seqops"),
    ("domain_combine_counts", "multidomain"),
    ("ngram_jaccard_pairs", "dedup"),
    ("quality_metrics", "text"),
    ("cosine_topk", "similarity"),
    ("frequent_event_subseq", "subsequences"),
    ("prefix_tree_stats", "prefix_tree"),
    ("suffix_tree_stats", "suffix_tree"),
    ("emlt_transrate", "emlt"),
    ("spell_survival", "survival"),
    ("badness_index", "ranked"),
    ("duration_features", "features"),
    ("sequence_history", "history"),
)


def selected_queries() -> dict[str, str]:
    """query name -> family; raises if a query is no longer in QUERIES."""
    from sequenzo_spark.driver_queries import QUERIES

    missing = [name for name, _ in QUERY_FAMILIES if name not in QUERIES]
    if missing:
        raise KeyError(f"benchmark queries missing from driver_queries.QUERIES: {missing}")
    return dict(QUERY_FAMILIES)


def release_caches() -> None:
    from sequenzo_spark.operators.prefix_tree import release_prefix_caches
    from sequenzo_spark.operators.subsequences import release_stats_caches
    from sequenzo_spark.operators.suffix_tree import release_suffix_caches
    from sequenzo_spark.pipeline.dedup import release_sig_caches

    release_sig_caches()
    release_stats_caches()
    release_prefix_caches()
    release_suffix_caches()


# ------------------------------------------------------------------ gate

def _normalize(df):
    import pandas as pd

    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        elif pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].astype("float64")
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def _kind(dtype) -> str:
    return "i" if dtype.kind in "iu" else dtype.kind


def oracle_mismatch(got_raw, want_raw) -> str | None:
    """Why a Spark result differs from the DuckDB oracle's, or None."""
    import pandas as pd

    got, want = _normalize(got_raw), _normalize(want_raw)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} != {list(want.columns)}"
    for c in got.columns:
        if _kind(got_raw[c].dtype) != _kind(want_raw[c].dtype):
            return f"{c}: dtype kind {got_raw[c].dtype} != oracle {want_raw[c].dtype}"
    if len(got) != len(want):
        return f"{len(got)} rows != oracle {len(want)}"
    try:
        pd.testing.assert_frame_equal(got, want, check_exact=True, check_dtype=False)
    except AssertionError as e:
        return str(e).splitlines()[0]
    return None


def gate(results: dict, tables_dir: str, table_names, out: Outcome) -> None:
    import duckdb

    from sequenzo_spark.driver_queries import ORACLE_SQL

    con = duckdb.connect()
    try:
        for t in table_names:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{tables_dir}/{t}.parquet')"
            )
        for name, pdf in results.items():
            if name not in ORACLE_SQL:
                out.check(name, len(pdf) > 0, "no oracle and no rows")
                continue
            try:
                why = oracle_mismatch(pdf, con.execute(ORACLE_SQL[name]).df())
            except Exception:  # noqa: BLE001 — an oracle that cannot run rejects the query
                why = "oracle raised: " + traceback.format_exc(limit=2)
            out.check(name, why is None, f"oracle mismatch: {why}")
    finally:
        con.close()


# ----------------------------------------------------------------- run

def run(settings: harness.Settings, seed: int, seconds: float, tracer: harness.Tracer) -> Outcome:
    from sequenzo_spark.driver_queries import QUERIES

    out = Outcome()
    picked = selected_queries()

    # set-up: (re)start the session; the tables are only read, in place
    starts = []
    for _ in range(harness.SETUP_REPS):
        with tracer.span("session.start") as s:
            spark = harness.start_session(settings, harness.CORES, "perfbench-queries")
        starts.append(s.elapsed)

    def execute(name: str):
        with tracer.span(f"query.build:{picked[name]}"):
            df = QUERIES[name](spark, TABLES_DIR)
        with tracer.span(f"query.exec:{picked[name]}"):
            return df.toPandas()

    def compile_then_time(name: str):
        # the first execution of a plan pays Spark's code generation and the
        # JVM's JIT; it runs untimed so the timed run measures the query
        with tracer.span("query.compile"):
            QUERIES[name](spark, TABLES_DIR).toPandas()
        release_caches()
        t0 = time.time()
        pdf = execute(name)
        return pdf, time.time() - t0

    order = sorted(picked)
    random.Random(seed).shuffle(order)
    passes: list[dict[str, float]] = []
    results: dict[str, object] = {}
    t_measure = time.time()
    while not passes or time.time() - t_measure < seconds:
        lat: dict[str, float] = {}
        for name in order:
            op = name if not passes else f"{name}#{len(passes)}"
            r = out.guard(op, compile_then_time, name)
            if r is not None:
                results.setdefault(name, r[0])
                lat[name] = r[1]
            release_caches()
        passes.append(lat)

    try:
        gate(results, TABLES_DIR, TABLE_NAMES, out)
    except Exception:  # noqa: BLE001 — the whole gate failing rejects every query
        why = traceback.format_exc(limit=3)
        for name in results:
            out.fail(name, "gate raised: " + why)
    spark.stop()

    # per query: median over passes; the pass total is the suite time
    per_query = {
        n: harness.median([p[n] for p in passes if n in p])
        for n in order
        if any(n in p for p in passes)
    }
    lats = list(per_query.values())
    suite, p50 = sum(lats), harness.median(lats)
    out.e2e.update(setup_s=harness.median(starts), work_s=suite)
    out.put("setup_s", harness.median(starts), "s")
    out.put("query_suite_s", suite, "s")
    out.put("query_p50_s", p50, "s")
    out.put("query_max_s", max(lats), "s")
    out.put("queries", len(lats), "count")
    out.put("passes", len(passes), "count")

    lay = out.layers
    lay["session.start_s"] = harness.median(starts)
    lay["query.suite_s"] = suite
    lay["query.p50_s"] = p50
    lay["query.max_s"] = max(lats)
    n_pass = len(passes)
    lay["query.plan_s"] = sum(
        s.elapsed for s in tracer.spans if s.name.startswith("query.build:")
    ) / n_pass
    lay["query.exec_s"] = sum(
        s.elapsed for s in tracer.spans if s.name.startswith("query.exec:")
    ) / n_pass
    lay["query.compile_s"] = tracer.total("query.compile") / n_pass
    for name, fam in picked.items():
        key = f"query.{fam}.s"
        lay[key] = lay.get(key, 0.0) + per_query.get(name, 0.0)
        out.scopes.setdefault(f"query.{fam}", [])
    for s in tracer.spans:
        if s.name.startswith(("query.build:", "query.exec:")):
            fam = s.name.split(":", 1)[1]
            out.scopes[f"query.{fam}"].append((s.start, s.end))
            out.scopes.setdefault("total", []).append((s.start, s.end))
            if s.name.startswith("query.build:"):
                out.scopes.setdefault("eager", []).append((s.start, s.end))
    return out
