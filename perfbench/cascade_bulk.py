"""Workload ``cascade_bulk``: the raw→1m→1h→1d cascade, end to end.

One staged synthetic input (seeded ``generate_transcripts``) goes through
four timed legs, each started only after the previous one ends:

1. kill→resume at local[4]: a run with an injected failure after the
   rollup_1m commit, then the resume that completes it
2. ``run_cascade`` at local[4], one batch per stage
3. read back every tier table and decode every Gorilla chunk
4. ``run_cascade`` at local[1] on the same staged input

The correctness gate (untimed) then checks the local[4] tiers against
direct computations from the raw turns, that Gorilla decodes to the tier
points bit-exactly, and that the resumed and the local[1] runs committed
the same per-partition manifest checksums as the local[4] run. A traced
run times the rollup aggregates and the Gorilla encoder on their own only
after leg 4, so its timed legs run as in an untraced run.

At this size the cascade is bound by its fixed per-stage and per-batch
cost (jobs, dynamic-partition commits, metrics collects, manifest
commits), not by data volume; the numbers say so rather than hide it.
"""

from __future__ import annotations

import os
import shutil
import time
import traceback
from datetime import timezone

import pyarrow.parquet as pq

from perfbench import harness
from perfbench.outcome import Outcome

N_CONVS = 1000
GIANT_TURNS = 1000
SALT_BUCKETS = 8
FAIL_AFTER_BATCHES = 2  # one batch per stage: fails after the rollup_1m commit
TIER_TABLES = [
    f"{tier}/{t}"
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d")
    for t in ("state_counts", "transitions", "spells")
]
CHUNK_KEYS = ["tier", "conv_bucket", "state", "part_date"]


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _cascade(spark, staged: str, out: str, job_id: str, **kw):
    from sequenzo_spark.rollup.cascade import run_cascade
    from sequenzo_spark.schema import ROLE_ALPHABET

    return run_cascade(
        spark,
        spark.read.parquet(staged),
        out,
        states=ROLE_ALPHABET,
        salt_buckets=SALT_BUCKETS,
        job_id=job_id,
        **kw,
    )


def _stage_input(spark, seed: int, path: str) -> int:
    from sequenzo_spark.synth import generate_transcripts

    generate_transcripts(
        spark,
        n_convs=N_CONVS,
        seed=seed,
        giant_conv_turns=GIANT_TURNS,
        partitions=harness.CORES * 2,
    ).write.mode("overwrite").parquet(path)
    return spark.read.parquet(path).count()


def _read_tiers(spark, out: str, tracer: harness.Tracer) -> None:
    from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks

    with tracer.span("tiers.scan"):
        for t in TIER_TABLES:
            _noop(spark.read.parquet(f"{out}/{t}"))
    with tracer.span("gorilla.decompress"):
        chunks = spark.read.parquet(f"{out}/gorilla/chunks")
        _noop(gorilla_decompress_chunks(chunks, key_cols=CHUNK_KEYS, value_col="value"))


def _kill_and_resume(spark, staged: str, out: str, tracer: harness.Tracer):
    from sequenzo_spark.rollup.cascade import InjectedFailure

    t0 = time.time()
    with tracer.span("cascade.killed_run"):
        try:
            _cascade(spark, staged, out, "resume", fail_after_batches=FAIL_AFTER_BATCHES)
        except InjectedFailure:
            pass
        else:
            raise RuntimeError("the injected failure did not fire")
    with tracer.span("cascade.resume") as s:
        res = _cascade(spark, staged, out, "resume")
    return res, s.elapsed, time.time() - t0


def _manifest_rows(out: str) -> set[tuple]:
    t = pq.read_table(f"{out}/_manifest").to_pylist()
    return {
        (r["stage"], r["partition_key"], r["table"], r["rows_out"], r["checksum"])
        for r in t
    }


def _tier_points(spark, out: str):
    """The points the Gorilla chunks encode: ``w_sum`` of ``state_counts``
    at each tier, keyed like the chunks."""
    from pyspark.sql import functions as F

    points = None
    for tier in ("1m", "1h", "1d"):
        p = spark.read.parquet(f"{out}/rollup_{tier}/state_counts").select(
            F.lit(tier).alias("tier"),
            "conv_bucket",
            "state",
            F.col("part_date").cast("string").alias("part_date"),
            F.col("time_bucket").alias("ts"),
            F.col("w_sum").alias("value"),
        )
        points = p if points is None else points.unionByName(p)
    return points


def gate_tiers(spark, staged: str, out: str, n_turns: int) -> list[str]:
    """Tier checks on a finished cascade; returns the failed checks."""
    from pyspark.sql import functions as F

    from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks
    from sequenzo_spark.operators.transitions import transition_counts
    from sequenzo_spark.rollup.aggregates import with_conv_bucket
    from sequenzo_spark.rollup.cascade import text_passthrough_violations

    def same(a, b) -> bool:
        return a.exceptAll(b).limit(1).count() == 0 and b.exceptAll(a).limit(1).count() == 0

    bad = []
    raw = spark.read.parquet(staged)
    encoded = spark.read.parquet(f"{out}/encode")
    if text_passthrough_violations(raw, encoded) != 0:
        bad.append("text_passthrough_violations != 0")

    direct_1h = (
        with_conv_bucket(raw, buckets=SALT_BUCKETS)
        .groupBy(
            "conv_bucket",
            F.date_trunc("hour", "ts").alias("time_bucket"),
            F.col("role").alias("state"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
    )
    cols = ["conv_bucket", "time_bucket", "state", "n_turns", "w_sum"]
    tier_1h = spark.read.parquet(f"{out}/rollup_1h/state_counts").select(*cols)
    if not same(tier_1h, direct_1h.select(*cols)):
        bad.append("1h state_counts != direct aggregation from raw")

    tier_tr = (
        spark.read.parquet(f"{out}/rollup_1d/transitions")
        .groupBy("from_state", "to_state")
        .agg(F.sum("t_count").alias("n"))
    )
    direct_tr = transition_counts(
        raw, seq_col="conv_id", order_col="turn_idx", state_col="role"
    ).select("from_state", "to_state", F.col("transition_count").cast("long").alias("n"))
    if not same(tier_tr, direct_tr):
        bad.append("global 1d transitions != transition_counts on raw")

    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        tot = spark.read.parquet(f"{out}/{tier}/spells").agg(F.sum("dur_sum")).first()[0]
        if tot != n_turns:
            bad.append(f"{tier} spells dur_sum {tot} != {n_turns} turns")

    points = _tier_points(spark, out)
    decoded = gorilla_decompress_chunks(
        spark.read.parquet(f"{out}/gorilla/chunks"), key_cols=CHUNK_KEYS, value_col="value"
    ).select(*points.columns)
    # w_sum points are finite positive counts, so float equality here is
    # bit equality (no ±0 or NaN)
    if not same(decoded, points):
        bad.append("gorilla chunks do not decode to the 1m/1h/1d points")
    return bad


def check_tiers(spark, staged: str, out: str, n_turns: int) -> list[str]:
    """``gate_tiers``, with a gate that cannot run (say, a blob the decoder
    rejects) reported as a failed check."""
    try:
        return gate_tiers(spark, staged, out, n_turns)
    except Exception:  # noqa: BLE001 — a gate that cannot run rejects the leg
        return ["gate raised: " + traceback.format_exc(limit=3)]


def run(settings: harness.Settings, seed: int, seconds: float, tracer: harness.Tracer) -> Outcome:
    out = Outcome()
    root = settings.run_root

    # ---- set-up: (re)start the session, generate and stage the input ----
    setup, gen, starts = [], [], []
    for rep in range(harness.SETUP_REPS):
        t0 = time.time()
        with tracer.span("session.start") as s:
            spark = harness.start_session(settings, harness.CORES, "perfbench-cascade")
        starts.append(s.elapsed)
        with tracer.span("synth.generate") as s:
            n_turns = _stage_input(spark, seed, f"{root}/staged{rep}")
        gen.append(s.elapsed)
        setup.append(time.time() - t0)
    staged = f"{root}/staged0"

    # ---- kill→resume first: it also pays the JVM's code-generation
    # warm-up, so the local[4] and local[1] legs after it both run warm and
    # their throughputs compare fairly
    kr = out.guard("kill_resume", _kill_and_resume, spark, staged, f"{root}/resume", tracer)

    # ---- local[4] leg and tier read-back, repeated while time remains ---
    walls, reads = [], []
    out4 = f"{root}/out4"
    t_measure = time.time()
    while not walls or time.time() - t_measure < seconds:
        i = len(walls)
        shutil.rmtree(out4, ignore_errors=True)
        with tracer.span("cascade.local4") as s:
            res4 = out.guard(f"cascade_local4#{i}", _cascade, spark, staged, out4, "bulk", resume=False)
        walls.append(s.elapsed)
        with tracer.span("tiers.read") as s:
            out.guard(f"tier_read#{i}", _read_tiers, spark, out4, tracer)
        reads.append(s.elapsed)
        if res4 is None:
            break

    # ---- gate on the local[4] outputs (untimed) -------------------------
    reference: set = set()
    if res4 is not None:
        with tracer.span("gate"):
            bad = check_tiers(spark, staged, out4, n_turns)
        for b in bad:
            out.fail(f"cascade_local4#{i}", b)
            if "gorilla" in b:
                out.fail(f"tier_read#{i}", b)
        reference = _manifest_rows(out4)
        if kr is not None:
            out.check("kill_resume", _manifest_rows(f"{root}/resume") == reference,
                      "resumed manifest checksums != uninterrupted run")

    # ---- local[1] leg on the same staged input -------------------------
    with tracer.span("session.start"):
        spark = harness.start_session(settings, 1, "perfbench-cascade-1core")
    with tracer.span("cascade.local1") as s:
        res1 = out.guard("cascade_local1", _cascade, spark, staged, f"{root}/out1", "bulk", resume=False)
    wall1 = s.elapsed
    if res1 is not None and reference:
        out.check("cascade_local1", _manifest_rows(f"{root}/out1") == reference,
                  "local[1] manifest checksums != local[4] run")

    # ---- traced runs only, after every timed leg so that the timed legs
    # run exactly as in an untraced run: per-layer compute at local[4]
    if settings.trace and res4 is not None:
        spark = harness.start_session(settings, harness.CORES, "perfbench-cascade-layers")
        _trace_layers(spark, out4, tracer, out)
        out.scopes.update(stage_windows(out4, res4))
    spark.stop()

    # ---- metrics --------------------------------------------------------
    wall4, read_s = harness.median(walls), harness.median(reads)
    tput4, tput1 = n_turns / wall4, n_turns / wall1
    eff = tput4 / (4 * tput1)
    kill_resume_s = kr[2] if kr else 0.0
    resume_s = kr[1] if kr else float("nan")
    out.e2e.update(
        setup_s=harness.median(setup),
        work_s=kill_resume_s + wall4 + read_s + wall1,
    )
    out.put("setup_s", harness.median(setup), "s")
    out.put("cascade_turns_per_s", tput4, "1/s")
    out.put("cascade_turns_per_s_1core", tput1, "1/s")
    out.put("scaling_eff_1v4", eff, "ratio")
    out.put("tier_read_s", read_s, "s")
    out.put("resume_s", resume_s, "s")
    out.put("input_turns", n_turns, "count")
    out.scopes["total"] = [
        (s.start, s.end)
        for s in tracer.spans
        if s.name in ("cascade.killed_run", "cascade.resume", "cascade.local4",
                      "tiers.read", "cascade.local1")
    ]

    lay = out.layers
    lay.update({
        "session.start_s": harness.median(starts),
        "synth.generate_s": harness.median(gen),
        "cascade.turns_per_s": tput4,
        "cascade.turns_per_s_1core": tput1,
        "cascade.scaling_eff_1v4": eff,
        "cascade.tier_read_s": read_s,
        "cascade.resume_s": resume_s,
    })
    if kr is not None:
        done = sum(kr[0].partitions_done.values())
        skipped = sum(kr[0].partitions_skipped.values())
        lay["checkpoint.skipped_frac"] = skipped / max(1, done + skipped)
    if res4 is not None:
        stored = harness.dir_stats(
            [f"{out4}/{t}" for t in ("rollup_1m", "rollup_1h", "rollup_1d", "gorilla")]
        )
        out.put("stored_bytes_per_turn", stored["bytes"] / n_turns, "B")
        for stage in ("encode", "rollup_1m", "rollup_1h1d"):
            lay[f"cascade.{stage}_s"] = res4.wall_ms.get(stage, 0) / 1000
        batch_walls = _batch_walls(out4)
        lay.update({
            "storage.files": stored["files"],
            "storage.small_files": stored["small_files"],
            "storage.bytes": stored["bytes"],
            "storage.bytes_per_turn": stored["bytes"] / n_turns,
            "manifest.files": len(
                [f for f in os.listdir(f"{out4}/_manifest") if f.endswith(".parquet")]
            ),
            "cascade.batches": len(batch_walls),
            "cascade.batch_p50_s": harness.median(batch_walls),
            "cascade.batch_max_s": max(batch_walls),
        })
    return out


def stage_windows(out: str, res) -> dict[str, list[tuple[float, float]]]:
    """Epoch-second window of each cascade stage: it ends at the stage's
    last manifest commit and lasts ``CascadeResult.wall_ms[stage]``."""
    rows = pq.read_table(f"{out}/_manifest", columns=["stage", "committed_at"]).to_pylist()
    ends: dict[str, float] = {}
    for r in rows:
        t = r["committed_at"].replace(tzinfo=timezone.utc).timestamp()
        ends[r["stage"]] = max(ends.get(r["stage"], t), t)
    return {
        stage: [(end - res.wall_ms[stage] / 1000, end)]
        for stage, end in ends.items()
        if stage in res.wall_ms
    }


def _batch_walls(out: str) -> list[float]:
    """Per-batch wall time from the manifest: one entry per commit."""
    rows = pq.read_table(f"{out}/_manifest", columns=["stage", "wall_ms", "committed_at"])
    commits = {
        (r["stage"], r["committed_at"]): r["wall_ms"] for r in rows.to_pylist()
    }
    return [ms / 1000 for ms in commits.values()]


def _trace_layers(spark, out4: str, tracer: harness.Tracer, out: Outcome) -> None:
    """Per-layer timings outside the cascade: the rollup aggregates and the
    Gorilla encoder, each run on the cascade's own inputs into a noop sink,
    plus Gorilla chunk statistics."""
    from pyspark.sql import functions as F

    from sequenzo_spark.compression.gorilla import gorilla_compress_chunks
    from sequenzo_spark.rollup.aggregates import (
        merge_spells,
        merge_state_counts,
        merge_transitions,
        rollup_1m_fused,
    )

    with tracer.span("aggregates.rollup_1m_compute"):
        enriched, tables = rollup_1m_fused(spark.read.parquet(f"{out4}/encode"))
        for df in tables.values():
            _noop(df)
        enriched.unpersist()
    mergers = {
        "state_counts": merge_state_counts,
        "transitions": merge_transitions,
        "spells": merge_spells,
    }
    with tracer.span("aggregates.merge_1h1d_compute"):
        for t, fn in mergers.items():
            h = fn(spark.read.parquet(f"{out4}/rollup_1m/{t}"), "1h").persist()
            _noop(h)
            _noop(fn(h, "1d"))
            h.unpersist()
    with tracer.span("gorilla.compress"):
        _noop(gorilla_compress_chunks(
            _tier_points(spark, out4), key_cols=CHUNK_KEYS, ts_col="ts", value_col="value"
        ))
    st = (
        spark.read.parquet(f"{out4}/gorilla/chunks")
        .agg(
            F.count(F.lit(1)),
            F.sum("n_points"),
            F.sum(F.col("ts_bits") + F.col("val_bits")),
        )
        .first()
    )
    lay = out.layers
    lay["aggregates.rollup_1m_compute_s"] = tracer.total("aggregates.rollup_1m_compute")
    lay["aggregates.merge_1h1d_compute_s"] = tracer.total("aggregates.merge_1h1d_compute")
    lay["gorilla.compress_s"] = tracer.total("gorilla.compress")
    lay["gorilla.decompress_s"] = tracer.total("gorilla.decompress") / max(
        1, sum(1 for s in tracer.spans if s.name == "gorilla.decompress")
    )
    lay["gorilla.chunks"] = st[0]
    lay["gorilla.points"] = st[1]
    lay["gorilla.bits_per_point"] = st[2] / max(1, st[1])
