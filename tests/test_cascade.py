"""Cascade: bit-exact tier merges, boundary-safe windows, text passthrough,
and kill→resume without recomputation of committed partitions."""

import pytest
from pyspark.sql import functions as F

from sequenzo_spark.checkpoint.manifest import Manifest
from sequenzo_spark.rollup.cascade import (
    InjectedFailure,
    run_cascade,
    text_passthrough_violations,
)
from sequenzo_spark.schema import ROLE_ALPHABET
from sequenzo_spark.synth import generate_transcripts

SALT = 4


@pytest.fixture(scope="module")
def raw(spark):
    # starts 23:30 so conversations cross midnight (window-boundary stress)
    return generate_transcripts(
        spark, n_convs=60, seed=3, giant_conv_turns=800,
        base_ts="2024-01-01 23:30:00",
    ).cache()


def _rows(df, cols):
    return sorted(tuple(r) for r in df.select(*cols).collect())


def test_cascade_end_to_end(spark, raw, tmp_path):
    out = str(tmp_path / "cascade")
    res = run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="j1"
    )
    assert res.stages_run == ["encode", "rollup_1m", "rollup_1h1d"]
    assert all(v > 0 for v in res.rows_out.values())

    encoded = spark.read.parquet(f"{out}/encode")
    # 1. text passthrough invariant
    assert text_passthrough_violations(raw, encoded) == 0

    # 2. 1h tier == direct 1h aggregation of encoded turns (bit-exact)
    direct_1h = (
        encoded.groupBy(
            "conv_bucket",
            F.date_trunc("hour", "ts").alias("time_bucket"),
            "state",
        )
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
    )
    got_1h = spark.read.parquet(f"{out}/rollup_1h/state_counts")
    cols = ["conv_bucket", "time_bucket", "state", "n_turns", "w_sum"]
    assert _rows(got_1h, cols) == _rows(direct_1h, cols)

    # 3. global transition matrix from the 1d tier == matrix from raw turns
    #    (catches lost transitions at batch/day boundaries)
    from sequenzo_spark.operators.transitions import transition_counts

    tier_global = (
        spark.read.parquet(f"{out}/rollup_1d/transitions")
        .groupBy("from_state", "to_state")
        .agg(F.sum("t_count").alias("n"))
    )
    direct = transition_counts(
        raw, seq_col="conv_id", order_col="turn_idx", state_col="role"
    ).select(
        "from_state", "to_state", F.col("transition_count").cast("long").alias("n")
    )
    assert _rows(tier_global, ["from_state", "to_state", "n"]) == _rows(
        direct, ["from_state", "to_state", "n"]
    )

    # 4. spell conservation: total spell-turns at every tier == total turns
    n_turns = raw.count()
    for tier in ("rollup_1m", "rollup_1h", "rollup_1d"):
        tot = (
            spark.read.parquet(f"{out}/{tier}/spells")
            .agg(F.sum("dur_sum"))
            .first()[0]
        )
        assert tot == n_turns, tier

    # 5. Gorilla chunks decode back to the exact tier points (bit-exact)
    from sequenzo_spark.compression.gorilla import gorilla_decompress_chunks

    chunks = spark.read.parquet(f"{out}/gorilla/chunks").filter(
        F.col("tier") == "1h"
    )
    assert chunks.count() > 0
    back = gorilla_decompress_chunks(
        chunks,
        key_cols=["tier", "conv_bucket", "state", "part_date"],
        value_col="value",
    ).select("conv_bucket", "state", F.col("ts").alias("time_bucket"), "value")
    want = got_1h.select("conv_bucket", "state", "time_bucket", "w_sum")
    assert _rows(back, ["conv_bucket", "state", "time_bucket", "value"]) == _rows(
        want, ["conv_bucket", "state", "time_bucket", "w_sum"]
    )

    # 6. second run skips everything (full resume)
    res2 = run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="j1"
    )
    assert all(res2.partitions_done[s] == 0 for s in res2.stages_run)
    assert sum(res2.partitions_skipped.values()) > 0


TABLES = (
    "encode",
    "rollup_1m/state_counts", "rollup_1m/transitions", "rollup_1m/spells",
    "rollup_1h/state_counts", "rollup_1h/transitions", "rollup_1h/spells",
    "rollup_1d/state_counts", "rollup_1d/transitions", "rollup_1d/spells",
    "gorilla/chunks",
)


@pytest.fixture(scope="module")
def clean_out(spark, raw, tmp_path_factory):
    """One uninterrupted run: the reference every resumed run must equal."""
    out = str(tmp_path_factory.mktemp("clean"))
    run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="clean",
    )
    return out


def _resume_and_compare(spark, raw, clean_out, crash_out):
    """Resume the crashed job, then require its tiers, Gorilla chunks and
    manifest lineage (per-partition rows and checksums) to equal the
    uninterrupted run's, bit-exactly."""
    res = run_cascade(
        spark, raw, crash_out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="crash", batch_buckets=1, batch_dates=1,
    )
    for table in TABLES:
        a = spark.read.parquet(f"{clean_out}/{table}")
        b = spark.read.parquet(f"{crash_out}/{table}")
        cols = sorted(a.columns)
        assert _rows(a, cols) == _rows(b, cols), table
    lineage = ["stage", "partition_key", "table", "rows_out", "checksum"]
    want = Manifest(spark, f"{clean_out}/_manifest").stats("clean")
    got = Manifest(spark, f"{crash_out}/_manifest").stats("crash")
    assert _rows(got, lineage) == _rows(want, lineage)
    return res, got


def test_kill_and_resume_identical_output(spark, raw, clean_out, tmp_path):
    crash_out = str(tmp_path / "crash")
    with pytest.raises(InjectedFailure):
        run_cascade(
            spark, raw, crash_out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="crash", batch_buckets=1, batch_dates=1,
            fail_after_batches=3,
        )
    # resume: must complete, must skip the committed partitions, and must
    # match the clean one-shot run
    res, manifest = _resume_and_compare(spark, raw, clean_out, crash_out)
    assert sum(res.partitions_skipped.values()) >= 3

    # manifest has per-partition lineage rows with metrics, and every
    # stage's rows carry a checksum (encode included), so the comparison
    # above checks encode's content and not only its row counts
    rows = manifest.collect()
    assert all(r.rows_out >= 0 and r.wall_ms >= 0 for r in rows)
    assert {r.stage for r in rows} == {"encode", "rollup_1m", "rollup_1h1d"}
    clean = Manifest(spark, f"{clean_out}/_manifest").stats("clean").collect()
    assert [r for r in rows + clean if r.checksum is None] == []
    # the manifest's table value is the output's path under out_root
    assert {r.table for r in rows} == set(TABLES)


@pytest.mark.parametrize("stage", ["rollup_1m", "rollup_1h1d"])
def test_commit_failure_resume_identical_output(
    spark, raw, clean_out, tmp_path, monkeypatch, stage
):
    """The commit protocol's other failure window: a batch's data is
    written but its lineage is not committed (the manifest commit of the
    stage's 2nd batch raises). Resume must redo that batch over the
    already-written partitions and end bit-identical to the clean run."""
    commit = Manifest.commit
    calls = {"n": 0}

    def failing_commit(self, rows):
        if rows and rows[0]["stage"] == stage:
            calls["n"] += 1
            if calls["n"] == 2:
                raise InjectedFailure(f"manifest commit failed in {stage}")
        commit(self, rows)

    crash_out = str(tmp_path / "crash")
    monkeypatch.setattr(Manifest, "commit", failing_commit)
    with pytest.raises(InjectedFailure):
        run_cascade(
            spark, raw, crash_out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="crash", batch_buckets=1, batch_dates=1,
        )
    monkeypatch.setattr(Manifest, "commit", commit)
    assert calls["n"] == 2
    res, _ = _resume_and_compare(spark, raw, clean_out, crash_out)
    # the batch whose commit failed is redone, the one before it is not
    assert res.partitions_skipped[stage] == 1
    assert res.partitions_done[stage] >= 1


def test_cascade_empty_input(spark, raw, tmp_path):
    """Empty transcripts: the min/max-ts encode-batch derivation returns
    (None, None) — the cascade must run zero encode batches (and zero rows
    everywhere downstream), not raise on None.date()."""
    out = str(tmp_path / "cascade_empty")
    empty = raw.filter("1 = 0")
    res = run_cascade(
        spark, empty, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="je"
    )
    assert all(v == 0 for v in res.rows_out.values())


def test_empty_salt_buckets_are_not_recomputed_on_rerun(spark, tmp_path):
    """Two conversations over eight salt buckets leave at least six buckets
    empty. rollup_1m batches only the buckets that encode wrote, so a rerun
    over a finished out_root has nothing left to do in any stage."""
    raw = generate_transcripts(spark, n_convs=2, seed=3, giant_conv_turns=0)
    out = str(tmp_path / "cascade_sparse")

    def run():
        return run_cascade(
            spark, raw, out, states=ROLE_ALPHABET, salt_buckets=8,
            job_id="js",
        )

    first = run()
    assert first.partitions_done["rollup_1m"] <= 2
    again = run()
    assert again.partitions_done == {s: 0 for s in again.stages_run}
    assert again.partitions_skipped == first.partitions_done


def test_refined_alphabet_cascade(spark, raw, tmp_path):
    """use_refined_alphabet=True: the tiers count role⊗tool states
    ('tool:bash', …) and encode still passes the text through unchanged."""
    from sequenzo_spark.ingest import refined_alphabet_col
    from sequenzo_spark.rollup.aggregates import with_conv_bucket
    from sequenzo_spark.schema import TOOL_VALUES

    states = [s for s in ROLE_ALPHABET if s != "tool"] + [
        f"tool:{t}" for t in TOOL_VALUES
    ]
    out = str(tmp_path / "cascade_refined")
    run_cascade(
        spark, raw, out, states=states, salt_buckets=SALT, job_id="jr",
        use_refined_alphabet=True,
    )
    assert text_passthrough_violations(
        raw, spark.read.parquet(f"{out}/encode")
    ) == 0
    direct_1h = (
        with_conv_bucket(raw, buckets=SALT)
        .groupBy(
            "conv_bucket",
            F.date_trunc("hour", "ts").alias("time_bucket"),
            refined_alphabet_col().alias("state"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
    )
    got_1h = spark.read.parquet(f"{out}/rollup_1h/state_counts")
    cols = ["conv_bucket", "time_bucket", "state", "n_turns", "w_sum"]
    assert _rows(got_1h, cols) == _rows(direct_1h, cols)
    seen = {r.state for r in got_1h.select("state").distinct().collect()}
    assert {s for s in seen if s.startswith("tool:")}
    assert seen <= set(states)


def test_compress_flag_is_config_drift(spark, raw, tmp_path):
    """Gorilla chunk output commits with the fused rollup_1h1d batches, so
    resuming a compress=False run with compress=True would silently skip
    chunk output for already-committed batches — the config check must
    refuse instead (round-5 advisor finding)."""
    out = str(tmp_path / "cascade_drift")
    run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT,
        job_id="jc", compress=False,
    )
    with pytest.raises(ValueError, match="config drift"):
        run_cascade(
            spark, raw, out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="jc", compress=True,
        )


def test_manifest_read_errors_are_not_an_empty_manifest(spark, tmp_path):
    """Only a missing manifest directory means "nothing committed"; a
    truncated manifest file or an unreadable location must raise instead
    of silently restarting the job from scratch."""
    from py4j.protocol import Py4JJavaError

    fresh = Manifest(spark, str(tmp_path / "fresh" / "_manifest"))
    assert fresh.completed("j", "encode") == set()

    path = tmp_path / "corrupt" / "_manifest"
    m = Manifest(spark, str(path))
    m.commit([dict(
        job_id="j", stage="encode", partition_key="0/2024-01-01",
        table="encode", rows_out=1, checksum=None, wall_ms=0,
    )])
    assert m.completed("j", "encode") == {"0/2024-01-01"}
    (part,) = path.glob("part-*.parquet")
    part.write_bytes(part.read_bytes()[: part.stat().st_size // 2])
    with pytest.raises(Py4JJavaError):
        m.completed("j", "encode")

    with pytest.raises(Py4JJavaError):
        Manifest(spark, "nosuchfs://host/_manifest").completed("j", "encode")


def test_torn_job_config_write_leaves_no_config(spark, raw, tmp_path, monkeypatch):
    """_job_config.json appears only by rename: a crash while writing it
    leaves no half-written config, so the rerun starts cleanly instead of
    failing every resume on unparseable JSON."""
    import json

    def torn_dump(obj, f, *args, **kwargs):
        f.write('{"job_id": ')
        raise OSError("disk full")

    out = str(tmp_path / "cascade_cfg")
    empty = raw.filter("1 = 0")
    monkeypatch.setattr(json, "dump", torn_dump)
    with pytest.raises(OSError, match="disk full"):
        run_cascade(
            spark, empty, out, states=ROLE_ALPHABET, salt_buckets=SALT,
            job_id="jcfg",
        )
    monkeypatch.undo()
    run_cascade(
        spark, empty, out, states=ROLE_ALPHABET, salt_buckets=SALT, job_id="jcfg"
    )
    with open(f"{out}/_job_config.json") as f:
        assert json.load(f)["salt_buckets"] == SALT
