"""Streaming 1m tier == batch 1m tier on the same input (availableNow file
source, deterministic)."""

from pyspark.sql import functions as F

from sequenzo_spark.rollup.aggregates import BUCKET_EXPRS, with_conv_bucket
from sequenzo_spark.schema import TRANSCRIPT_SCHEMA
from sequenzo_spark.streaming.rollup_stream import streaming_state_counts_1m
from sequenzo_spark.synth import generate_transcripts

SALT = 4


def rollup_state_counts(turns, tier="1m", state_col="state", ts_col="ts"):
    """Batch oracle for the streaming tier: unweighted state counts per
    (conv_bucket, tier bucket, state), NULL states dropped."""
    return (
        turns.filter(F.col(state_col).isNotNull())
        .groupBy(
            "conv_bucket",
            BUCKET_EXPRS[tier](F.col(ts_col)).alias("time_bucket"),
            F.col(state_col).alias("state"),
        )
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
    )


def test_streaming_matches_batch_1m(spark, tmp_path):
    src = str(tmp_path / "turns")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    raw = generate_transcripts(spark, n_convs=30, seed=5)
    raw.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    agg = streaming_state_counts_1m(stream, salt_buckets=SALT, state_col="role")
    q = (
        agg.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out)
    want = rollup_state_counts(
        with_conv_bucket(raw, buckets=SALT).withColumn("state", F.col("role")),
        "1m",
    )
    # append mode only emits windows closed by the watermark; the tail of
    # the stream stays in state. Compare on the emitted keys.
    emitted = {
        (r.conv_bucket, r.time_bucket, r.state): (r.n_turns, r.w_sum)
        for r in got.collect()
    }
    expected = {
        (r.conv_bucket, r.time_bucket, r.state): (r.n_turns, r.w_sum)
        for r in want.collect()
    }
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expected[k] == v, k
    # coverage: the watermark tail is bounded (≤ watermark span of buckets)
    assert len(emitted) >= len(expected) * 0.5


def test_streaming_spell_tracker_matches_batch_closed_spells(spark, tmp_path):
    """Stateful spell tracking (applyInPandasWithState): every CLOSED spell
    the stream emits must equal the batch spell table's row for that spell;
    only each conversation's final (still-open) spell may be withheld."""
    from sequenzo_spark.operators.spells import spell_table
    from sequenzo_spark.streaming.rollup_stream import streaming_spell_tracker

    src = str(tmp_path / "turns2")
    out = str(tmp_path / "spells_out")
    ckpt = str(tmp_path / "spells_ckpt")
    raw = generate_transcripts(spark, n_convs=25, seed=9)
    raw.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(TRANSCRIPT_SCHEMA).parquet(src)
    spells = streaming_spell_tracker(stream)
    q = (
        spells.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    got = spark.read.parquet(out)
    want = spell_table(
        raw.select(
            F.col("conv_id").alias("seq_id"),
            F.col("turn_idx").alias("pos"),
            F.col("role").alias("state"),
        )
    )
    emitted = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in got.filter(F.col("closed")).collect()
    }
    expected = {
        (r.seq_id, r.spell_id): (r.state, r.duration, r.pos_start, r.pos_end)
        for r in want.collect()
    }
    assert len(emitted) > 0
    for k, v in emitted.items():
        assert expected[k] == v, (k, v, expected.get(k))
    # every non-final spell of every conversation must have been emitted
    finals = {
        r.seq_id: r.spell_id
        for r in want.groupBy("seq_id").agg(
            F.max("spell_id").alias("spell_id")
        ).collect()
    }
    missing = [
        k for k in expected
        if k not in emitted and k[1] != finals[k[0]]
    ]
    assert missing == [], missing


def test_streaming_spell_tracker_all_null_states_no_phantom(spark, tmp_path):
    """A conversation whose turns are ALL null-state must emit no spell rows
    at all — round-2 advisor: storing last_state=None caused the event-time
    timeout to flush a phantom NULL spell with duration 0."""
    from sequenzo_spark.streaming.rollup_stream import streaming_spell_tracker

    src = str(tmp_path / "turns_null")
    out = str(tmp_path / "null_out")
    ckpt = str(tmp_path / "null_ckpt")
    rows = [
        ("cnull", i, None, "t", None, f"2024-01-01 00:{i:02d}:00")
        for i in range(3)
    ] + [
        # a normal conversation far in the future so the watermark advances
        # well past cnull's timeout window
        ("cok", 0, "user", "t", None, "2024-01-02 00:00:00"),
        ("cok", 1, "assistant", "t", None, "2024-01-02 00:01:00"),
        ("cok", 2, "user", "t", None, "2024-01-02 12:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, "
              "tool string, ts_s string"
    ).withColumn("ts", F.to_timestamp("ts_s")).drop("ts_s")
    df.write.mode("overwrite").parquet(src)

    stream = spark.readStream.schema(df.schema).parquet(src)
    spells = streaming_spell_tracker(stream, timeout_minutes=1)
    q = (
        spells.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out).collect()
    assert all(r.seq_id != "cnull" for r in got), got
    assert all(r.state is not None for r in got), got
