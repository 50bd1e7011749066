"""Structured Streaming front-end for the 1m tier.

The batch reference is batch-only (SURVEY.md §2.10); this is the engine's
forward path: a streaming source of transcript turns feeds the SAME 1m
continuous aggregate (per-bucket per-state counts) through tumbling
``window()`` aggregation with a watermark bounding turn lateness. The sink
is an append-mode parquet tier directory compatible with the batch cascade's
1m table (the 1h/1d merges are source-agnostic — algebraic re-merges don't
care whether 1m rows came from batch or stream).

Tested with the file source + ``Trigger.AvailableNow`` (deterministic, no
wall-clock dependence); in production the source is Kafka/Iceberg CDC and
the trigger is processingTime.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sequenzo_spark.rollup.aggregates import with_conv_bucket


def streaming_state_counts_1m(
    turns_stream: DataFrame,
    watermark: str = "10 minutes",
    state_col: str = "role",
    ts_col: str = "ts",
    salt_buckets: int = 32,
) -> DataFrame:
    """Streaming per-(conv_bucket, 1m window, state) counts.

    Watermark = max tolerated turn lateness: a 1m bucket finalizes once the
    event-time high-water mark passes bucket_end + watermark, at which point
    the append-mode sink emits exactly one immutable row per key — the same
    algebraic shape the batch cascade writes."""
    w = F.window(F.col(ts_col), "1 minute")
    live = turns_stream.withWatermark(ts_col, watermark).filter(
        F.col(state_col).isNotNull()
    )
    return (
        with_conv_bucket(live, buckets=salt_buckets)
        .groupBy("conv_bucket", w, F.col(state_col).alias("state"))
        .agg(F.count(F.lit(1)).alias("n_turns"), F.sum(F.lit(1.0)).alias("w_sum"))
        .select(
            "conv_bucket",
            F.col("window.start").alias("time_bucket"),
            "state",
            "n_turns",
            "w_sum",
        )
    )


def streaming_spell_tracker(
    turns_stream: DataFrame,
    watermark: str = "10 minutes",
    seq_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "role",
    ts_col: str = "ts",
    timeout_minutes: int = 30,
):
    """Custom stateful streaming operator: incremental spell (run-length)
    tracking per conversation via ``applyInPandasWithState``.

    The batch spell table (operators/spells.py — seqdss/seqdur semantics)
    needs the whole conversation in one window partition; a stream cannot
    wait for conversation end. This operator keeps ONE tiny state row per
    live conversation (last state, current spell id/start/length, max seen
    turn_idx) and emits a spell row whenever a state CHANGE closes a run;
    the still-open final spell is emitted when the conversation times out
    (event-time timeout = conversation considered finished).

    Arrow-batched per group — no per-row Python at the Spark level; the
    per-group loop touches only that micro-batch's turns. Emitted columns
    match the batch spell table: seq_id, spell_id, state, duration,
    pos_start, pos_end (+ closed flag: false = timeout flush of an open
    spell).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from sequenzo_spark import ensure_workers_can_import

    ensure_workers_can_import(turns_stream.sparkSession)

    out_schema = (
        "seq_id string, spell_id int, state string, duration int, "
        "pos_start int, pos_end int, closed boolean"
    )
    state_schema = (
        "last_state string, spell_id int, pos_start int, pos_end int, "
        "duration int"
    )

    def track(key, pdfs, state: GroupState):
        (seq_id,) = key
        rows = []
        if state.hasTimedOut:
            if state.exists:
                ls, sid, p0, p1, dur = state.get
                rows.append((seq_id, sid, ls, dur, p0, p1, False))
                state.remove()
            yield pd.DataFrame(
                rows,
                columns=[
                    "seq_id", "spell_id", "state", "duration",
                    "pos_start", "pos_end", "closed",
                ],
            )
            return
        turns = pd.concat(list(pdfs)).sort_values(order_col)
        if state.exists:
            ls, sid, p0, p1, dur = state.get
        else:
            ls, sid, p0, p1, dur = None, 0, None, None, 0
        for _, r in turns.iterrows():
            s, pos = r[state_col], int(r[order_col])
            if s is None or (isinstance(s, float) and pd.isna(s)):
                s = ls  # LOCF inside the tracker (seqdur.pyx:19-20 semantics)
                if s is None:
                    continue
            if ls is None:
                ls, sid, p0, p1, dur = s, 1, pos, pos, 1
            elif s == ls:
                p1, dur = pos, dur + 1
            else:
                rows.append((seq_id, sid, ls, dur, p0, p1, True))
                ls, sid, p0, p1, dur = s, sid + 1, pos, pos, 1
        # Skip state creation until a non-null state is seen: a micro-batch of
        # only null-state turns would otherwise store last_state=None and the
        # timeout would flush a phantom NULL spell (duration 0).
        if ls is not None:
            state.update((ls, sid, p0, p1, dur))
            state.setTimeoutTimestamp(
                state.getCurrentWatermarkMs() + timeout_minutes * 60_000
            )
        yield pd.DataFrame(
            rows,
            columns=[
                "seq_id", "spell_id", "state", "duration",
                "pos_start", "pos_end", "closed",
            ],
        )

    return (
        turns_stream.withWatermark(ts_col, watermark)
        .groupBy(F.col(seq_col))
        .applyInPandasWithState(
            track,
            outputStructType=out_schema,
            stateStructType=state_schema,
            outputMode="append",
            timeoutConf=GroupStateTimeout.EventTimeTimeout,
        )
    )
