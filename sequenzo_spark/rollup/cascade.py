"""The resumable raw→1m→1h→1d downsample cascade.

Stage graph (SURVEY.md §3.4):

  transcripts ─encode→ encode/ ─rollup_1m→ rollup_1m/{state_counts,
  transitions, spells} ─rollup_1h1d→ rollup_1h/…, rollup_1d/… and
  gorilla/chunks (one stage computes the 1h merge from the 1m files, the 1d
  merge from the in-memory 1h frames, and the Gorilla chunks of all three
  tiers' state counts)

Every stage runs the same write→checksum→commit protocol (``run_stage``):

- ``build(batch)`` returns the batch's outputs keyed by their path under
  out_root (``"encode"``, ``"rollup_1m/spells"``, ``"gorilla/chunks"``, …)
  plus the frames to unpersist once the batch is written.
- Each output is repartitioned by (conv_bucket, part_date) — the salted,
  skew-aware (conv_id bucket, time bucket) key — persisted, and written
  partitioned by it; a batch's writes run concurrently. Dynamic partition
  overwrite makes re-running a half-written batch idempotent.
- ONE Spark job per batch then measures every output: per partition, the
  row count and the order-independent bit_xor of per-row xxhash64, so runs
  at different parallelism commit comparable lineage.
- One manifest row per written partition (``table`` = the output path) is
  committed strictly AFTER the data write, so a crash leaves either
  data+lineage or data without lineage, which the rerun overwrites.
- Resume: a batch is done iff the manifest holds a row for it; a rerun
  recomputes only the others. Each stage names the partition column its
  batches are keyed by.

Batching:

- encode batches by part_date, over the calendar between one min/max-ts
  aggregate's bounds (row-local work, no windows). A calendar day with no
  turns writes nothing, so it is an empty batch again on every rerun.
- rollup_1m batches by **conv_bucket**, NOT by date: every conversation
  lives in exactly one bucket, so lead/lag and spell windows always see the
  complete sequence — a conversation spanning midnight loses no transitions
  and no spell is split (batching by date would corrupt both). Partition
  pruning on conv_bucket keeps each batch's scan narrow.
- rollup_1h1d batches by part_date again: tier merges are per-time-bucket
  algebraic re-aggregations (aggregates.py ``TIER_AGGS``), and minute and
  hour buckets never straddle a day boundary.
- The tier stages take their batch keys from the lower tier's partition
  directories (``_list_partitions``, zero Spark jobs) and read the lower
  tier's WRITTEN FILES, never the raw data; no lower tier, no batches.

At 100 TB: ``batch_*`` bounds per-job input; salt_buckets spreads giant
conversations; each rollup is one partial+final hash aggregation whose
grouping key prefixes the write partition key, so no second shuffle before
the write. AQE handles residual skew within a batch.
"""

from __future__ import annotations

import time
from dataclasses import dataclass, field
from datetime import timedelta
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sequenzo_spark.checkpoint.manifest import Manifest
from sequenzo_spark.ingest import encode_states, refined_alphabet_col
from sequenzo_spark.rollup.aggregates import (
    TIER_AGGS,
    merge_tier,
    rollup_1m_fused,
    with_conv_bucket,
)

PART_COLS = ["conv_bucket", "part_date"]


@dataclass
class CascadeResult:
    job_id: str
    stages_run: list[str] = field(default_factory=list)
    partitions_done: dict[str, int] = field(default_factory=dict)
    partitions_skipped: dict[str, int] = field(default_factory=dict)
    rows_out: dict[str, int] = field(default_factory=dict)
    wall_ms: dict[str, int] = field(default_factory=dict)

    @property
    def total_rows_out(self) -> int:
        return sum(self.rows_out.values())


class InjectedFailure(RuntimeError):
    pass


def _chunk(xs: list, size: int | None):
    if not size:
        yield xs
        return
    for i in range(0, len(xs), size):
        yield xs[i : i + size]


def _list_partitions(path: str, col: str) -> list[str]:
    """Distinct values of the partition column ``col`` (one of PART_COLS)
    from the DIRECTORY LISTING — zero Spark jobs, no data scan (Iceberg
    metadata tables give the same at cluster scale). Layout:
    path/conv_bucket=*/part_date=*; a missing path lists nothing."""
    import glob
    import os

    level = PART_COLS.index(col) - len(PART_COLS)
    dirs = glob.glob(os.path.join(path, *(f"{c}=*" for c in PART_COLS)))
    return sorted({d.split(os.sep)[level].split("=", 1)[1] for d in dirs})


def _with_part_date(df: DataFrame) -> DataFrame:
    return df.withColumn("part_date", F.to_date("time_bucket").cast("string"))


def _write_batch(out_root: str, outputs: dict[str, DataFrame]) -> list:
    """Write one batch's outputs and measure them: persist each once, submit
    the independent writes concurrently so the scheduler interleaves them,
    then compute every output's per-partition rows and checksum in ONE job
    (a union of uniform (cb, date, n, cs, path) aggregates). The per-batch
    driver-job count is the cascade's fixed-cost floor, and it is what
    stops throughput from scaling when the per-level data work shrinks
    (BENCH/BASELINE.md).

    Repartitioning by the write layout gives one task per (cb, date)
    directory, so one file each instead of every task spraying a small
    file into every directory."""
    from concurrent.futures import ThreadPoolExecutor

    parts = {p: df.repartition(*PART_COLS).persist() for p, df in outputs.items()}
    try:
        with ThreadPoolExecutor(max_workers=len(parts)) as pool:
            list(
                pool.map(
                    lambda p: parts[p]
                    .write.mode("overwrite")
                    .partitionBy(*PART_COLS)
                    .parquet(f"{out_root}/{p}"),
                    parts,
                )
            )
        metrics = [
            df.groupBy(*PART_COLS)
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.bit_xor(F.xxhash64(*df.columns)).alias("cs"),
            )
            .withColumn("path", F.lit(p))
            for p, df in parts.items()
        ]
        return reduce(DataFrame.unionByName, metrics).collect()
    finally:
        for df in parts.values():
            df.unpersist()


def _check_job_config(
    out_root: str,
    job_id: str,
    salt_buckets: int,
    states: list[str],
    use_refined: bool,
    compress: bool,
) -> None:
    """Refuse to resume a job whose partitioning/alphabet config drifted —
    a different salt_buckets would silently mix two incompatible bucketings
    in the same tables (caught live by a verification probe). ``compress``
    is part of the config because Gorilla chunk output commits with the
    fused rollup_1h1d batches: resuming a compress=False run with
    compress=True (or vice versa) would silently skip chunk output for the
    already-committed batches."""
    import json
    import os
    import uuid

    path = f"{out_root}/_job_config.json"
    cfg = dict(
        job_id=job_id,
        salt_buckets=salt_buckets,
        states=list(states),
        use_refined_alphabet=use_refined,
        compress=bool(compress),
    )
    if os.path.exists(path):
        with open(path) as f:
            prev = json.load(f)
        # configs written before the compress key existed ran with the
        # default; fill it in so legacy out_roots stay resumable
        prev.setdefault("compress", True)
        if prev != cfg:
            raise ValueError(
                f"job config drift for out_root={out_root}: previous run used "
                f"{prev}, this run requests {cfg}; use a fresh out_root or "
                "delete the old tables"
            )
    else:
        # temp file + atomic rename (Manifest.commit's protocol): a crash
        # mid-write must not leave a truncated config that fails every resume
        os.makedirs(out_root, exist_ok=True)
        tmp = f"{out_root}/.tmp-{uuid.uuid4().hex}.json"
        with open(tmp, "w") as f:
            json.dump(cfg, f)
        os.replace(tmp, path)


def run_cascade(
    spark: SparkSession,
    transcripts: DataFrame,
    out_root: str,
    states: list[str],
    job_id: str = "cascade",
    salt_buckets: int = 32,
    state_col: str = "role",
    use_refined_alphabet: bool = False,
    batch_dates: int | None = None,
    batch_buckets: int | None = None,
    resume: bool = True,
    fail_after_batches: int | None = None,
    compress: bool = True,
) -> CascadeResult:
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _check_job_config(
        out_root, job_id, salt_buckets, states, use_refined_alphabet, compress
    )
    manifest = Manifest(spark, f"{out_root}/_manifest")
    res = CascadeResult(job_id=job_id)
    failures_left = [fail_after_batches]

    def run_stage(
        stage: str,
        batch_col: str,  # the PART_COLS column the batch keys are values of
        batch_keys: list,
        build,  # (batch) -> ({path under out_root: DataFrame}, [to unpersist])
        batch_size: int | None,
    ):
        # manifest rows are per (conv_bucket/part_date) partition; a batch
        # key is done iff any of its partitions committed (a batch's rows
        # commit together, after its data write)
        level = PART_COLS.index(batch_col)
        done = (
            {k.split("/")[level] for k in manifest.completed(job_id, stage)}
            if resume
            else set()
        )
        remaining = [k for k in batch_keys if str(k) not in done]
        res.stages_run.append(stage)
        res.partitions_skipped[stage] = len(batch_keys) - len(remaining)
        res.partitions_done[stage] = 0
        res.rows_out[stage] = 0
        t_stage = time.time()
        for batch in _chunk(remaining, batch_size):
            if not batch:
                continue
            t0 = time.time()
            outputs, frames = build(batch)
            try:
                metrics = _write_batch(out_root, outputs)
            finally:
                for df in frames:
                    df.unpersist()
            wall = int((time.time() - t0) * 1000)
            res.rows_out[stage] += sum(r["n"] for r in metrics)
            manifest.commit(
                [
                    dict(
                        job_id=job_id,
                        stage=stage,
                        partition_key=f"{r['conv_bucket']}/{r['part_date']}",
                        table=r["path"],
                        rows_out=r["n"],
                        checksum=r["cs"],
                        wall_ms=wall,
                    )
                    for r in metrics
                ]
            )
            res.partitions_done[stage] += len(batch)
            if failures_left[0] is not None:
                failures_left[0] -= 1
                if failures_left[0] <= 0:
                    raise InjectedFailure(
                        f"injected failure after a committed batch in {stage}"
                    )
        res.wall_ms[stage] = int((time.time() - t_stage) * 1000)

    # ---- stage: encode (batched by date; carries text unchanged) ---------
    enc_src = (
        with_conv_bucket(transcripts, buckets=salt_buckets)
        .withColumn("part_date", F.to_date("ts").cast("string"))
        .withColumn(
            "state",
            refined_alphabet_col() if use_refined_alphabet else F.col(state_col),
        )
    )
    # Batch list from ONE min/max-ts aggregate + driver-side calendar
    # expansion — a columnar partial-agg pass (parquet footer stats serve
    # it where available), not a distinct+shuffle over every row. Empty
    # input gives (None, None): zero batches here and in every later stage.
    lo, hi = transcripts.agg(F.min("ts"), F.max("ts")).first()
    n_days = 0 if lo is None else (hi.date() - lo.date()).days + 1
    days = [str(lo.date() + timedelta(days=i)) for i in range(n_days)]

    def build_encode(batch):
        sub = enc_src.filter(F.col("part_date").isin(batch))
        return {"encode": encode_states(sub, states, state_col="state")}, []

    run_stage("encode", "part_date", days, build_encode, batch_dates)

    # ---- stage: rollup_1m — batched by conv_bucket (full conv context) ---
    def build_1m(batch):
        enriched, tables = rollup_1m_fused(
            spark.read.parquet(f"{out_root}/encode").filter(
                F.col("conv_bucket").isin(batch)
            )
        )
        out = {f"rollup_1m/{t}": _with_part_date(df) for t, df in tables.items()}
        return out, [enriched]

    buckets = _list_partitions(f"{out_root}/encode", "conv_bucket")
    run_stage(
        "rollup_1m",
        "conv_bucket",
        sorted(int(b) for b in buckets),
        build_1m,
        batch_buckets,
    )

    # ---- stage: rollup_1h1d — FUSED 1m→1h→1d merge ----------------------
    # Each stage carries a fixed driver cost (scheduling, one metrics
    # collect, a manifest commit) that caps scaling efficiency once the
    # per-level data work shrinks (BENCH/BASELINE.md). A 1d bucket needs
    # exactly one part_date of 1h rows, so a date batch computes BOTH
    # tiers: 1h is aggregated from the 1m files and persisted, and the 1d
    # merge reads the persisted 1h FRAMES instead of the 1h files; both
    # tiers' partitions commit atomically per batch.
    def build_1h1d(batch):
        low_sc, h = None, {}
        for t in TIER_AGGS:
            low = spark.read.parquet(f"{out_root}/rollup_1m/{t}").filter(
                F.col("part_date").cast("string").isin(batch)
            )
            if compress and t == "state_counts":
                # the 1m state_counts frame feeds BOTH the 1h merge and the
                # gorilla point union — cache it so the batch scans the 1m
                # parquet once instead of twice
                low_sc = low = low.persist()
            h[t] = _with_part_date(merge_tier(low, t, "1h")).persist()
        out = {f"rollup_1h/{t}": df for t, df in h.items()}
        for t, df in h.items():
            out[f"rollup_1d/{t}"] = _with_part_date(merge_tier(df, t, "1d"))
        if compress:
            # One Gorilla chunk per (tier, conv_bucket, state, day), built
            # from the frames the batch already holds (1m state_counts
            # cached above, the persisted 1h frames, the 1d frames) and
            # committed atomically with the tiers it encodes. Stored blobs
            # are the tiers' durable point format; decompression is
            # bit-exact (compression/gorilla.py).
            from sequenzo_spark.compression.gorilla import (
                gorilla_compress_chunks,
            )

            def _pts(df, tier):
                return df.select(
                    F.lit(tier).alias("tier"),
                    "conv_bucket",
                    "state",
                    F.col("part_date").cast("string").alias("part_date"),
                    F.col("time_bucket").alias("ts"),
                    F.col("w_sum").alias("value"),
                )

            pts = (
                _pts(low_sc, "1m")
                .unionByName(_pts(h["state_counts"], "1h"))
                .unionByName(_pts(out["rollup_1d/state_counts"], "1d"))
            )
            out["gorilla/chunks"] = gorilla_compress_chunks(
                pts,
                key_cols=["tier", "conv_bucket", "state", "part_date"],
                ts_col="ts",
                value_col="value",
            )
        return out, [*h.values(), *([low_sc] if compress else [])]

    run_stage(
        "rollup_1h1d",
        "part_date",
        _list_partitions(f"{out_root}/rollup_1m/state_counts", "part_date"),
        build_1h1d,
        batch_dates,
    )

    return res


def text_passthrough_violations(
    raw: DataFrame, encoded_turns: DataFrame
) -> int:
    """Per-turn text equality under stable (conv_id, turn_idx, ts) ordering:
    symmetric anti-join count — must be 0 (BASELINE.md invariant)."""
    key = ["conv_id", "turn_idx", "ts", "text"]
    a = raw.select(*key)
    b = encoded_turns.select(*key)
    return a.exceptAll(b).count() + b.exceptAll(a).count()
