"""Tier aggregates: algebraic state + derived views.

The cascade stores ONLY algebraic quantities per tier —
  state_counts:  (conv_bucket, time_bucket, state)        n_turns, w_sum
  transitions:   (conv_bucket, time_bucket, from, to)     t_count, w_count
  spells:        (conv_bucket, time_bucket, state)        n_spells, dur_sum,
                                                          dur_sq_sum, dur_min,
                                                          dur_max
— all exactly re-mergeable (sums of integers / integer-valued doubles are
associative-exact in float64 below 2^53, min/max trivially), which is what
makes 1m→1h→1d bit-exact (SURVEY.md §4). ``TIER_AGGS`` states each
table's merge once; the tier merges and the cross-bucket re-sums of the
``derive_*`` views both read it. Derived floats (freq, entropy,
rates, means, variances) are recomputed from merged counts at every tier by
``derive_*`` with a DETERMINISTIC reduction order (array_sort by state before
the fold), never depending on shuffle order or parallelism.

Semantics derive from the reference (studied, not copied):
- per-bucket weighted state frequencies / entropy: seqstatd,
  /root/reference/sequenzo/.../overall_cross_sectional_entropy.py:93-121;
- transition counts/rates: seqtrate,
  get_sm_trate_substitution_cost_matrix.pyx:50-93;
- spell durations: seqdur, seqdur.pyx:8-36 (a spell is attributed to the
  bucket of its first turn);
- modal state: seqmodst argmax, cross_sectional_indicators.py:171-177.

Skew: conv_bucket = pmod(xxhash64(conv_id), B) salts giant conversations
across B partitions (north rule); global per-bucket metrics re-merge over
conv_bucket, which is itself an exact algebraic merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

BUCKET_EXPRS = {
    "1m": lambda c: F.date_trunc("minute", c),
    "1h": lambda c: F.date_trunc("hour", c),
    "1d": lambda c: F.date_trunc("day", c),
}


def with_conv_bucket(df: DataFrame, conv_col: str = "conv_id", buckets: int = 32) -> DataFrame:
    return df.withColumn(
        "conv_bucket", F.pmod(F.xxhash64(F.col(conv_col)), F.lit(buckets)).cast("int")
    )


# ------------------------------------------------------------ raw → tier

def rollup_1m_fused(
    turns: DataFrame,
    seq_col: str = "conv_id",
    order_col: str = "turn_idx",
    state_col: str = "state",
    ts_col: str = "ts",
    weight_col: str | None = None,
) -> tuple[DataFrame, dict[str, DataFrame]]:
    """All three 1m tables from ONE window pass.

    lead (transitions), lag (spell boundary) and the running spell_id share
    the same (seq, order) window spec, so Catalyst plans a single Window
    node → exactly one shuffle by conv_id for the whole raw→1m stage; the
    enriched frame is persisted and the three aggregations read the cache.

    Returns (enriched_df_to_unpersist, {table: df}). NULL states are
    dropped (rows absent = void, SURVEY.md §1.1); LOCF-style fill happens
    upstream at encode if desired.
    """
    w = Window.partitionBy(seq_col).orderBy(order_col)
    wp = Window.partitionBy(seq_col)
    prev = F.lag(state_col).over(w)
    is_new = prev.isNull() | (prev != F.col(state_col))
    # when unweighted, w_sum ≡ count (sums of 1.0 are exact integers in
    # float64) — skip materializing a constant weight column in the persist.
    cols = [
        "conv_bucket",
        F.col(seq_col).alias("_seq"),
        F.col(state_col).alias("state"),
        F.col(ts_col).alias("ts"),
        F.lead(state_col).over(w).alias("next_state"),
        is_new.alias("is_boundary"),
        F.row_number().over(w).alias("_rk"),
        F.count(F.lit(1)).over(wp).alias("_len"),
    ]
    if weight_col:
        cols.insert(4, F.col(weight_col).alias("_w"))
    enriched = turns.filter(F.col(state_col).isNotNull()).select(*cols).persist()

    def wsum(alias):
        return (
            F.sum("_w").alias(alias)
            if weight_col
            else F.count(F.lit(1)).cast("double").alias(alias)
        )

    mb = F.date_trunc("minute", F.col("ts"))
    sc = enriched.groupBy(
        "conv_bucket", mb.alias("time_bucket"), "state"
    ).agg(F.count(F.lit(1)).alias("n_turns"), wsum("w_sum"))
    tr = (
        enriched.filter(F.col("next_state").isNotNull())
        .groupBy(
            "conv_bucket",
            mb.alias("time_bucket"),
            F.col("state").alias("from_state"),
            F.col("next_state").alias("to_state"),
        )
        .agg(F.count(F.lit(1)).alias("t_count"), wsum("w_count"))
    )
    # spells without a per-(seq, spell) shuffle: each spell is its boundary
    # row; duration = next boundary's rank − own rank (or to end of seq).
    # The boundary-row lead() shares the (seq, order) partitioning of the
    # first window pass — no extra exchange of the wide data.
    boundary = enriched.filter(F.col("is_boundary"))
    next_rk = F.lead("_rk").over(Window.partitionBy("_seq").orderBy("_rk"))
    spells_rows = boundary.withColumn(
        "duration", F.coalesce(next_rk, F.col("_len") + 1) - F.col("_rk")
    )
    sp = spells_rows.groupBy(
        "conv_bucket", mb.alias("time_bucket"), "state"
    ).agg(
        F.count(F.lit(1)).alias("n_spells"),
        F.sum("duration").alias("dur_sum"),
        F.sum(F.col("duration") * F.col("duration")).alias("dur_sq_sum"),
        F.min("duration").alias("dur_min"),
        F.max("duration").alias("dur_max"),
    )
    return enriched, {"state_counts": sc, "transitions": tr, "spells": sp}


# ------------------------------------------------------- tier → tier merge

# The merge algebra of every tier table, defined once:
# table -> (grouping keys besides conv_bucket/time_bucket, {column: merge}).
TIER_AGGS = {
    "state_counts": (["state"], {"n_turns": F.sum, "w_sum": F.sum}),
    "transitions": (
        ["from_state", "to_state"],
        {"t_count": F.sum, "w_count": F.sum},
    ),
    "spells": (
        ["state"],
        {
            "n_spells": F.sum,
            "dur_sum": F.sum,
            "dur_sq_sum": F.sum,
            "dur_min": F.min,
            "dur_max": F.max,
        },
    ),
}


def _remerge(df: DataFrame, table: str, *bucket_cols) -> DataFrame:
    keys, aggs = TIER_AGGS[table]
    return df.groupBy(*bucket_cols, *keys).agg(
        *[fn(c).alias(c) for c, fn in aggs.items()]
    )


def merge_tier(df: DataFrame, table: str, tier: str) -> DataFrame:
    """Re-aggregate a tier table into the coarser ``tier``'s buckets."""
    return _remerge(
        df,
        table,
        "conv_bucket",
        BUCKET_EXPRS[tier](F.col("time_bucket")).alias("time_bucket"),
    )


def merge_state_counts(df: DataFrame, tier: str) -> DataFrame:
    return merge_tier(df, "state_counts", tier)


def merge_transitions(df: DataFrame, tier: str) -> DataFrame:
    return merge_tier(df, "transitions", tier)


def merge_spells(df: DataFrame, tier: str) -> DataFrame:
    return merge_tier(df, "spells", tier)


# ------------------------------------------------------------ derivations

def derive_distribution(
    state_counts: DataFrame, n_states: int | None = None, per_conv_bucket: bool = False
) -> DataFrame:
    """freq / entropy / modal per time bucket, derived from counts with a
    deterministic state-ordered fold (bit-stable at any parallelism).

    Entropy per seqstatd (:112-121); `+ 0.0` normalizes IEEE −0.0 so the
    stored bit pattern of a zero entropy is always that of +0.0."""
    keys = ["conv_bucket", "time_bucket"] if per_conv_bucket else ["time_bucket"]
    rolled = state_counts
    if not per_conv_bucket:
        rolled = _remerge(state_counts, "state_counts", "time_bucket")
    arr = F.array_sort(F.collect_list(F.struct("state", "w_sum", "n_turns")))
    g = rolled.groupBy(*keys).agg(arr.alias("_arr"))
    total = F.aggregate(
        F.col("_arr"), F.lit(0.0), lambda a, s: a + s["w_sum"]
    )
    g = g.withColumn("n_valid", total)
    ent = F.aggregate(
        F.col("_arr"),
        F.lit(0.0),
        lambda a, s: a
        + (s["w_sum"] / F.col("n_valid")) * F.log(s["w_sum"] / F.col("n_valid")),
    )
    g = g.withColumn("entropy", -ent + F.lit(0.0))
    if n_states:
        import math

        g = g.withColumn(
            "entropy_norm", F.col("entropy") / F.lit(math.log(n_states))
        )
    # modal = max w_sum, ties by state ascending — scan of the sorted array
    modal = F.aggregate(
        F.col("_arr"),
        F.struct(
            F.lit(None).cast("string").alias("state"),
            F.lit(-1.0).alias("w"),
        ),
        lambda acc, s: F.when(
            s["w_sum"] > acc["w"],
            F.struct(s["state"].alias("state"), s["w_sum"].alias("w")),
        ).otherwise(acc),
    )
    g = (
        g.withColumn("modal_state", modal["state"])
        .withColumn("modal_count", modal["w"])
        .withColumn("effective_states", F.exp(F.col("entropy")))
    )
    out_cols = keys + [
        "n_valid",
        "entropy",
        "effective_states",
        "modal_state",
        "modal_count",
    ] + (["entropy_norm"] if n_states else [])
    return g.select(*out_cols)


def derive_transition_rates(
    transitions: DataFrame, per_conv_bucket: bool = False
) -> DataFrame:
    keys = (
        ["conv_bucket", "time_bucket"] if per_conv_bucket else ["time_bucket"]
    )
    rolled = transitions
    if not per_conv_bucket:
        rolled = _remerge(transitions, "transitions", "time_bucket")
    w = Window.partitionBy(*keys, "from_state")
    return rolled.withColumn(
        "transition_rate", F.col("w_count") / F.sum("w_count").over(w)
    )


def derive_spell_stats(spells: DataFrame, per_conv_bucket: bool = False) -> DataFrame:
    """mean / var_pop of spell durations from algebraic sums:
    var = E[d²] − E[d]² over exact integer sums → deterministic floats."""
    keys = (
        ["conv_bucket", "time_bucket"] if per_conv_bucket else ["time_bucket"]
    )
    rolled = spells
    if not per_conv_bucket:
        rolled = _remerge(spells, "spells", "time_bucket")
    n = F.col("n_spells").cast("double")
    mean = F.col("dur_sum") / n
    var = F.col("dur_sq_sum") / n - mean * mean
    return rolled.select(
        *keys,
        "state",
        "n_spells",
        "dur_min",
        "dur_max",
        mean.alias("dur_mean"),
        (F.greatest(var, F.lit(0.0)) + F.lit(0.0)).alias("dur_var"),
    )
