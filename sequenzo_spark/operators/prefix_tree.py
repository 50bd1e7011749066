"""Prefix-tree indicators (position-based: level = time index).

Reference surface (studied, not copied — the reference materializes an
in-memory dict trie; this engine never builds a tree object, it derives the
same quantities from prefix-key aggregates):

- system level — prefix_tree/system_level_indicators.py:
  compute_prefix_count (:110): distinct prefixes per depth t;
  compute_branching_factor (:131): mean number of children over the
  depth-(t−1) prefixes, 0.0 padded at t=1. Every depth-t prefix has exactly
  one depth-(t−1) parent, so the mean children count equals
  n_prefixes(t) / n_prefixes(t−1) — the closed form computed here.
  (The JS-divergence third indicator, :154, is
  operators/distributions.js_divergence_consecutive.)

- individual level — prefix_tree/individual_level_indicators.py:
  prefix rarity (:46, compute_prefix_rarity_per_year): rarity(i,t) =
  −ln(freq(prefix_{i,t}) / N); rarity score = Σ_t rarity (i.e.
  compute_prefix_rarity_score); path uniqueness (compute_path_uniqueness,
  grouped variant :1282): number of depths at which the individual's prefix
  is unique (freq == 1). With ``group_col``, frequencies and N are computed
  within each group (compute_path_uniqueness_by_group_prefix).

The reference requires equal-length sequences; this engine generalizes to
variable lengths: prefix_{i,t} exists for t ≤ len(i), freq counts the
sequences sharing that exact depth-t prefix, and N stays the total
sequence (or group) count — for equal-length inputs the numbers coincide
with the reference's.

Scale shape: ONE window pass builds (seq, t, prefix-key) rows; everything
else is groupBy aggregates on (t, prefix) / seq_id. The prefix key is the
\\x1f-joined state string (portable to the SQL oracle; collision-free).
Its length grows with depth, so the (t, prefix) shuffle carries O(depth)
bytes per row — at extreme depths pass ``hashed=True`` to swap the key
for the incremental xxhash64 chain (_hashed_key_rows: same plan,
constant-width 8-byte keys, loses oracle portability).
Per-seq float sums fold in ascending-t order (deterministic bits at any
parallelism — the engine-wide reduction rule).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.caches import persist, release_caches

release_prefix_caches = release_caches  # name kept for existing importers

SEP = "\x1f"  # unit separator: cannot appear in state labels (validated at ingest)


_HASH_SEED = -6048811049363430000  # arbitrary non-state chain seed


def _hashed_key_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    from_end: bool,
) -> DataFrame:
    """(seq_id, t, key) with CONSTANT-WIDTH 8-byte keys: key_t =
    xxhash64(key_{t−1}, state_t) — an incremental hash chain over the
    per-sequence state array (reversed when ``from_end``), so the
    (t, key) shuffle carries 8 bytes per row instead of the O(depth)
    string key. Collision-free only probabilistically (64-bit); the
    string key stays the default for oracle portability."""
    arr = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
        F.array_sort(
            F.collect_list(
                F.struct(F.col(order_col).alias("p"), F.col(state_col).alias("s"))
            )
        ).alias("_a")
    )
    sts = F.transform(F.col("_a"), lambda x: x["s"])
    if from_end:
        sts = F.reverse(sts)
    chain = F.aggregate(
        sts,
        F.array().cast("array<bigint>"),
        lambda acc, s: F.concat(
            acc,
            F.array(
                F.xxhash64(
                    # F.get is null (not ANSI error) on the empty accumulator
                    F.coalesce(
                        F.get(acc, F.size(acc) - 1), F.lit(_HASH_SEED)
                    ),
                    s,
                )
            ),
        ),
    )
    return arr.select(
        # outer: chain is non-empty (≥1 state per sequence) and outer
        # explode avoids the inferred size>0 pre-filter re-evaluating the
        # whole hash-chain fold
        "seq_id", F.posexplode_outer(chain).alias("t0", "prefix")
    ).select("seq_id", (F.col("t0") + 1).alias("t"), "prefix")


def _prefix_rows(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    hashed: bool = False,
) -> DataFrame:
    """(seq_id, t, prefix) — one row per sequence position; prefix = the
    states from the start through t, joined with SEP. One window pass.

    ``hashed=True`` swaps the string key for the incremental xxhash64
    chain (constant-width shuffle keys — the scale path for 10⁴-turn
    sequences, where the string key's O(T²) bytes per sequence dominate;
    same plan shape, loses oracle portability)."""
    if hashed:
        return _hashed_key_rows(df, seq_col, order_col, state_col, False)
    w = (
        Window.partitionBy(seq_col)
        .orderBy(order_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy(seq_col).orderBy(order_col)
    return df.select(
        F.col(seq_col).alias("seq_id"),
        F.row_number().over(wr).alias("t"),
        F.concat_ws(SEP, F.collect_list(state_col).over(w)).alias("prefix"),
    )


def prefix_tree_stats(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    hashed: bool = False,
) -> DataFrame:
    """Per depth t: n_prefixes (distinct prefixes — compute_prefix_count)
    and branching_factor (n_prefixes(t)/n_prefixes(t−1), 0.0 at t=1 —
    compute_branching_factor's padding). The lag window runs over the
    per-depth aggregate (max-sequence-length rows), not data rows."""
    per_t = (
        _prefix_rows(df, seq_col, order_col, state_col, hashed)
        .groupBy("t")
        .agg(F.countDistinct("prefix").alias("n_prefixes"))
    )
    wl = Window.orderBy("t")  # max-depth rows — un-partitioned is fine
    prev = F.lag("n_prefixes").over(wl)
    bf = (
        F.when(prev.isNull(), F.lit(0.0))
        .otherwise(F.col("n_prefixes").cast("double") / prev.cast("double"))
    )
    return per_t.select("t", "n_prefixes", bf.alias("branching_factor"))


def prefix_divergence(
    df: DataFrame,
    z_threshold: float = 1.5,
    min_t: int = 2,
    max_t: int | None = None,
    window: int = 1,
    inclusive: bool = False,
    method: str = "zscore",
    proportion: float | None = None,
    quantile_p: float | None = None,
    min_count: int = 1,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Individual divergence via the reference's z-score window method
    (IndividualDivergence.compute_diverged / compute_standardized_rarity_score
    / compute_first_divergence_year,
    prefix_tree/individual_level_indicators.py:99-280, :647-726):

    rarity(i,t) = −ln(freq(prefix_{i,t})/N + 1e-10)  (the divergence paths'
    epsilon, :252); z(i,t) standardizes rarity across individuals per depth
    with SAMPLE std (ddof=1, pandas default, :700); zero-variance depths
    (all rarities equal — detected EXACTLY via distinct-count, not a float
    threshold) and single-row depths give null z. Then per individual, over
    start depths p ∈ [min_t, T−window+1], windows of ``window`` consecutive
    z's skipping any window containing null:

      std_score          = max_p min_k z(p+k)         (:717-722)
      diverged           = 1 iff some window has all z > threshold
                           (>= if ``inclusive``)       (:264-277)
      first_divergence_t = smallest such p, 0 if none  (1-indexed, :282)

    method="top_proportion"/"quantile" (compute_diverged's selection
    branches, :165-245) instead rank std_score via
    suffix_tree.select_by_score (direction="high": the largest aggregated
    scores are the most atypical); diverged = selected, and
    first_divergence_t = earliest p whose window-min z is ≥ the selection
    threshold (mirror of the suffix module's per_t_window_max logic).

    Output: seq_id, std_score (null when no valid window), diverged,
    first_divergence_t. Per-depth moments are plain partial-aggregating
    sums (bounded task state; commutative-sum order costs at most last-ulp
    bits, inside the published rounding) and the per-seq window scan folds
    in depth order. Variable-length inputs generalize the reference's
    equal-T requirement: depth-t stats cover the sequences long enough to
    reach t.

    ``group_col`` (constant within a sequence) switches to the reference's
    within-group variant (_compute_converged_by_group's prefix mirror and
    the per-group selection branches): frequencies, N, and the z moments
    are computed inside each group, and rank/quantile selections run per
    group; the output gains the group column."""
    if min_t < 1 or window < 1:
        raise ValueError("min_t and window must be >= 1")
    if max_t is not None and max_t < min_t:
        raise ValueError("max_t must be >= min_t")
    gcols = [group_col] if group_col else []
    pfx = _prefix_rows(df, seq_col, order_col, state_col, hashed)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        pfx = pfx.join(grp, "seq_id")
    # freq as a window count + N from the base table: ONE evaluation of the
    # per-sequence prefix window pass instead of three (see prefix_rarity)
    joined = pfx.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "t", "prefix"))
    )
    if group_col:
        n_seqs = df.groupBy(F.col(group_col)).agg(
            F.countDistinct(F.col(seq_col)).alias("_n")
        )
        joined = joined.join(F.broadcast(n_seqs), gcols)
    else:
        n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
        joined = joined.crossJoin(F.broadcast(n_seqs))
    rar = joined.select(
        "seq_id",
        *gcols,
        "t",
        (
            -F.log(
                F.col("freq").cast("double") / F.col("_n").cast("double")
                + F.lit(1e-10)
            )
        ).alias("r"),
    )
    # rar feeds both the per-depth moment aggregate and the z re-join;
    # without the cache the window+join chain runs twice
    rar = persist(rar)
    # per-depth moments as plain partial-aggregating sums: O(1) state per
    # task (the previous ordered-fold collect_list held all N sequences'
    # rarities in ONE aggregation buffer — an OOM at the scale this module
    # targets). Variance uses the TWO-PASS form Σ(r−m)²/(cnt−1): the
    # one-pass s2−2m·s1+cnt·m² cancels catastrophically near zero variance
    # and its sign then flips with partial-sum order (run-to-run AND
    # engine-vs-oracle) — sqrt(negative-ulp) = NaN z. Two-pass keeps the
    # sum non-negative and its order sensitivity relative-tiny; exact
    # zero-variance depths stay an EXACT distinct-count test.
    kcols = gcols + ["t"]
    # zero-variance test min==max replaces countDistinct: same exact truth
    # (finite doubles, no NaN) but a plain partial-aggregating pass — the
    # distinct rewrite doubled the aggregation over the rarity rows
    mstats = rar.groupBy(*kcols).agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("r").alias("s1"),
        (F.min("r") == F.max("r")).alias("zv"),
    )
    dev = F.col("r") - F.col("s1") / F.col("cnt")
    stats = (
        rar.join(F.broadcast(mstats), kcols)
        .groupBy(*kcols)
        .agg(F.sum(dev * dev).alias("ss"))
        .join(F.broadcast(mstats), kcols)
    )
    m = F.col("s1") / F.col("cnt")
    z = F.when(
        F.col("zv") | (F.col("cnt") < 2), F.lit(None).cast("double")
    ).otherwise((F.col("r") - m) / F.sqrt(F.col("ss") / (F.col("cnt") - 1)))
    zrows = rar.join(F.broadcast(stats), kcols).select(
        "seq_id", *gcols, "t", z.alias("z")
    )
    per = zrows.groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t"), F.col("z")))
        ).alias("_zs")
    )
    w = int(window)
    # STAGED projections (round-6): the candidate-window array is computed
    # ONCE into a ``_cands`` column and every consumer references the
    # column. Interpreted higher-order functions get no common-
    # subexpression elimination, so the previous flat form re-evaluated
    # the whole transform/filter chain once per output column — and the
    # z-array `transform` once per lambda invocation inside it (O(T²) per
    # row). CollapseProject keeps multi-referenced non-trivial aliases
    # staged, so each row now pays one za pass + one cands pass.
    # Measured 4.1 → 2.6 s on the sf0.1 driver query, bit-identical.
    staged = per.select(
        "seq_id",
        *gcols,
        F.transform(F.col("_zs"), lambda s: s["z"]).alias("_za"),
    )
    zac = F.col("_za")
    # guard: a sequence shorter than min_t+window−1 has no start positions —
    # without it F.sequence(min_t, smaller) would DESCEND (default step −1).
    # max_t caps the search interval for the starting year (reference
    # default None → T−window+1)
    hi = F.size(zac) - (w - 1)
    if max_t is not None:
        hi = F.least(hi, F.lit(int(max_t)))
    starts = F.when(
        hi >= int(min_t), F.sequence(F.lit(int(min_t)), hi)
    ).otherwise(F.array().cast("array<int>"))
    cands_expr = F.filter(
        F.transform(
            starts,
            lambda p: F.struct(
                p.alias("p"), F.array_min(F.slice(zac, p, w)).alias("wmin")
            ),
        ),
        lambda c: ~F.exists(
            F.slice(zac, c["p"], w), lambda x: x.isNull()
        ),
    )
    staged = staged.select("seq_id", *gcols, cands_expr.alias("_cands"))
    cands = F.col("_cands")
    std_score = F.when(
        F.size(cands) > 0,
        F.array_max(F.transform(cands, lambda c: c["wmin"])),
    )
    if method == "zscore":
        passed_expr = F.filter(
            cands,
            lambda c: (c["wmin"] >= z_threshold)
            if inclusive
            else (c["wmin"] > z_threshold),
        )
        staged = staged.select(
            "seq_id", *gcols, cands, passed_expr.alias("_passed")
        )
        passed = F.col("_passed")
        diverged = F.when(F.size(passed) > 0, F.lit(1)).otherwise(F.lit(0))
        first_t = F.when(
            F.size(passed) > 0,
            F.aggregate(
                F.transform(passed, lambda c: c["p"]),
                F.lit(2**31 - 1),
                lambda acc, x: F.least(acc, x),
            ),
        ).otherwise(F.lit(0))
        return staged.select(
            "seq_id",
            *gcols,
            std_score.alias("std_score"),
            diverged.cast("long").alias("diverged"),
            first_t.cast("long").alias("first_divergence_t"),
        )
    # rank/quantile selection on the aggregated score (direction: high);
    # ``_cands`` rides through the selection so the first-crossing scan
    # below reuses the staged array instead of rebuilding it from _zs
    from sequenzo_spark.operators.suffix_tree import select_by_score

    scored = staged.select(
        "seq_id", *gcols, std_score.alias("std_score"), cands
    )
    sel = select_by_score(
        scored,
        "std_score",
        direction="high",
        method=method,
        proportion=proportion,
        quantile_p=quantile_p,
        min_count=min_count,
        group_col=group_col,
    )
    # selection threshold: carried as the ``_thr`` column by select_by_score
    # (worst selected score for top_proportion, the percentile for quantile)
    hit = F.filter(F.col("_cands"), lambda c: c["wmin"] >= F.col("_thr"))
    first_t = F.when(
        (F.col("selected") == 1) & (F.size(hit) > 0),
        F.aggregate(
            F.transform(hit, lambda c: c["p"]),
            F.lit(2**31 - 1),
            lambda acc, x: F.least(acc, x),
        ),
    ).otherwise(F.lit(0))
    return sel.select(
        "seq_id",
        *gcols,
        "std_score",
        F.col("selected").cast("long").alias("diverged"),
        first_t.cast("long").alias("first_divergence_t"),
    )


def prefix_rarity(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_t −ln(freq(prefix_t)/N + 1e-10)
    (the reference's epsilon, individual_level_indicators.py:580) and
    path_uniqueness = #{t : freq(prefix_t) == 1}.

    ``group_col`` (a per-turn column, constant within a sequence) switches
    to the within-group variant: freq and N are computed inside each group
    (compute_path_uniqueness_by_group_prefix, individual_level:1282).
    The rarity sum folds in ascending-t order for bit-deterministic output."""
    gcols = [group_col] if group_col else []
    pfx = _prefix_rows(df, seq_col, order_col, state_col, hashed)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        pfx = pfx.join(grp, "seq_id")
    # prefix frequency at each depth (within group) as a WINDOW count over
    # (t, prefix): one shuffle of the prefix rows, instead of the previous
    # groupBy + re-join which evaluated the expensive per-sequence prefix
    # window pass twice more (guide §2.4 — remove shuffles outright; freq
    # values identical: every row's count over its own key group)
    joined = pfx.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "t", "prefix"))
    )
    # N: total sequences (per group) — from the BASE table (cheap column-
    # pruned aggregate; same distinct seq set as the prefix rows, which
    # carry ≥1 row per sequence), not from the joined frame (which would
    # re-evaluate the whole prefix pipeline a third time)
    if group_col:
        n_seqs = df.groupBy(F.col(group_col)).agg(
            F.countDistinct(F.col(seq_col)).alias("_n")
        )
        joined = joined.join(F.broadcast(n_seqs), gcols)
    else:
        n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
        joined = joined.crossJoin(F.broadcast(n_seqs))
    # the reference adds 1e-10 inside the log (compute_prefix_rarity_score,
    # individual_level_indicators.py:580) — keep it for parity with both
    # the reference and prefix_divergence's rarity path
    rar = -F.log(
        F.col("freq").cast("double") / F.col("_n").cast("double")
        + F.lit(1e-10)
    )
    per_seq = joined.groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("t").alias("t"), rar.alias("r")))
        ).alias("_rs"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("path_uniqueness"),
    )
    score = (
        F.aggregate(
            F.col("_rs"), F.lit(0.0), lambda acc, s: acc + s["r"]
        )
        + 0.0  # normalize -0.0 (all-shared prefixes → −ln(1) terms)
    )
    return per_seq.select(
        "seq_id", *gcols, score.alias("rarity_score"), "path_uniqueness"
    )
