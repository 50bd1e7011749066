"""Suffix-tree indicators (level = time index from the END).

Reference surface (studied, not copied — the reference materializes an
in-memory dict trie per corpus; this engine derives the same quantities
from key aggregates and never builds a tree object):

- system level, position mode — suffix_tree/system_level_indicators.py:
  ``_build_suffix_tree_position`` (:186) inserts EVERY suffix of every
  sequence, and ``insert`` (:29) counts every prefix of each inserted
  suffix — so ``tree.counts``'s keys are the corpus's distinct SUBSTRINGS
  and ``compute_suffix_count`` (:110) is the number of distinct substrings
  of each length t. ``compute_merging_factor`` (:128) is the mean number
  of trie children over the length-(t−1) substrings, 0.0-padded at t=1;
  every length-t substring has exactly one length-(t−1) prefix, so the
  mean equals n(t)/n(t−1) — the closed form computed here. (The
  JS-convergence third indicator, :154, is
  operators/distributions.js_divergence_consecutive — note scipy's
  ``jensenshannon`` returns the square root of the base-e divergence.)

- system level, spell mode — suffix_tree/spell_level_indicators.py:
  ``build_spell_suffix_tree`` (:104) inserts ONE reversed spell sequence
  per individual, so level-k keys are the distinct "last k spells"
  patterns; ``compute_suffix_count_spell`` / ``compute_merging_factor_spell``
  (:158, :173) reduce to the same count/ratio closed form over
  sequence-suffix keys (spell_suffix_stats here).

- individual level — suffix_tree/individual_level_indicators.py
  (IndividualConvergence) and spell_individual_level_indicators.py:
  suffix_{i,t} = states from time t to the END; rarity(i,t) =
  −ln(freq/N + 1e-10) (:93, :668, _EPS in the spell module); rarity
  score = Σ_t rarity (:718); path uniqueness = #{t : freq == 1} (:988,
  by-group :1626); convergence = windows of LOW z
  (compute_converged :107, compute_standardized_rarity_score :737,
  compute_first_convergence_year :360) — the exact mirror of the prefix
  tree's divergence, with flipped comparisons: std_score =
  min_p max_k z(p+k), converged iff some window has all z < −threshold.
  Selection methods "top_proportion" / "quantile" (:181-245) rank the
  aggregated std_score instead (shared with prefix divergence via
  select_by_score).

The reference requires equal-length sequences; this engine generalizes to
variable lengths by pooling on k = SUFFIX LENGTH (the module's own "time
index from end"): for equal-length inputs k = T−t+1 is a bijection of the
reference's year index t, so frequencies, z columns, and outputs coincide;
per-sequence year indices are reported from the sequence's own start
(t = L_i − k + 1), matching the reference's 1-indexed years at equal L.

Scale shape: ONE window pass builds (seq, k, suffix-key) rows; everything
else is groupBy aggregates on (k, suffix) / seq_id with bounded task
state. The position-mode SYSTEM tree is inherently quadratic in sequence
length (all substrings — the reference inserts T suffixes of length
O(T)); ``suffix_tree_stats`` therefore takes ``max_len`` to bound it to
n-gram statistics (rows = T·max_len per sequence), the right shape for
10⁴-turn transcripts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.caches import persist, release_caches

SEP = "\x1f"  # unit separator: cannot appear in state labels (validated at ingest)

release_suffix_caches = release_caches  # name kept for existing importers


def _suffix_rows(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    hashed: bool = False,
) -> DataFrame:
    """(seq_id, k, suffix) — one row per sequence position; k = number of
    positions from here to the end (suffix LENGTH, the "time index from
    end"), suffix = the states from this position through the end, joined
    with SEP. One window pass. ``hashed=True`` swaps the string key for
    the constant-width incremental xxhash64 chain over the REVERSED
    states (prefix_tree._hashed_key_rows — the scale path for long
    sequences; loses oracle portability)."""
    if hashed:
        from sequenzo_spark.operators.prefix_tree import _hashed_key_rows

        return _hashed_key_rows(
            df, seq_col, order_col, state_col, True
        ).select("seq_id", F.col("t").alias("k"), F.col("prefix").alias("suffix"))
    # Descending order with an UNBOUNDED-PRECEDING frame, then reverse:
    # Spark evaluates unbounded-FOLLOWING (shrinking) frames by
    # re-aggregating the whole frame for EVERY row — O(T²) collect_list
    # work per sequence — while the unbounded-preceding frame grows
    # incrementally (O(T)); the reverse restores ascending suffix order.
    # k = rows from here to the end = row_number in descending order.
    wd = (
        Window.partitionBy(seq_col)
        .orderBy(F.col(order_col).desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wr = Window.partitionBy(seq_col).orderBy(F.col(order_col).desc())
    return df.select(
        F.col(seq_col).alias("seq_id"),
        F.row_number().over(wr).cast("long").alias("k"),  # long like the old count()
        F.concat_ws(
            SEP, F.reverse(F.collect_list(state_col).over(wd))
        ).alias("suffix"),
    )


def suffix_tree_stats(
    df: DataFrame,
    max_len: int | None = None,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Position-mode SYSTEM indicators: per substring length t, the number
    of distinct substrings (compute_suffix_count) and the merging factor
    n(t)/n(t−1), 0.0 at t=1 (compute_merging_factor's closed form — see
    module docstring).

    ``max_len`` bounds the substring length (n-gram statistics): the
    reference's all-substrings tree is O(T²) keys per sequence, a
    scale-killer for long transcripts; with ``max_len`` the row count is
    T·max_len per sequence and the t ≤ max_len outputs are IDENTICAL to
    the unbounded tree's.

    Round-6 shape: one window pass collects, per POSITION, the next
    ``max_len`` states (a bounded per-row array); the grams starting at
    that position are prefixes of that small array. The previous
    per-sequence nested transform re-walked the whole sequence array for
    every gram (O(T) interpreted element accesses per gram — ~8 s of the
    9 s total at sf0.1); this form does O(max_len²) bounded work per
    position inside the same one-shuffle plan."""
    frame_end = (
        int(max_len) - 1 if max_len is not None else Window.unboundedFollowing
    )
    w = (
        Window.partitionBy(seq_col)
        .orderBy(order_col)
        .rowsBetween(Window.currentRow, frame_end)
    )
    rows = df.select(F.collect_list(state_col).over(w).alias("_w"))
    grams = F.transform(
        F.sequence(F.lit(1), F.size("_w")),
        lambda t: F.struct(
            t.alias("t"), F.concat_ws(SEP, F.slice("_w", 1, t)).alias("g")
        ),
    )
    per_t = (
        # explode_outer: grams is non-empty for every position row and
        # outer explode stops InferFiltersFromGenerate from duplicating
        # the gram-building expression into a pre-filter
        rows.select(F.explode_outer(grams).alias("e"))
        .select(F.col("e.t").alias("t"), F.col("e.g").alias("g"))
        .groupBy("t")
        .agg(F.countDistinct("g").alias("n_suffixes"))
    )
    wl = Window.orderBy("t")  # max-length rows — un-partitioned is fine
    prev = F.lag("n_suffixes").over(wl)
    mf = F.when(prev.isNull(), F.lit(0.0)).otherwise(
        F.col("n_suffixes").cast("double") / prev.cast("double")
    )
    return per_t.select("t", "n_suffixes", mf.alias("merging_factor"))


def spell_suffix_stats(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Spell/sequence-suffix SYSTEM indicators: per level k (last k
    elements), distinct suffix count and merging factor n(k)/n(k−1), 0.0
    at k=1 (compute_suffix_count_spell / compute_merging_factor_spell —
    the spell tree inserts one reversed sequence per individual, so its
    level-k keys are exactly the distinct length-k sequence suffixes).
    Feed ``spell_table`` output (order_col="spell_id") for spell mode."""
    per_k = (
        _suffix_rows(df, seq_col, order_col, state_col)
        .groupBy("k")
        .agg(F.countDistinct("suffix").alias("n_suffixes"))
    )
    wl = Window.orderBy("k")
    prev = F.lag("n_suffixes").over(wl)
    mf = F.when(prev.isNull(), F.lit(0.0)).otherwise(
        F.col("n_suffixes").cast("double") / prev.cast("double")
    )
    return per_k.select("k", "n_suffixes", mf.alias("merging_factor"))


def suffix_rarity(
    df: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
    group_col: str | None = None,
    hashed: bool = False,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_k −ln(freq(suffix_k)/N + 1e-10)
    (compute_suffix_rarity_score) and path_uniqueness = #{k :
    freq(suffix_k) == 1} (compute_path_uniqueness; with ``group_col`` the
    within-group variant compute_path_uniqueness_by_group_suffix, :1626 —
    freq and N computed inside each group). The rarity sum folds in
    ascending-k order for bit-deterministic output."""
    gcols = [group_col] if group_col else []
    sfx = _suffix_rows(df, seq_col, order_col, state_col, hashed)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        sfx = sfx.join(grp, "seq_id")
    # freq as a window count over (k, suffix) + N from the base table: ONE
    # evaluation of the per-sequence suffix window pass instead of three
    # (the groupBy + re-join + distinct-N each re-derived it — guide §2.4)
    joined = sfx.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "k", "suffix"))
    )
    if group_col:
        n_seqs = df.groupBy(F.col(group_col)).agg(
            F.countDistinct(F.col(seq_col)).alias("_n")
        )
        joined = joined.join(F.broadcast(n_seqs), gcols)
    else:
        n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
        joined = joined.crossJoin(F.broadcast(n_seqs))
    rar = -F.log(
        F.col("freq").cast("double") / F.col("_n").cast("double")
        + F.lit(1e-10)
    )
    per_seq = joined.groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct(F.col("k").alias("k"), rar.alias("r")))
        ).alias("_rs"),
        F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
        .cast("long")
        .alias("path_uniqueness"),
    )
    score = (
        F.aggregate(F.col("_rs"), F.lit(0.0), lambda acc, s: acc + s["r"])
        + 0.0  # normalize -0.0
    )
    return per_seq.select(
        "seq_id", *gcols, score.alias("rarity_score"), "path_uniqueness"
    )


def select_by_score(
    scored: DataFrame,
    score_col: str,
    direction: str,
    method: str,
    proportion: float | None,
    quantile_p: float | None,
    min_count: int,
    group_col: str | None = None,
) -> DataFrame:
    """Rank/quantile selection over an aggregated standardized score —
    the reference's "top_proportion" / "quantile" branches
    (suffix_tree/individual_level_indicators.py:181-245,
    prefix_tree/individual_level_indicators.py:97-245), shared by suffix
    convergence (direction="low": smallest scores selected) and prefix
    divergence (direction="high": largest selected).

    top_proportion: k = clamp(floor(p·n_valid), min_count, n_valid) per
    group (global when no group); the k most extreme finite scores are
    flagged. The reference breaks score ties by input order (stable
    argsort); here ties break by seq_id — identical whenever input order
    is seq_id order. quantile: flag scores beyond the linear-interpolated
    quantile (numpy nanquantile default), ≤ for "low", ≥ for "high".
    Null scores are never selected. Adds an int ``selected`` column and a
    ``_thr`` column (the selection threshold = the most extreme NON-selected
    boundary value: worst selected score for top_proportion, the quantile
    for quantile — callers use it for first-crossing logic and drop it).

    Scale shape (round-6 rewrite): the UNGROUPED paths derive the
    threshold from AGGREGATES — count + bounded per-partition top-k for
    the k-th order statistic, or an exact percentile aggregate — then
    select by plain comparison; the only remaining rank runs over the
    TIE rows at the threshold boundary (normally ~1 row). The previous
    ``Window.partitionBy()`` funnelled EVERY per-sequence score through
    one task (the round-5 verdict's scale-killer). The grouped paths keep
    per-group windows (bounded by group size)."""
    if direction not in ("low", "high"):
        raise ValueError("direction must be 'low' or 'high'")
    low = direction == "low"
    sc = F.col(score_col)
    if method in ("top_proportion", "topk", "proportion", "rank"):
        p = 0.10 if proportion is None else float(proportion)
        if group_col:
            wg = Window.partitionBy(group_col)
            order = (
                [sc.asc_nulls_last(), F.col("seq_id").asc()]
                if low
                else [sc.desc_nulls_last(), F.col("seq_id").desc()]
            )
            wr = wg.orderBy(*order)
            n_valid = F.sum(F.when(sc.isNotNull(), 1).otherwise(0)).over(wg)
            kk = F.greatest(
                F.floor(F.lit(p) * n_valid), F.lit(int(min_count))
            )
            kk = F.least(kk, n_valid)
            sel = (F.row_number().over(wr) <= kk) & sc.isNotNull()
            out = scored.withColumn("selected", sel.cast("int"))
            thr = (F.max if low else F.min)(
                F.when(F.col("selected") == 1, sc)
            ).over(wg)
            return out.withColumn("_thr", thr)
        import math

        # aggregate-derived threshold: the selected set is {score strictly
        # more extreme than s*} ∪ {the first (k − |strict|) boundary ties
        # by seq_id}, where s* = the k-th most extreme score. s* is exactly
        # the worst selected score, i.e. the old window formulation's
        # max/min-over-selected threshold.
        cached = persist(scored)
        n_valid = cached.where(sc.isNotNull()).count()
        k = min(max(math.floor(p * n_valid), int(min_count)), n_valid)
        if k <= 0:
            return cached.withColumn("selected", F.lit(0)).withColumn(
                "_thr", F.lit(None).cast("double")
            )
        s_star = (
            cached.where(sc.isNotNull())
            .select(sc.alias("_s"))
            .orderBy(F.col("_s").asc() if low else F.col("_s").desc())
            .limit(k)
            .agg((F.max if low else F.min)("_s").alias("_s"))
            .first()[0]
        )
        strict = (sc < F.lit(s_star)) if low else (sc > F.lit(s_star))
        budget = k - cached.where(strict).count()
        # boundary ties ranked by seq_id via TakeOrdered (bounded per-
        # partition top-k, no single-partition exchange anywhere)
        tie_sel = (
            cached.where(sc == F.lit(s_star))
            .select("seq_id")
            .orderBy(F.col("seq_id").asc() if low else F.col("seq_id").desc())
            .limit(int(budget))
            .select("seq_id", F.lit(1).alias("_tie_sel"))
        )
        out = cached.join(F.broadcast(tie_sel), "seq_id", "left")
        sel = sc.isNotNull() & (strict | F.col("_tie_sel").isNotNull())
        return (
            out.withColumn("selected", sel.cast("int"))
            .withColumn("_thr", F.lit(float(s_star)))
            .drop("_tie_sel")
        )
    if method == "quantile":
        q = (
            (0.10 if low else 0.90)
            if quantile_p is None
            else float(quantile_p)
        )
        if group_col:
            wg = Window.partitionBy(group_col)
            xq = F.expr(f"percentile({score_col}, {q!r})").over(wg)
            sel = ((sc <= xq) if low else (sc >= xq)) & sc.isNotNull()
            return scored.withColumn("selected", sel.cast("int")).withColumn(
                "_thr", xq
            )
        # exact percentile as an AGGREGATE (identical value to the old
        # whole-frame window percentile: same function, same multiset),
        # broadcast back — no single-partition window
        cached = persist(scored)
        thr_df = cached.agg(
            F.expr(f"percentile({score_col}, {q!r})").alias("_thr")
        )
        out = cached.crossJoin(F.broadcast(thr_df))
        sel = (
            (sc <= F.col("_thr")) if low else (sc >= F.col("_thr"))
        ) & sc.isNotNull()
        return out.withColumn("selected", sel.cast("int"))
    raise ValueError(f"unknown selection method: {method!r}")


def suffix_convergence(
    df: DataFrame,
    z_threshold: float = 1.5,
    min_t: int = 1,
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
) -> DataFrame:
    """Individual convergence — the suffix mirror of prefix_divergence
    (IndividualConvergence.compute_converged /
    compute_standardized_rarity_score / compute_first_convergence_year,
    suffix_tree/individual_level_indicators.py:107-726):

    rarity(i,k) = −ln(freq(suffix_{i,k})/N + 1e-10); z(i,k) standardizes
    rarity across individuals per level k with SAMPLE std (ddof=1);
    zero-variance levels (EXACT distinct-count test) and single-row
    levels give null z. Per individual the z's are scanned in YEAR order
    (t = L_i − k + 1, i.e. start position of the suffix): over start
    years p ∈ [min_t, L−window+1], windows of ``window`` consecutive z's
    skipping any window containing null:

      std_score            = min_p max_j z(p+j)   (lower = more typical)
      converged            = 1 iff some window has all z < −threshold
                             (<= if ``inclusive``)
      first_convergence_t  = smallest such p, 0 if none (1-indexed)

    method="top_proportion"/"quantile" instead rank std_score via
    select_by_score (direction="low"); converged = selected, and
    first_convergence_t = earliest p whose window-max z is ≤ the
    selection threshold (the reference's per_t_window_max logic, :418).

    ``group_col`` (constant within a sequence) switches to the reference's
    within-group variant (_compute_converged_by_group and the per-group
    selection branches): frequencies, N, and the z moments are computed
    inside each group, and rank/quantile selections run per group.

    Output: seq_id, [group], std_score, converged, first_convergence_t."""
    if min_t < 1 or window < 1:
        raise ValueError("min_t and window must be >= 1")
    if max_t is not None and max_t < min_t:
        raise ValueError("max_t must be >= min_t")
    gcols = [group_col] if group_col else []
    sfx = _suffix_rows(df, seq_col, order_col, state_col)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        sfx = sfx.join(grp, "seq_id")
    # freq via window count + base-table N (see suffix_rarity): one
    # evaluation of the suffix window pass instead of three
    joined = sfx.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, "k", "suffix"))
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
        "k",
        (
            -F.log(
                F.col("freq").cast("double") / F.col("_n").cast("double")
                + F.lit(1e-10)
            )
        ).alias("r"),
    )
    rar = persist(rar)
    # per-level moments: bounded-state partial sums with the TWO-PASS
    # variance Σ(r−m)²/(cnt−1) (same rationale as prefix_divergence: the
    # one-pass form cancels catastrophically near zero variance and its
    # sign flips with summation order → NaN z)
    kcols = gcols + ["k"]
    # zero-variance test min==max replaces countDistinct: same exact truth
    # (finite doubles, no NaN) without the distinct rewrite's double pass
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
        "seq_id", *gcols, "k", z.alias("z")
    )
    # year order: t = L − k + 1 ⇔ descending k; sort by −k ascending
    per = zrows.groupBy("seq_id", *gcols).agg(
        F.array_sort(
            F.collect_list(F.struct((-F.col("k")).alias("nk"), F.col("z")))
        ).alias("_zs")
    )
    w = int(window)
    # STAGED projections (round-6, mirror of prefix_divergence): za and the
    # candidate-window array are each computed ONCE into a column —
    # interpreted HOFs get no common-subexpression elimination, so the flat
    # form re-evaluated the transform/filter chain per output column and
    # the za transform per lambda invocation (O(T²) per row).
    staged = per.select(
        "seq_id",
        *gcols,
        F.transform(F.col("_zs"), lambda s: s["z"]).alias("_za"),
    )
    zac = F.col("_za")
    cands_expr = F.filter(
        F.transform(
            starts_of(zac, min_t, w, max_t),
            lambda p: F.struct(
                p.alias("p"), F.array_max(F.slice(zac, p, w)).alias("wmax")
            ),
        ),
        lambda c: ~F.exists(F.slice(zac, c["p"], w), lambda x: x.isNull()),
    )
    staged = staged.select("seq_id", *gcols, cands_expr.alias("_cands"))
    cands = F.col("_cands")
    std_score = F.when(
        F.size(cands) > 0,
        F.array_min(F.transform(cands, lambda c: c["wmax"])),
    )
    if method == "zscore":
        thr = F.lit(-float(z_threshold))
        passed_expr = F.filter(
            cands,
            lambda c: (c["wmax"] <= thr) if inclusive else (c["wmax"] < thr),
        )
        staged = staged.select(
            "seq_id", *gcols, cands, passed_expr.alias("_passed")
        )
        passed = F.col("_passed")
        converged = F.when(F.size(passed) > 0, F.lit(1)).otherwise(F.lit(0))
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
            converged.cast("long").alias("converged"),
            first_t.cast("long").alias("first_convergence_t"),
        )
    # ``_cands`` rides through the selection so the first-crossing scan
    # below reuses the staged array instead of rebuilding it from _zs
    scored = staged.select(
        "seq_id", *gcols, std_score.alias("std_score"), cands
    )
    # rank/quantile methods: select on std_score, then earliest window
    # whose max z is ≤ the selection threshold (reference :449-560)
    sel = select_by_score(
        scored,
        "std_score",
        direction="low",
        method=method,
        proportion=proportion,
        quantile_p=quantile_p,
        min_count=min_count,
        group_col=group_col,
    )
    # selection threshold: carried as the ``_thr`` column by select_by_score
    # (worst selected score for top_proportion, the percentile for quantile)
    hit = F.filter(F.col("_cands"), lambda c: c["wmax"] <= F.col("_thr"))
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
        F.col("selected").cast("long").alias("converged"),
        first_t.cast("long").alias("first_convergence_t"),
    )


def starts_of(za, min_t: int, w: int, max_t: int | None = None):
    """Window start years p ∈ [min_t, min(max_t, len(za)−w+1)] (empty when
    the sequence is too short — F.sequence would otherwise DESCEND;
    ``max_t`` is the reference's search-interval cap, default None →
    T−window+1)."""
    hi = F.size(za) - (w - 1)
    if max_t is not None:
        hi = F.least(hi, F.lit(int(max_t)))
    return F.when(
        hi >= int(min_t), F.sequence(F.lit(int(min_t)), hi)
    ).otherwise(F.array().cast("array<int>"))


def suffix_rarity_per_level(
    df: DataFrame,
    zscore: bool = False,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    state_col: str = "state",
) -> DataFrame:
    """Per-(sequence, level) suffix rarity — the reference's
    compute_suffix_rarity_per_year / compute_suffix_rarity_per_spell
    (suffix_tree/individual_level_indicators.py:668,
    spell_individual_level_indicators.py:83) in long format:
    (seq_id, k, rarity) with k = suffix length (time index from end);
    ``zscore=True`` returns the columnwise ddof-1 z instead (null at
    zero-variance or single-row levels). Levels beyond a sequence's
    length are simply absent (the reference's NaN cells)."""
    sfx = _suffix_rows(df, seq_col, order_col, state_col)
    # freq via window count + base-table N (see suffix_rarity)
    joined = sfx.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy("k", "suffix"))
    )
    n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
    rar = joined.crossJoin(F.broadcast(n_seqs)).select(
        "seq_id",
        "k",
        (
            -F.log(
                F.col("freq").cast("double") / F.col("_n").cast("double")
                + F.lit(1e-10)
            )
        ).alias("rarity"),
    )
    if not zscore:
        return rar
    mstats = rar.groupBy("k").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.sum("rarity").alias("s1"),
        (F.min("rarity") == F.max("rarity")).alias("zv"),
    )
    dev = F.col("rarity") - F.col("s1") / F.col("cnt")
    stats = (
        rar.join(F.broadcast(mstats), "k")
        .groupBy("k")
        .agg(F.sum(dev * dev).alias("ss"))
        .join(F.broadcast(mstats), "k")
    )
    m = F.col("s1") / F.col("cnt")
    z = F.when(
        F.col("zv") | (F.col("cnt") < 2), F.lit(None).cast("double")
    ).otherwise(
        (F.col("rarity") - m) / F.sqrt(F.col("ss") / (F.col("cnt") - 1))
    )
    return rar.join(F.broadcast(stats), "k").select(
        "seq_id", "k", z.alias("rarity")
    )
