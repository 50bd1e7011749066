"""Shared level core of the prefix- and suffix-tree indicators.

Suffix convergence is prefix divergence read from the other end: the
level counts from the END of a sequence (k = suffix length) instead of
its start (t = prefix depth), and the z-window scan looks for LOW instead
of HIGH standardized rarity. Every prefix/suffix indicator derives from
one set of per-level aggregates (the shared-aggregate idea of *A Layered
Aggregate Engine*, LMFAO, SIGMOD'19):

- ``_level_rows``: ONE window pass building (seq_id, level, key) rows;
- ``_rarity_rows`` / ``_rarity``: key frequencies, N and −ln(freq/N + 1e-10);
- ``_zscores``: per-level two-pass z moments;
- ``_window_scan``: the per-sequence z-window scan, parameterised by
  direction, plus ``select_by_score`` for the rank/quantile methods.

The key is the \\x1f-joined state string (portable to the SQL oracle;
collision-free). Per-seq float sums fold in level order (deterministic
bits at any parallelism — the engine-wide reduction rule).
"""

from __future__ import annotations

import math
import operator

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.caches import persist

SEP = "\x1f"  # unit separator: cannot appear in state labels (validated at ingest)


def _names(from_end: bool) -> tuple[str, str]:
    """(level column, key column) of a direction."""
    return ("k", "suffix") if from_end else ("t", "prefix")


def _level_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    from_end: bool,
) -> DataFrame:
    """(seq_id, level, key) — one row per sequence position, one window
    pass. From the start: level t (int) = prefix depth, prefix = the
    states from the start through t. From the end: level k (long) =
    positions from here to the end (suffix LENGTH, the "time index from
    end"), suffix = the states from here through the end. Keys are joined
    with SEP.

    The suffix pass orders DESCENDING with an UNBOUNDED-PRECEDING frame,
    then reverses: Spark evaluates unbounded-FOLLOWING (shrinking) frames
    by re-aggregating the whole frame for EVERY row — O(T²) collect_list
    work per sequence — while the unbounded-preceding frame grows
    incrementally (O(T)); the reverse restores ascending suffix order."""
    level, key = _names(from_end)
    wr = Window.partitionBy(seq_col).orderBy(
        F.col(order_col).desc() if from_end else F.col(order_col)
    )
    states = F.collect_list(state_col).over(
        wr.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    n = F.row_number().over(wr)
    if from_end:
        states, n = F.reverse(states), n.cast("long")
    return df.select(
        F.col(seq_col).alias("seq_id"),
        n.alias(level),
        F.concat_ws(SEP, states).alias(key),
    )


def _rarity_rows(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
    from_end: bool,
) -> DataFrame:
    """Level rows (plus ``group_col``) with ``freq`` = sequences sharing
    the row's key at its level and ``_n`` = N, the total sequences; both
    within the group when ``group_col`` is given (see ``_rarity``).

    freq is a WINDOW count over (level, key): one shuffle of the level
    rows, instead of a groupBy + re-join which evaluated the expensive
    per-sequence window pass twice more (guide §2.4 — remove shuffles
    outright; every row's count over its own key group). N comes from the
    BASE table (a cheap column-pruned aggregate; the same distinct seq set
    as the level rows, which carry ≥1 row per sequence), not from the
    level rows (which would re-evaluate the window pass a third time)."""
    level, key = _names(from_end)
    gcols = [group_col] if group_col else []
    rows = _level_rows(df, seq_col, order_col, state_col, from_end)
    if group_col:
        grp = df.groupBy(F.col(seq_col).alias("seq_id")).agg(
            F.first(group_col).alias(group_col)
        )
        rows = rows.join(grp, "seq_id")
    joined = rows.withColumn(
        "freq", F.count(F.lit(1)).over(Window.partitionBy(*gcols, level, key))
    )
    if group_col:
        n_seqs = df.groupBy(F.col(group_col)).agg(
            F.countDistinct(F.col(seq_col)).alias("_n")
        )
        joined = joined.join(F.broadcast(n_seqs), gcols)
    else:
        n_seqs = df.agg(F.countDistinct(F.col(seq_col)).alias("_n"))
        joined = joined.crossJoin(F.broadcast(n_seqs))
    return joined


def _rarity():
    """r = −ln(freq/N + 1e-10) over ``_rarity_rows`` columns; the reference
    adds 1e-10 inside the log (prefix individual_level_indicators.py:580,
    suffix :93, _EPS in the spell modules). An expression, not a column:
    the rarity fold computes it inside its aggregate, with no extra
    projection."""
    return -F.log(
        F.col("freq").cast("double") / F.col("_n").cast("double") + F.lit(1e-10)
    )


def _rarity_score(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
    from_end: bool,
) -> DataFrame:
    """Per sequence: rarity_score = Σ_level r and path_uniqueness =
    #{level : freq == 1}. The rarity sum folds in ascending level order
    for bit-deterministic output."""
    level, _ = _names(from_end)
    gcols = [group_col] if group_col else []
    per_seq = (
        _rarity_rows(df, seq_col, order_col, state_col, group_col, from_end)
        .groupBy("seq_id", *gcols)
        .agg(
            F.array_sort(
                F.collect_list(
                    F.struct(F.col(level).alias(level), _rarity().alias("r"))
                )
            ).alias("_rs"),
            F.sum(F.when(F.col("freq") == 1, 1).otherwise(0))
            .cast("long")
            .alias("path_uniqueness"),
        )
    )
    score = (
        F.aggregate(F.col("_rs"), F.lit(0.0), lambda acc, s: acc + s["r"])
        + 0.0  # normalize -0.0 (all-shared keys → −ln(1) terms)
    )
    return per_seq.select(
        "seq_id", *gcols, score.alias("rarity_score"), "path_uniqueness"
    )


def _count_ratio(
    per_level: DataFrame, level: str, count: str, ratio: str
) -> DataFrame:
    """(level, count, ratio) with ratio = count(level)/count(level−1),
    0.0 at the first level — the closed form of the reference's mean
    children per trie node. The lag window runs over the per-level
    aggregate (max-length rows) — un-partitioned is fine."""
    prev = F.lag(count).over(Window.orderBy(level))
    r = F.when(prev.isNull(), F.lit(0.0)).otherwise(
        F.col(count).cast("double") / prev.cast("double")
    )
    return per_level.select(level, count, r.alias(ratio))


def _key_counts(
    df: DataFrame,
    seq_col: str,
    order_col: str,
    state_col: str,
    from_end: bool,
    count: str,
    ratio: str,
) -> DataFrame:
    """Per level: distinct keys (``count``) and their count ratio."""
    level, key = _names(from_end)
    per_level = (
        _level_rows(df, seq_col, order_col, state_col, from_end)
        .groupBy(level)
        .agg(F.countDistinct(key).alias(count))
    )
    return _count_ratio(per_level, level, count, ratio)


def _zscores(rar: DataFrame, kcols: list[str], out: str = "z") -> DataFrame:
    """(seq_id, *kcols, out): ``r`` standardized within each ``kcols``
    cell with SAMPLE std (ddof=1); null at zero-variance or single-row
    cells.

    Per-cell moments are plain partial-aggregating sums: O(1) state per
    task (an ordered-fold collect_list would hold all N sequences'
    rarities in ONE aggregation buffer). Variance uses the TWO-PASS form
    Σ(r−m)²/(cnt−1): the one-pass s2−2m·s1+cnt·m² cancels
    catastrophically near zero variance and its sign then flips with
    partial-sum order (run-to-run AND engine-vs-oracle) —
    sqrt(negative-ulp) = NaN z. Zero variance is the EXACT test min==max
    (finite doubles, no NaN): the same truth as a distinct count, without
    the distinct rewrite's second aggregation pass."""
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
    return rar.join(F.broadcast(stats), kcols).select(
        "seq_id", *kcols, z.alias(out)
    )


def _first_start(cands):
    """Smallest window start ``p`` of a non-empty candidate array."""
    return F.aggregate(
        F.transform(cands, lambda c: c["p"]),
        F.lit(2**31 - 1),
        lambda acc, x: F.least(acc, x),
    )


def _window_scan(
    df: DataFrame,
    from_end: bool,
    flag_col: str,
    first_col: str,
    z_threshold: float,
    min_t: int,
    max_t: int | None,
    window: int,
    inclusive: bool,
    method: str,
    proportion: float | None,
    quantile_p: float | None,
    min_count: int,
    seq_col: str,
    order_col: str,
    state_col: str,
    group_col: str | None,
) -> DataFrame:
    """Rarity → per-level z → per-sequence window scan: (seq_id, [group],
    std_score, flag_col, first_col). The z's are scanned in year order
    over start years p ∈ [min_t, min(max_t, L−window+1)], skipping
    windows that contain a null z.

    From the start (prefix divergence, HIGH z): years in ascending t;
    std_score = max_p min_j z(p+j); flagged iff some window has all z >
    threshold (>= if ``inclusive``); selection direction "high", first
    crossing window-min ≥ the selection threshold.
    From the end (suffix convergence, LOW z): years in DESCENDING k
    (t = L − k + 1); std_score = min_p max_j z(p+j); flagged iff some
    window has all z < −threshold (<= if ``inclusive``); selection
    direction "low", first crossing window-max ≤ the selection threshold.
    The comparisons flip instead of negating z, which would change the
    bits of −0.0 and the ordering of NaN."""
    if min_t < 1 or window < 1:
        raise ValueError("min_t and window must be >= 1")
    if max_t is not None and max_t < min_t:
        raise ValueError("max_t must be >= min_t")
    level, _ = _names(from_end)
    gcols = [group_col] if group_col else []
    if from_end:
        inner, outer, wz, reaches = F.array_max, F.array_min, "wmax", operator.le
        crosses = operator.le if inclusive else operator.lt
        year = (-F.col(level)).alias("nk")
    else:
        inner, outer, wz, reaches = F.array_min, F.array_max, "wmin", operator.ge
        crosses = operator.ge if inclusive else operator.gt
        year = F.col(level)
    rar = _rarity_rows(
        df, seq_col, order_col, state_col, group_col, from_end
    ).select("seq_id", *gcols, level, _rarity().alias("r"))
    # rar feeds both the per-level moment aggregate and the z re-join;
    # without the cache the window+join chain runs twice
    zrows = _zscores(persist(rar), gcols + [level])
    per = zrows.groupBy("seq_id", *gcols).agg(
        F.array_sort(F.collect_list(F.struct(year, F.col("z")))).alias("_zs")
    )
    w = int(window)
    # STAGED projections (round-6): the z array and the candidate-window
    # array are each computed ONCE into a column and every consumer
    # references the column. Interpreted higher-order functions get no
    # common-subexpression elimination, so a flat form re-evaluates the
    # whole transform/filter chain once per output column — and the z
    # array `transform` once per lambda invocation inside it (O(T²) per
    # row). CollapseProject keeps multi-referenced non-trivial aliases
    # staged, so each row pays one za pass + one cands pass. Measured
    # 4.1 → 2.6 s on the sf0.1 prefix_divergence driver query,
    # bit-identical.
    staged = per.select(
        "seq_id",
        *gcols,
        F.transform(F.col("_zs"), lambda s: s["z"]).alias("_za"),
    )
    zac = F.col("_za")
    # guard: a sequence shorter than min_t+window−1 has no start years —
    # without it F.sequence(min_t, smaller) would DESCEND (default step
    # −1). max_t caps the search interval for the starting year
    # (reference default None → T−window+1)
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
                p.alias("p"), inner(F.slice(zac, p, w)).alias(wz)
            ),
        ),
        lambda c: ~F.exists(F.slice(zac, c["p"], w), lambda x: x.isNull()),
    )
    staged = staged.select("seq_id", *gcols, cands_expr.alias("_cands"))
    cands = F.col("_cands")
    std_score = F.when(
        F.size(cands) > 0, outer(F.transform(cands, lambda c: c[wz]))
    )
    if method == "zscore":
        thr = F.lit(-float(z_threshold) if from_end else float(z_threshold))
        passed_expr = F.filter(cands, lambda c: crosses(c[wz], thr))
        staged = staged.select(
            "seq_id", *gcols, cands, passed_expr.alias("_passed")
        )
        passed = F.col("_passed")
        flag = F.when(F.size(passed) > 0, F.lit(1)).otherwise(F.lit(0))
        first_t = F.when(F.size(passed) > 0, _first_start(passed)).otherwise(
            F.lit(0)
        )
        return staged.select(
            "seq_id",
            *gcols,
            std_score.alias("std_score"),
            flag.cast("long").alias(flag_col),
            first_t.cast("long").alias(first_col),
        )
    # rank/quantile selection on the aggregated score; ``_cands`` rides
    # through the selection so the first-crossing scan below reuses the
    # staged array instead of rebuilding it from _zs
    scored = staged.select(
        "seq_id", *gcols, std_score.alias("std_score"), cands
    )
    sel = select_by_score(
        scored,
        "std_score",
        direction="low" if from_end else "high",
        method=method,
        proportion=proportion,
        quantile_p=quantile_p,
        min_count=min_count,
        group_col=group_col,
    )
    # selection threshold: carried as the ``_thr`` column by select_by_score
    # (worst selected score for top_proportion, the percentile for quantile)
    hit = F.filter(F.col("_cands"), lambda c: reaches(c[wz], F.col("_thr")))
    first_t = F.when(
        (F.col("selected") == 1) & (F.size(hit) > 0), _first_start(hit)
    ).otherwise(F.lit(0))
    return sel.select(
        "seq_id",
        *gcols,
        "std_score",
        F.col("selected").cast("long").alias(flag_col),
        first_t.cast("long").alias(first_col),
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
