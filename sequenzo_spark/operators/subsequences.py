"""Frequent event-subsequence mining over TSE event rows.

Reference surface (studied, not copied):
- find_frequent_subsequences — reference event_sequences/core.py:601
  (seqefsub): frequent subsequences with presence (COBJ) support, bounded
  pattern length, min_support / min_support_ratio thresholds;
- count_subsequence_occurrences — core.py:702 (seqeapplysub): per-sequence
  occurrence counts, methods COBJ (presence) and CDIST_O (distinct
  occurrences);
- compare_groups — core.py:785 (seqecmpgroup): per-subsequence chi-square
  association between presence and a group label.

A subsequence here is an ORDERED SUBSET of a sequence's events (TraMineR
semantics, core.py:1497-1530): pattern (a, b) occurs iff some position of a
precedes some position of b — positions need not be contiguous. The
reference's CDIST_O counter (core.py:1574-1589) greedily re-searches from
one past each found occurrence's start, which counts exactly the set of
START POSITIONS at which an occurrence begins; that closed form is what the
Spark expressions below compute (and what makes the operator SQL-expressible
for the DuckDB oracle).

Spark-first scale shape: everything is built from ONE per-(seq, event)
aggregate table — first/last position, occurrence count, sorted positions
array (K rows per sequence, K = event-alphabet size; never the raw turn
rows). Pattern joins are self-equijoins on seq_id of that table: k=2 costs
K² rows per sequence and k=3 K³ — bounded by the alphabet, not the data —
and candidate patterns EMERGE from the joins (a pattern absent everywhere
never materializes), so no driver-side alphabet enumeration is needed.
All shuffles are keyed by seq_id; no UDFs. The per-event aggregate
feeds 1-3 joins per call (one branch per pattern for the occurrence
counts), so it is persisted through :mod:`sequenzo_spark.caches`; the
caller releases it with ``release_caches()``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from sequenzo_spark.caches import persist, release_caches

release_stats_caches = release_caches  # name kept for existing importers


def _per_event_stats(
    events: DataFrame,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    event_col: str = "event",
    weight_col: str | None = None,
    positions: bool = False,
) -> DataFrame:
    """(seq_id, event) → first/last position, count [, sorted positions
    array, per-seq weight]. The single aggregate every mining join reuses."""
    aggs = [
        F.min(order_col).alias("fp"),
        F.max(order_col).alias("lp"),
        F.count(F.lit(1)).alias("n"),
    ]
    if positions:
        aggs.append(F.sort_array(F.collect_list(order_col)).alias("ps"))
    if weight_col:
        aggs.append(F.first(weight_col).alias("w"))
    return events.groupBy(
        F.col(seq_col).alias("seq_id"), F.col(event_col).alias("event")
    ).agg(*aggs)


def _fmt1(e) -> F.Column:
    return F.concat(F.lit("("), e, F.lit(")"))


def frequent_subsequences(
    events: DataFrame,
    max_k: int = 2,
    min_support: float | None = None,
    min_support_ratio: float | None = None,
    seq_col: str = "seq_id",
    order_col: str = "pos",
    event_col: str = "event",
    weight_col: str | None = None,
) -> DataFrame:
    """Frequent subsequences of length 1..max_k (max_k ≤ 4) with presence
    (COBJ) support — find_frequent_subsequences semantics (core.py:601,
    thresholds :672-676; the reference's simplified generator :1406 likewise
    bounds pattern length).

    Output: subseq ("(a)-(b)" — reference string format, core.py:1370),
    k, n_seqs (presence count; sum of sequence weights when ``weight_col``
    is given, as :663), support (n_seqs / total sequences-or-weight).
    Presence predicates close over the per-event aggregates:
      k=1: event present;
      k=2 (a,b): min_pos(a) < max_pos(b);
      k=3 (a,b,c): ∃ q ∈ positions(b): min_pos(a) < q < max_pos(c);
      k=4 (a,b,c,d): ∃ q ∈ pos(b), r ∈ pos(c):
                     min_pos(a) < q < r < max_pos(d).
    Join cost is Kᵏ rows per sequence (K = event alphabet) — bounded by
    the alphabet, not the data.
    """
    if max_k < 1 or max_k > 4:
        raise ValueError("max_k must be 1..4")
    if min_support is None and min_support_ratio is None:
        raise ValueError("specify min_support or min_support_ratio")
    pe = persist(_per_event_stats(
        events, seq_col, order_col, event_col, weight_col, positions=(max_k >= 3)
    ))
    # the self-joins below co-key on seq_id with Kᵏ-row fan-out; sort-merge
    # measures ~20% faster than the session default shuffled-hash here (the
    # build-side hashmap over the full per-event table costs more than the
    # sorts), so pin the strategy at the join site (guide §3.1)
    pe = pe.hint("merge")
    wcol = F.col("w") if weight_col else F.lit(1.0)
    # total support mass: distinct sequences (or their weight sum)
    per_seq = pe.groupBy("seq_id").agg(
        (F.first("w") if weight_col else F.lit(1.0)).alias("_w")
    )
    tot = per_seq.agg(F.sum("_w").alias("_tot"))

    parts = [
        pe.groupBy(_fmt1(F.col("event")).alias("subseq")).agg(
            F.lit(1).alias("k"), F.sum(wcol).alias("n_seqs")
        )
    ]
    if max_k >= 2:
        a, b = pe.alias("a"), pe.alias("b")
        parts.append(
            a.join(
                b,
                (F.col("a.seq_id") == F.col("b.seq_id"))
                & (F.col("a.fp") < F.col("b.lp")),
            )
            .groupBy(
                F.concat(
                    _fmt1(F.col("a.event")), F.lit("-"), _fmt1(F.col("b.event"))
                ).alias("subseq")
            )
            .agg(
                F.lit(2).alias("k"),
                F.sum(F.col("a.w") if weight_col else F.lit(1.0)).alias("n_seqs"),
            )
        )
    # Round-6 shape for k ≥ 3: the ∃-over-positions predicate is GREEDY-
    # STAGED instead of evaluated on the full Kᵏ join product. For (a,b,c):
    # ∃q∈ps_b: fp_a<q<lp_c  ⟺  min{q∈ps_b: q>fp_a} < lp_c — the minimal
    # valid q admits the maximal set of continuations (same greedy argument
    # as the reference's re-search loop). So the K² a⋈b stage computes
    # _q = that minimum ONCE (join-pruned by the necessary fp_a < lp_b, a
    # consequence of the predicate, so no pair is lost), and the K³ stage
    # joins on a plain scalar comparison — no interpreted array `exists`
    # per Kᵏ row (HOFs are codegen-fallback) and far fewer surviving rows.
    # The groupBy keys the event COLUMNS and builds the pattern string
    # after aggregation (Kᵏ strings instead of one per joined row).
    # Measured 3.7 → 1.9 s on the 10× bench inputs; results identical.
    if max_k >= 3:
        a, b, c = pe.alias("a"), pe.alias("b"), pe.alias("c")
        qmin = F.array_min(
            F.filter(F.col("b.ps"), lambda p: p > F.col("a.fp"))
        )
        ab = (
            a.join(
                b,
                (F.col("a.seq_id") == F.col("b.seq_id"))
                & (F.col("a.fp") < F.col("b.lp")),
            )
            .select(
                F.col("a.seq_id").alias("seq_id"),
                F.col("a.event").alias("_e1"),
                F.col("b.event").alias("_e2"),
                qmin.alias("_q"),
                *([F.col("a.w").alias("_w")] if weight_col else []),
            )
            .alias("ab")
        )
        parts.append(
            ab.join(
                c,
                (F.col("ab.seq_id") == F.col("c.seq_id"))
                & (F.col("ab._q") < F.col("c.lp")),
            )
            .groupBy("_e1", "_e2", F.col("c.event").alias("_e3"))
            .agg(
                F.lit(3).alias("k"),
                F.sum(F.col("_w") if weight_col else F.lit(1.0)).alias("n_seqs"),
            )
            .select(
                F.concat(
                    _fmt1(F.col("_e1")),
                    F.lit("-"),
                    _fmt1(F.col("_e2")),
                    F.lit("-"),
                    _fmt1(F.col("_e3")),
                ).alias("subseq"),
                "k",
                "n_seqs",
            )
        )
    if max_k >= 4:
        # (a,b,c,d): with q = min{ps_b > fp_a} fixed (greedy), ∃r∈ps_c:
        # q<r<lp_d ⟺ min{ps_c > q} < lp_d — two staged minima, the d-join
        # reduced to a scalar comparison.
        a, b, c, d = pe.alias("a"), pe.alias("b"), pe.alias("c"), pe.alias("d")
        qmin = F.array_min(
            F.filter(F.col("b.ps"), lambda p: p > F.col("a.fp"))
        )
        ab = (
            a.join(
                b,
                (F.col("a.seq_id") == F.col("b.seq_id"))
                & (F.col("a.fp") < F.col("b.lp")),
            )
            .select(
                F.col("a.seq_id").alias("seq_id"),
                F.col("a.event").alias("_e1"),
                F.col("b.event").alias("_e2"),
                qmin.alias("_q"),
                *([F.col("a.w").alias("_w")] if weight_col else []),
            )
            .alias("ab")
        )
        rmin = F.array_min(
            F.filter(F.col("c.ps"), lambda p: p > F.col("ab._q"))
        )
        abc = (
            ab.join(
                c,
                (F.col("ab.seq_id") == F.col("c.seq_id"))
                & (F.col("ab._q") < F.col("c.lp")),
            )
            .select(
                F.col("ab.seq_id").alias("seq_id"),
                "_e1",
                "_e2",
                F.col("c.event").alias("_e3"),
                rmin.alias("_r"),
                *(["_w"] if weight_col else []),
            )
            .alias("abc")
        )
        parts.append(
            abc.join(
                d,
                (F.col("abc.seq_id") == F.col("d.seq_id"))
                & (F.col("abc._r") < F.col("d.lp")),
            )
            .groupBy("_e1", "_e2", "_e3", F.col("d.event").alias("_e4"))
            .agg(
                F.lit(4).alias("k"),
                F.sum(F.col("_w") if weight_col else F.lit(1.0)).alias("n_seqs"),
            )
            .select(
                F.concat(
                    _fmt1(F.col("_e1")),
                    F.lit("-"),
                    _fmt1(F.col("_e2")),
                    F.lit("-"),
                    _fmt1(F.col("_e3")),
                    F.lit("-"),
                    _fmt1(F.col("_e4")),
                ).alias("subseq"),
                "k",
                "n_seqs",
            )
        )
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    out = out.crossJoin(F.broadcast(tot)).withColumn(
        "support", F.col("n_seqs") / F.col("_tot")
    )
    # the reference ignores min_support_ratio whenever min_support is
    # given (core.py:672-676) — mirror that precedence exactly
    if min_support is not None:
        out = out.filter(F.col("n_seqs") >= float(min_support))
    elif min_support_ratio is not None:
        out = out.filter(F.col("support") >= float(min_support_ratio))
    return out.select("subseq", "k", "n_seqs", "support")


def parse_subsequence(sstr: str) -> list[str]:
    """Parse a reference-format subsequence string "(a)-(b)" into its event
    list (_parse_subsequence_string, core.py:1371).

    Simultaneous ","-events — "(a)-(b,c)" — are FLATTENED: the reference's
    parser emits the comma group as consecutive events sharing a pattern
    timestamp, and its matcher (_find_occurrence_starting_at,
    core.py:1499-1531) then matches the FLAT event list as an ordered
    subset with strictly increasing sequence indices, never constraining
    pattern-internal timestamps — so "(a)-(b,c)" counts identically to
    "(a)-(b)-(c)" under the default (unconstrained) search. The flattened
    pattern must still fit the engine's 4-event cap."""
    s = sstr.strip()
    if s.startswith("(") and s.endswith(")"):
        s = s[1:-1]
        parts = s.split(")-(")
    else:
        parts = s.split("-")
    evs = [
        e.strip()
        for p in parts
        for e in p.strip().strip("()").split(",")
    ]
    if not evs or any(not e for e in evs):
        raise ValueError(f"cannot parse subsequence string: {sstr!r}")
    if len(evs) > 4:
        raise ValueError(
            "patterns longer than 4 events (after flattening simultaneous "
            "groups) are not supported"
        )
    return evs


def count_subsequence_occurrences(
    events: DataFrame,
    patterns: list[str],
    method: str = "presence",
    seq_col: str = "seq_id",
    order_col: str = "pos",
    event_col: str = "event",
) -> DataFrame:
    """Per-sequence occurrence counts of the given patterns —
    count_subsequence_occurrences semantics (core.py:702).

    method="presence" (COBJ): 1 iff the sequence contains the pattern.
    method="count" (CDIST_O): number of start positions at which an
    occurrence begins (the closed form of the reference's greedy re-search
    loop, core.py:1574-1589):
      len 1 (a):      |positions(a)|
      len 2 (a,b):    |{p ∈ positions(a) : p < max_pos(b)}|
      len 3 (a,b,c):  |{p ∈ positions(a) : ∃ q ∈ positions(b),
                        p < q < max_pos(c)}|
      len 4 (a,b,c,d):|{p ∈ positions(a) : ∃ q ∈ pos(b), r ∈ pos(c),
                        p < q < r < max_pos(d)}|

    Sequences not containing a pattern's events get count 0 (dense output:
    one row per sequence × pattern, like the reference's matrix)."""
    if method not in ("presence", "count"):
        raise ValueError("method must be 'presence' or 'count'")
    parsed = [(p, parse_subsequence(p)) for p in patterns]
    pe = persist(_per_event_stats(
        events, seq_col, order_col, event_col, positions=True
    ))
    seqs = pe.select("seq_id").distinct()

    outs = []
    for label, evs in parsed:
        if len(evs) == 1:
            cnt_df = pe.filter(F.col("event") == evs[0]).select(
                "seq_id", F.col("n").alias("_cnt")
            )
        elif len(evs) == 2:
            a = pe.filter(F.col("event") == evs[0]).alias("a")
            b = pe.filter(F.col("event") == evs[1]).alias("b")
            cnt = F.size(
                F.filter(F.col("a.ps"), lambda p: p < F.col("b.lp"))
            ).cast("long")
            cnt_df = a.join(b, F.col("a.seq_id") == F.col("b.seq_id")).select(
                F.col("a.seq_id").alias("seq_id"), cnt.alias("_cnt")
            )
        elif len(evs) == 4:
            a = pe.filter(F.col("event") == evs[0]).alias("a")
            b = pe.filter(F.col("event") == evs[1]).alias("b")
            c = pe.filter(F.col("event") == evs[2]).alias("c")
            d = pe.filter(F.col("event") == evs[3]).alias("d")
            cnt = F.size(
                F.filter(
                    F.col("a.ps"),
                    lambda p: F.exists(
                        F.col("b.ps"),
                        lambda q: (q > p)
                        & F.exists(
                            F.col("c.ps"),
                            lambda r: (r > q) & (r < F.col("d.lp")),
                        ),
                    ),
                )
            ).cast("long")
            cnt_df = (
                a.join(b, F.col("a.seq_id") == F.col("b.seq_id"))
                .join(c, F.col("a.seq_id") == F.col("c.seq_id"))
                .join(d, F.col("a.seq_id") == F.col("d.seq_id"))
                .select(F.col("a.seq_id").alias("seq_id"), cnt.alias("_cnt"))
            )
        else:
            a = pe.filter(F.col("event") == evs[0]).alias("a")
            b = pe.filter(F.col("event") == evs[1]).alias("b")
            c = pe.filter(F.col("event") == evs[2]).alias("c")
            cnt = F.size(
                F.filter(
                    F.col("a.ps"),
                    lambda p: F.exists(
                        F.col("b.ps"),
                        lambda q: (q > p) & (q < F.col("c.lp")),
                    ),
                )
            ).cast("long")
            cnt_df = (
                a.join(b, F.col("a.seq_id") == F.col("b.seq_id"))
                .join(c, F.col("a.seq_id") == F.col("c.seq_id"))
                .select(F.col("a.seq_id").alias("seq_id"), cnt.alias("_cnt"))
            )
        dense = seqs.join(cnt_df, "seq_id", "left").select(
            "seq_id",
            F.lit(label).alias("subseq"),
            F.coalesce(F.col("_cnt"), F.lit(0).cast("long")).alias("_cnt"),
        )
        outs.append(dense)
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    cnt = (
        F.when(F.col("_cnt") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        if method == "presence"
        else F.col("_cnt")
    )
    return out.select("seq_id", "subseq", cnt.alias("count"))


def compare_group_subsequences(
    events: DataFrame,
    groups: DataFrame,
    patterns: list[str],
    seq_col: str = "seq_id",
    order_col: str = "pos",
    event_col: str = "event",
    group_col: str = "group",
) -> DataFrame:
    """Chi-square association between pattern presence and a group label —
    compare_groups semantics (core.py:785, _chi_square_tests :1614): a
    (group × present/absent) contingency per pattern, statistic
    Σ (|obs−exp|−Yates)²/exp with Yates' 0.5 correction iff dof == 1
    (scipy.chi2_contingency's default behavior, which the reference calls).

    ``groups``: (seq_id, group) — one row per sequence. Output: subseq,
    statistic, dof, n_present, n_total. Patterns present in zero or ALL
    sequences are dropped (the reference only tests 0 < total_present < N
    and skips degenerate contingencies). The p-value step is left to the
    caller (the reference delegates it to scipy's chi2 CDF); ranking by
    statistic at fixed dof gives the same ordering."""
    pres = count_subsequence_occurrences(
        events, patterns, "presence", seq_col, order_col, event_col
    )
    g = groups.select(
        F.col(seq_col).alias("seq_id"), F.col(group_col).alias("group")
    )
    joined = pres.join(g, "seq_id")
    cells = joined.groupBy("subseq", "group").agg(
        F.sum("count").alias("obs1"),
        (F.count(F.lit(1)) - F.sum("count")).alias("obs0"),
    )
    wsub = Window.partitionBy("subseq")
    cells = (
        cells.withColumn("r1", F.sum("obs1").over(wsub))
        .withColumn("r0", F.sum("obs0").over(wsub))
        .withColumn("ng", F.count(F.lit(1)).over(wsub))
        .withColumn("nt", (F.col("r1") + F.col("r0")).cast("double"))
    )
    ct = F.col("obs1") + F.col("obs0")  # group total
    yates = F.when(F.col("ng") == 2, F.lit(0.5)).otherwise(F.lit(0.0))

    def term(obs, rtot):
        exp = ct * rtot / F.col("nt")
        # scipy >= 1.7 clamps Yates' correction to min(0.5, |diff|)
        # (gh-13875): observed moves toward expected by at most |diff|,
        # so a 0 < |diff| < 0.5 cell contributes exactly 0 — hence the
        # clamped form max(|diff| − 0.5, 0), which also covers diff == 0.
        d = F.greatest(F.abs(obs - exp) - yates, F.lit(0.0))
        return F.when(exp > 0, d * d / exp).otherwise(F.lit(0.0))

    per_group = term(F.col("obs1"), F.col("r1")) + term(F.col("obs0"), F.col("r0"))
    out = cells.groupBy("subseq").agg(
        F.sum(per_group).alias("statistic"),
        (F.first("ng") - 1).cast("long").alias("dof"),
        F.first("r1").cast("long").alias("n_present"),
        F.first("nt").cast("long").alias("n_total"),
    )
    # The reference only runs the test when 0 < total_present < N
    # (core.py:785 guards the degenerate all-present / none-present
    # patterns); mirror that by dropping such rows entirely.
    return out.filter(
        (F.col("n_present") > 0) & (F.col("n_present") < F.col("n_total"))
    )
