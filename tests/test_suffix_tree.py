"""Suffix-tree indicators vs pure-Python mirrors of the reference
(suffix_tree/system_level_indicators.py SuffixTree built from ALL suffixes
→ distinct-substring counts; spell_level_indicators.py SpellSuffixTree
(one reversed insert per sequence); individual_level_indicators.py
IndividualConvergence rarity / z-window convergence / selection methods)."""

import math
import random
from collections import defaultdict

import numpy as np
import pytest

from sequenzo_spark.operators.suffix_tree import (
    spell_suffix_stats,
    suffix_convergence,
    suffix_rarity,
    suffix_tree_stats,
)


def _df(spark, seqs, group=None):
    rows = []
    for i, seq in enumerate(seqs):
        g = group[i] if group else None
        for p, st in enumerate(seq):
            rows.append(
                (f"s{i:02d}", p, st) if group is None else (f"s{i:02d}", p, st, g)
            )
    schema = "seq_id string, pos int, state string" + (
        ", grp string" if group else ""
    )
    return spark.createDataFrame(rows, schema)


def _ref_substring_sets(seqs):
    """length -> set of distinct substrings: the reference position tree
    inserts every suffix and counts every prefix of it (system_level
    _build_suffix_tree_position + insert)."""
    by_len = defaultdict(set)
    for seq in seqs:
        for s in range(len(seq)):
            for t in range(1, len(seq) - s + 1):
                by_len[t].add(tuple(seq[s : s + t]))
    return by_len


def _ref_suffix_freq(seqs):
    """k -> Counter of full length-k suffixes (one per sequence per k) —
    IndividualConvergence._build_suffix_frequencies re-keyed by length."""
    freq = defaultdict(lambda: defaultdict(int))
    for seq in seqs:
        for k in range(1, len(seq) + 1):
            freq[k][tuple(seq[-k:])] += 1
    return freq


def test_system_stats_match_reference_substrings(spark):
    rng = random.Random(5)
    seqs = [
        [rng.choice("ABC") for _ in range(rng.randint(1, 8))] for _ in range(25)
    ]
    by_len = _ref_substring_sets(seqs)
    got = {r["t"]: r for r in suffix_tree_stats(_df(spark, seqs)).collect()}
    assert set(got) == set(range(1, max(by_len) + 1))
    for t in sorted(by_len):
        assert got[t]["n_suffixes"] == len(by_len[t]), t
        if t == 1:
            assert got[t]["merging_factor"] == 0.0
        else:
            # mean trie children over length-(t-1) substrings == count ratio
            want = len(by_len[t]) / len(by_len[t - 1])
            assert got[t]["merging_factor"] == pytest.approx(want), t


def test_system_stats_max_len_prefix_of_unbounded(spark):
    seqs = [["A", "B", "A", "C"], ["B", "A", "C"], ["A", "B"]]
    full = {r["t"]: r for r in suffix_tree_stats(_df(spark, seqs)).collect()}
    capped = {
        r["t"]: r
        for r in suffix_tree_stats(_df(spark, seqs), max_len=2).collect()
    }
    assert set(capped) == {1, 2}
    for t in (1, 2):
        assert capped[t]["n_suffixes"] == full[t]["n_suffixes"]
        assert capped[t]["merging_factor"] == full[t]["merging_factor"]


def test_spell_suffix_stats_match_reference(spark):
    """Spell tree inserts ONE reversed sequence per individual — level-k
    keys are the distinct length-k sequence suffixes."""
    seqs = [["A", "B", "C"], ["B", "C"], ["A", "C"], ["A", "B", "C"]]
    freq = _ref_suffix_freq(seqs)
    got = {r["k"]: r for r in spell_suffix_stats(_df(spark, seqs)).collect()}
    for k in sorted(freq):
        assert got[k]["n_suffixes"] == len(freq[k]), k
        if k == 1:
            assert got[k]["merging_factor"] == 0.0
        else:
            assert got[k]["merging_factor"] == pytest.approx(
                len(freq[k]) / len(freq[k - 1])
            ), k


def test_rarity_matches_reference_formula(spark):
    seqs = [["A", "B", "A"], ["B", "B", "A"], ["A", "B", "A"], ["C", "B", "B"]]
    freq = _ref_suffix_freq(seqs)
    N = len(seqs)
    got = {r["seq_id"]: r for r in suffix_rarity(_df(spark, seqs)).collect()}
    for i, seq in enumerate(seqs):
        want_score = sum(
            -math.log(freq[k][tuple(seq[-k:])] / N + 1e-10)
            for k in range(1, len(seq) + 1)
        )
        want_uniq = sum(
            1 for k in range(1, len(seq) + 1) if freq[k][tuple(seq[-k:])] == 1
        )
        r = got[f"s{i:02d}"]
        assert r["rarity_score"] == pytest.approx(want_score), i
        assert r["path_uniqueness"] == want_uniq, i
    assert got["s00"]["rarity_score"] == got["s02"]["rarity_score"]


def test_rarity_grouped(spark):
    seqs = [["A", "B"], ["C", "B"], ["A", "B"], ["B", "B"]]
    groups = ["g0", "g0", "g1", "g1"]
    got = {
        r["seq_id"]: r
        for r in suffix_rarity(
            _df(spark, seqs, groups), group_col="grp"
        ).collect()
    }
    # g0 = {s0:[A,B], s1:[C,B]}: last state B shared (freq 2), k=2 unique
    for sid in ("s00", "s01"):
        assert got[sid]["path_uniqueness"] == 1
        assert got[sid]["rarity_score"] == pytest.approx(
            -math.log(2 / 2 + 1e-10) - math.log(1 / 2 + 1e-10)
        )
    # g1 = {s2:[A,B], s3:[B,B]}: shared ending B, distinct pairs
    for sid in ("s02", "s03"):
        assert got[sid]["path_uniqueness"] == 1


def _ref_convergence(seqs, z_threshold, min_t, window, inclusive=False):
    """Pure-numpy mirror of IndividualConvergence.compute_converged /
    compute_standardized_rarity_score / compute_first_convergence_year
    (zscore method) for EQUAL-length sequences: rarity → columnwise z
    (ddof=1, zero-variance → NaN) → window scan with z < -threshold."""
    N, T = len(seqs), len(seqs[0])
    freq_by_year = [defaultdict(int) for _ in range(T)]
    for seq in seqs:
        for t in range(T):
            freq_by_year[t][tuple(seq[t:])] += 1
    rar = np.array(
        [
            [
                -np.log(freq_by_year[t][tuple(seq[t:])] / N + 1e-10)
                for t in range(T)
            ]
            for seq in seqs
        ]
    )
    mean = rar.mean(axis=0)
    std = rar.std(axis=0, ddof=1)
    with np.errstate(invalid="ignore", divide="ignore"):
        z = (rar - mean) / std
    z = np.where(np.isfinite(z), z, np.nan)
    max_t = T - window + 1
    std_scores, flags, years = [], [], []
    for i in range(N):
        cand, first = [], 0
        conv = 0
        for p in range(min_t - 1, max_t):
            vals = z[i, p : p + window]
            if not np.all(np.isfinite(vals)):
                continue
            wmax = float(np.max(vals))
            cand.append(wmax)
            ok = (
                all(v <= -z_threshold for v in vals)
                if inclusive
                else all(v < -z_threshold for v in vals)
            )
            if ok and conv == 0:
                conv, first = 1, p + 1
        std_scores.append(min(cand) if cand else None)
        flags.append(conv)
        years.append(first)
    return std_scores, flags, years


def test_convergence_mirrors_reference(spark):
    rng = random.Random(3)
    T = 5
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(14)]
    want_scores, want_flags, want_years = _ref_convergence(
        seqs, z_threshold=0.8, min_t=1, window=2
    )
    got = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs), z_threshold=0.8, min_t=1, window=2
        ).collect()
    }
    for i in range(len(seqs)):
        r = got[f"s{i:02d}"]
        if want_scores[i] is None:
            assert r["std_score"] is None, i
        else:
            assert r["std_score"] == pytest.approx(want_scores[i]), i
        assert r["converged"] == want_flags[i], i
        assert r["first_convergence_t"] == want_years[i], i


def test_convergence_top_proportion_and_quantile(spark):
    rng = random.Random(9)
    T = 4
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(16)]
    want_scores, _, _ = _ref_convergence(seqs, 1.5, 1, 1)
    finite = sorted(s for s in want_scores if s is not None)
    n_valid = len(finite)

    # top_proportion p=0.25: k = floor(0.25*n_valid) (>= min_count 1)
    k = max(1, int(np.floor(0.25 * n_valid)))
    got = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs), method="top_proportion", proportion=0.25
        ).collect()
    }
    sel = [sid for sid, r in got.items() if r["converged"] == 1]
    assert len(sel) == k
    # the selected ones are exactly those with the k smallest scores
    thresh = finite[k - 1]
    for i, s in enumerate(want_scores):
        sid = f"s{i:02d}"
        if s is not None and s < thresh:
            assert got[sid]["converged"] == 1, sid
        if s is None or s > thresh:
            assert got[sid]["converged"] == 0, sid

    # quantile q=0.3: selected iff score <= linear-interp quantile
    xq = float(np.nanquantile(np.array(want_scores, dtype=float), 0.3))
    gotq = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs), method="quantile", quantile_p=0.3
        ).collect()
    }
    for i, s in enumerate(want_scores):
        want = 1 if (s is not None and s <= xq) else 0
        assert gotq[f"s{i:02d}"]["converged"] == want, i


def test_prefix_divergence_selection_methods(spark):
    """prefix_divergence with method=top_proportion/quantile: direction
    'high' — the LARGEST aggregated scores are flagged."""
    from sequenzo_spark.operators.prefix_tree import prefix_divergence

    rng = random.Random(13)
    T = 4
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(16)]
    base = {
        r["seq_id"]: r
        for r in prefix_divergence(
            _df(spark, seqs), min_t=2, window=1
        ).collect()
    }
    scores = {
        sid: r["std_score"] for sid, r in base.items()
    }
    finite = sorted(
        (s for s in scores.values() if s is not None), reverse=True
    )
    k = max(1, int(np.floor(0.25 * len(finite))))
    got = {
        r["seq_id"]: r
        for r in prefix_divergence(
            _df(spark, seqs),
            min_t=2,
            window=1,
            method="top_proportion",
            proportion=0.25,
        ).collect()
    }
    sel = [sid for sid, r in got.items() if r["diverged"] == 1]
    assert len(sel) == k
    thresh = finite[k - 1]
    for sid, s in scores.items():
        if s is not None and s > thresh:
            assert got[sid]["diverged"] == 1, sid
        if s is None or s < thresh:
            assert got[sid]["diverged"] == 0, sid
    # quantile: flagged iff score >= q0.75 threshold
    xq = float(
        np.nanquantile(
            np.array(
                [scores[f"s{i:02d}"] for i in range(len(seqs))], dtype=float
            ),
            0.75,
        )
    )
    gotq = {
        r["seq_id"]: r
        for r in prefix_divergence(
            _df(spark, seqs), min_t=2, window=1, method="quantile",
            quantile_p=0.75,
        ).collect()
    }
    for sid, s in scores.items():
        want = 1 if (s is not None and s >= xq) else 0
        assert gotq[sid]["diverged"] == want, sid


def test_convergence_grouped_zscore(spark):
    """group_col: frequencies, N, and z moments within each group — must
    equal running the ungrouped operator on each group separately."""
    rng = random.Random(17)
    T = 4
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(20)]
    groups = ["g0" if i < 12 else "g1" for i in range(len(seqs))]
    whole = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs, groups), z_threshold=0.8, min_t=1, window=1,
            group_col="grp",
        ).collect()
    }
    for gname, lo, hi in [("g0", 0, 12), ("g1", 12, 20)]:
        sub = seqs[lo:hi]
        alone = {
            r["seq_id"]: r
            for r in suffix_convergence(
                _df(spark, sub), z_threshold=0.8, min_t=1, window=1
            ).collect()
        }
        for j in range(len(sub)):
            got = whole[f"s{lo + j:02d}"]
            want = alone[f"s{j:02d}"]
            assert got["grp"] == gname
            assert got["converged"] == want["converged"]
            assert got["first_convergence_t"] == want["first_convergence_t"]
            if want["std_score"] is None:
                assert got["std_score"] is None
            else:
                assert got["std_score"] == pytest.approx(want["std_score"])


def test_convergence_grouped_top_proportion(spark):
    """Per-group top_proportion: k computed within each group."""
    rng = random.Random(23)
    T = 4
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(20)]
    groups = ["g0" if i % 2 == 0 else "g1" for i in range(len(seqs))]
    got = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs, groups), method="top_proportion",
            proportion=0.3, group_col="grp",
        ).collect()
    }
    for g in ("g0", "g1"):
        members = [r for r in got.values() if r["grp"] == g]
        n_valid = sum(1 for r in members if r["std_score"] is not None)
        k = max(1, int(np.floor(0.3 * n_valid)))
        assert sum(r["converged"] for r in members) == min(k, n_valid), g


def test_spell_mode_convergence_composition(spark):
    """SpellIndividualConvergence = suffix_convergence over the spell
    table (level k = last k spells): must equal running the position
    operator on the DSS (distinct successive states) sequences."""
    from sequenzo_spark.operators.spells import spell_table

    seqs = [
        ["A", "A", "B"],          # DSS [A, B]
        ["A", "B", "B"],          # DSS [A, B]
        ["B", "B", "A"],          # DSS [B, A]
        ["A", "B", "A"],          # DSS [A, B, A]
        ["B", "A", "A"],          # DSS [B, A]
        ["A", "A", "A"],          # DSS [A]
    ]
    df = _df(spark, seqs)
    via_spells = {
        r["seq_id"]: r
        for r in suffix_convergence(
            spell_table(df), z_threshold=0.5, min_t=1, window=1,
            order_col="spell_id",
        ).collect()
    }
    dss = [[s for i, s in enumerate(seq) if i == 0 or s != seq[i - 1]]
           for seq in seqs]
    direct = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, dss), z_threshold=0.5, min_t=1, window=1
        ).collect()
    }
    for sid in via_spells:
        a, b = via_spells[sid], direct[sid]
        assert (a["converged"], a["first_convergence_t"]) == (
            b["converged"], b["first_convergence_t"]
        ), sid
        if b["std_score"] is None:
            assert a["std_score"] is None, sid
        else:
            assert a["std_score"] == pytest.approx(b["std_score"]), sid


def test_max_t_caps_search_interval(spark):
    """max_t bounds the window start years (reference default None =
    T−window+1): with max_t=1 only year 1 can qualify."""
    rng = random.Random(41)
    T = 4
    seqs = [[rng.choice("AB") for _ in range(T)] for _ in range(12)]
    full = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs), z_threshold=0.5, min_t=1, window=1
        ).collect()
    }
    capped = {
        r["seq_id"]: r
        for r in suffix_convergence(
            _df(spark, seqs), z_threshold=0.5, min_t=1, max_t=1, window=1
        ).collect()
    }
    for sid, r in capped.items():
        assert r["first_convergence_t"] in (0, 1), sid
        if r["first_convergence_t"] == 1:
            assert full[sid]["first_convergence_t"] == 1, sid
    # capping can only remove convergence, never add it
    assert sum(r["converged"] for r in capped.values()) <= sum(
        r["converged"] for r in full.values()
    )


def test_rarity_per_level_long_format(spark):
    from sequenzo_spark.operators.suffix_tree import suffix_rarity_per_level

    seqs = [["A", "B"], ["A", "B"], ["C", "B"]]
    freq = _ref_suffix_freq(seqs)
    N = len(seqs)
    got = {
        (r["seq_id"], r["k"]): r["rarity"]
        for r in suffix_rarity_per_level(_df(spark, seqs)).collect()
    }
    for i, seq in enumerate(seqs):
        for k in range(1, len(seq) + 1):
            want = -math.log(freq[k][tuple(seq[-k:])] / N + 1e-10)
            assert got[(f"s{i:02d}", k)] == pytest.approx(want), (i, k)
    # zscore variant: level k=1 (all end in B, zero variance) → null
    gz = {
        (r["seq_id"], r["k"]): r["rarity"]
        for r in suffix_rarity_per_level(_df(spark, seqs), zscore=True).collect()
    }
    assert gz[("s00", 1)] is None
    assert gz[("s00", 2)] is not None


@pytest.mark.parametrize("group", [False, True])
def test_suffix_indicators_mirror_prefix_on_reversed_sequences(spark, group):
    """Suffixes of S are the prefixes of reverse(S): the from-end and
    from-start directions of the shared level core must agree bit for
    bit, with and without ``group_col``."""
    from pyspark.sql import functions as F

    from sequenzo_spark.operators.prefix_tree import (
        prefix_rarity,
        prefix_tree_stats,
    )

    rng = random.Random(29)
    seqs = [
        [rng.choice("ABC") for _ in range(rng.randint(1, 7))] for _ in range(40)
    ]
    groups = [rng.choice(["g0", "g1"]) for _ in seqs] if group else None
    df = _df(spark, seqs, groups)
    rev = df.withColumn("pos", -F.col("pos"))
    gkw = {"group_col": "grp"} if group else {}

    def by_seq(out):
        return {
            r["seq_id"]: (
                r["rarity_score"].hex(),
                r["path_uniqueness"],
                r["grp"] if group else None,
            )
            for r in out.collect()
        }

    got = by_seq(suffix_rarity(df, **gkw))
    assert len(got) == len(seqs)
    assert got == by_seq(prefix_rarity(rev, **gkw))

    sfx = sorted(tuple(r) for r in spell_suffix_stats(df).collect())
    pfx = sorted(tuple(r) for r in prefix_tree_stats(rev).collect())
    assert [(k, n, mf.hex()) for k, n, mf in sfx] == [
        (t, n, bf.hex()) for t, n, bf in pfx
    ]
