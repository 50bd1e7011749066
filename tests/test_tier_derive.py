"""Tier read side: ``derive_distribution``, ``derive_transition_rates`` and
``derive_spell_stats`` over the cascade's WRITTEN 1m/1h/1d tiers equal the
same quantities computed in plain Python from the raw turns, bit for bit.

The Python oracle repeats each derivation's IEEE operation sequence (state-
ordered left folds, the same divisions). ``log``/``exp`` go through the
JVM's ``StrictMath`` — the functions Spark's ``log``/``exp`` evaluate — so
the comparison does not depend on the C library's last-ulp rounding."""

import math
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from sequenzo_spark.rollup import (
    derive_distribution,
    derive_spell_stats,
    derive_transition_rates,
    run_cascade,
)
from sequenzo_spark.schema import ROLE_ALPHABET
from sequenzo_spark.synth import generate_transcripts

TIER_SECONDS = {"1m": 60, "1h": 3600, "1d": 86400}


@pytest.fixture(scope="module")
def tiers(spark, tmp_path_factory):
    """(cascade out_root, raw conversations as [(state, epoch_s)] lists in
    turn order). Starts 23:30 so conversations cross midnight."""
    raw = generate_transcripts(
        spark, n_convs=40, seed=11, giant_conv_turns=300,
        base_ts="2024-01-01 23:30:00",
    )
    out = str(tmp_path_factory.mktemp("tiers") / "cascade")
    run_cascade(
        spark, raw, out, states=ROLE_ALPHABET, salt_buckets=4, job_id="derive"
    )
    convs = defaultdict(list)
    for r in raw.select(
        "conv_id", "turn_idx", "role", F.unix_timestamp("ts").alias("s")
    ).collect():
        convs[r.conv_id].append((r.turn_idx, r.role, r.s))
    return out, [[(st, s) for _, st, s in sorted(v)] for v in convs.values()]


def _read(spark, out, tier, table):
    return spark.read.parquet(f"{out}/rollup_{tier}/{table}")


def _bits(row):
    """Row values with floats as hex: -0.0 != 0.0 and NaN == NaN."""
    return tuple(v.hex() if isinstance(v, float) else v for v in row)


def _bucket(s, tier):
    return s - s % TIER_SECONDS[tier]


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_derive_distribution_matches_raw(spark, tiers, tier):
    out, convs = tiers
    jm = spark.sparkContext._jvm.java.lang.StrictMath
    counts = defaultdict(lambda: defaultdict(int))
    for conv in convs:
        for st, s in conv:
            counts[_bucket(s, tier)][st] += 1
    want = {}
    for b, per_state in counts.items():
        states = sorted(per_state)
        n_valid = 0.0
        for st in states:
            n_valid = n_valid + float(per_state[st])
        acc = 0.0
        for st in states:
            p = float(per_state[st]) / n_valid
            acc = acc + p * jm.log(p)
        entropy = -acc + 0.0
        modal, modal_w = None, -1.0
        for st in states:
            if float(per_state[st]) > modal_w:
                modal, modal_w = st, float(per_state[st])
        want[b] = _bits((
            n_valid, entropy, jm.exp(entropy), modal, modal_w,
            entropy / math.log(len(ROLE_ALPHABET)),
        ))
    got = derive_distribution(
        _read(spark, out, tier, "state_counts"), n_states=len(ROLE_ALPHABET)
    ).select(
        F.col("time_bucket").cast("long"), "n_valid", "entropy",
        "effective_states", "modal_state", "modal_count", "entropy_norm",
    )
    got = {r[0]: _bits(r[1:]) for r in got.collect()}
    assert len(got) > 1
    assert got == want


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_derive_transition_rates_matches_raw(spark, tiers, tier):
    out, convs = tiers
    counts = defaultdict(int)
    for conv in convs:
        for (a, s), (b, _) in zip(conv, conv[1:]):
            counts[(_bucket(s, tier), a, b)] += 1
    from_tot = defaultdict(float)
    for (bk, a, _), n in counts.items():
        from_tot[(bk, a)] += float(n)
    want = {
        k: _bits((n, float(n), float(n) / from_tot[k[:2]]))
        for k, n in counts.items()
    }
    got = derive_transition_rates(_read(spark, out, tier, "transitions")).select(
        F.col("time_bucket").cast("long"), "from_state", "to_state",
        "t_count", "w_count", "transition_rate",
    )
    got = {tuple(r[:3]): _bits(r[3:]) for r in got.collect()}
    assert len(got) > 1
    assert got == want


@pytest.mark.parametrize("tier", ["1m", "1h", "1d"])
def test_derive_spell_stats_matches_raw(spark, tiers, tier):
    out, convs = tiers
    durs = defaultdict(list)
    for conv in convs:
        i = 0
        while i < len(conv):
            j = i
            while j + 1 < len(conv) and conv[j + 1][0] == conv[i][0]:
                j += 1
            durs[(_bucket(conv[i][1], tier), conv[i][0])].append(j - i + 1)
            i = j + 1
    want = {}
    for k, ds in durs.items():
        n = float(len(ds))
        mean = float(sum(ds)) / n
        var = float(sum(d * d for d in ds)) / n - mean * mean
        want[k] = _bits(
            (len(ds), min(ds), max(ds), mean, max(var, 0.0) + 0.0)
        )
    got = derive_spell_stats(_read(spark, out, tier, "spells")).select(
        F.col("time_bucket").cast("long"), "state",
        "n_spells", "dur_min", "dur_max", "dur_mean", "dur_var",
    )
    got = {tuple(r[:2]): _bits(r[2:]) for r in got.collect()}
    assert len(got) > 1
    assert got == want
