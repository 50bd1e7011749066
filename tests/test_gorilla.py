"""Gorilla codec: encode∘decode must be the identity, bit-exactly."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from sequenzo_spark.compression.gorilla import (
    decode_timestamps,
    decode_values,
    encode_timestamps,
    encode_values,
)


def _roundtrip_ts(ts):
    ts = np.asarray(ts, dtype=np.int64)
    blob, bits, n = encode_timestamps(ts)
    out = decode_timestamps(blob, bits, n)
    np.testing.assert_array_equal(out, ts)
    return blob


def _roundtrip_vals(vals):
    vals = np.asarray(vals, dtype=np.float64)
    blob, bits, n = encode_values(vals)
    out = decode_values(blob, bits, n)
    # bit-exact: compare uint64 bit patterns (handles NaN / -0.0)
    np.testing.assert_array_equal(out.view(np.uint64), vals.view(np.uint64))
    return blob


def test_ts_regular_interval_compresses_well():
    ts = np.arange(0, 600_000_000, 60_000_000, dtype=np.int64)  # 10 pts @1m
    blob = _roundtrip_ts(ts)
    # after 2 headers, every dod is 0 → 1 bit each
    assert len(blob) <= 2 * 8 + 2


def test_ts_irregular_and_negative_dods():
    _roundtrip_ts([0, 61, 100, 100, 99, 10_000_000_000_000, 10_000_000_000_001])


def test_ts_single_and_pair():
    _roundtrip_ts([1234567])
    _roundtrip_ts([5, 9])
    blob, bits, n = encode_timestamps(np.array([], dtype=np.int64))
    assert n == 0 and decode_timestamps(blob, bits, 0).size == 0


def test_vals_constant_compresses_to_bits():
    vals = np.full(100, 3.14159)
    blob = _roundtrip_vals(vals)
    # 64-bit header + 2-bit SoA control per point (no heads, no payloads)
    assert len(blob) <= 8 + (2 * 99 + 7) // 8


def test_vals_special_floats():
    _roundtrip_vals([0.0, -0.0, np.inf, -np.inf, np.nan, 1e-300, 1e300, 3.7])


def test_vals_counter_like():
    _roundtrip_vals(np.cumsum(np.ones(50)) * 10.5)


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**52), max_value=2**52), min_size=0, max_size=60
    )
)
def test_ts_roundtrip_property(xs):
    _roundtrip_ts(np.sort(np.asarray(xs, dtype=np.int64)))


@settings(max_examples=200, deadline=None)
@given(
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0,
        max_size=60,
    )
)
def test_vals_roundtrip_property(xs):
    _roundtrip_vals(np.asarray(xs, dtype=np.float64))


def test_compression_ratio_on_rollup_like_series():
    # minute buckets + slowly varying counts: the engine's actual shape
    rng = np.random.default_rng(42)
    ts = np.int64(1_700_000_000_000_000) + np.arange(1440) * 60_000_000
    vals = np.round(50 + np.cumsum(rng.normal(0, 1, 1440))).astype(np.float64)
    tb, tbits, n = encode_timestamps(ts)
    vb, vbits, _ = encode_values(vals)
    raw = 1440 * 16
    enc = len(tb) + len(vb)
    assert enc < raw / 4, f"poor compression: {enc}/{raw}"
    np.testing.assert_array_equal(decode_timestamps(tb, tbits, n), ts)
    np.testing.assert_array_equal(
        decode_values(vb, vbits, n).view(np.uint64), vals.view(np.uint64)
    )


def test_large_roundtrip_rollup_and_random():
    """Scale guard for the vectorized codec: 5k-point rollup-like and
    adversarial random streams round-trip bit-exactly (the window-reset
    walk, multi-word packing, and payload gather all cross word
    boundaries many times at this size)."""
    rng = np.random.default_rng(123)
    n = 5000
    ts = (
        np.int64(1_700_000_000_000_000)
        + np.arange(n) * 60_000_000
        + rng.integers(-5, 5, n)
    )
    _roundtrip_ts(np.sort(ts))
    vals = np.round(50 + np.cumsum(rng.normal(0, 1, n))).astype(np.float64)
    _roundtrip_vals(vals)
    _roundtrip_vals(rng.random(n) * np.exp(rng.normal(0, 200, n)))
    # long constant runs interleaved with jumps (control-stream stress)
    stepped = np.repeat(rng.random(50), 100)
    _roundtrip_vals(stepped)


def _assert_rejects_resized(decode, blob, bits, n):
    """Every strict truncation and a one-byte extension must raise, both
    with the stale ``total_bits`` and with one that matches the resized
    blob (so the layout-size check is exercised on its own)."""
    for cut in range(len(blob)):
        for tb in (bits, 8 * cut):
            with pytest.raises(ValueError):
                decode(blob[:cut], tb, n)
    for tb in (bits, bits + 8):
        with pytest.raises(ValueError):
            decode(blob + b"\x00", tb, n)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**52), max_value=2**52), min_size=0, max_size=40
    ),
    st.lists(
        st.floats(allow_nan=True, allow_infinity=True, width=64),
        min_size=0,
        max_size=40,
    ),
)
def test_resized_blobs_are_rejected(ts, vals):
    ts = np.sort(np.asarray(ts, dtype=np.int64))
    blob, bits, n = encode_timestamps(ts)
    np.testing.assert_array_equal(decode_timestamps(blob, bits, n), ts)
    _assert_rejects_resized(decode_timestamps, blob, bits, n)
    vals = np.asarray(vals, dtype=np.float64)
    blob, bits, n = encode_values(vals)
    np.testing.assert_array_equal(
        decode_values(blob, bits, n).view(np.uint64), vals.view(np.uint64)
    )
    _assert_rejects_resized(decode_values, blob, bits, n)


def test_value_control_code_3_is_rejected():
    # value control codes are 0/1/2; a flipped byte giving 3 would read
    # the previous window's payload width and decode garbage
    blob, bits, n = encode_values(np.array([1.0, 2.0]))
    bad = blob[:8] + bytes([blob[8] | 0xC0]) + blob[9:]
    with pytest.raises(ValueError, match="control code"):
        decode_values(bad, bits, n)
