"""Gorilla compression — delta-of-delta timestamps + XOR float64 values.

Codes follow the Facebook Gorilla paper (Pelkonen et al., VLDB 2015,
"Gorilla: A Fast, Scalable, In-Memory Time Series Database", §4.1), public
knowledge; no reference-repo analog exists (SURVEY.md §2.11).

Layout deviation (documented): the paper interleaves control bits and
payloads in one append-only stream — the right shape for a live in-memory
TSDB, but it forces a token-at-a-time decode (each codeword's position
depends on every previous codeword's length). This engine writes immutable
chunk blobs from batch jobs, so it stores the SAME codes in a
struct-of-streams layout: [header][fixed-width control stream][fixed-width
window heads][payload bits]. Every stream is independently vectorizable —
encode AND decode are NumPy array programs (cumulative bit offsets + a
two-word gather; values reconstruct via one bitwise-XOR prefix scan), with
no per-point Python. Cost vs the interleaved layout is ≤1 bit/point
(2-bit control for runs of '0' codes).

Timestamp blob (int64 microseconds), n points:
  n == 0 → empty;  n == 1 → [t0: 8B]
  n ≥ 2  → [t0: 8B][d0 = t1−t0: 8B]
           [ctrl: 2 bits × (n−2), byte-padded]
           [payloads, byte-padded]
  per point dod = d_i − d_{i−1}; ctrl class → payload width:
    0: dod == 0            → 0 bits
    1: dod ∈ [−63, 64]     → 7  bits (dod+63)
    2: dod ∈ [−2047, 2048] → 12 bits (dod+2047)
    3: else                → 64 bits two's complement
  (the paper's ±255 class is folded into the 12-bit class — 3 extra bits
  for those points; the 64-bit else branch — vs the paper's 32 — is kept
  because microsecond transcripts can jump days.)

Value blob (float64 bit patterns), n points:
  n == 0 → empty
  n ≥ 1  → [u0: 8B][ctrl: 2 bits × (n−1)][heads: 11 bits × n_new]
           [payloads]
  per point x = u_i XOR u_{i−1}; ctrl:
    0: x == 0                            → no payload
    1: x fits previous (lead,sig) window → sig_w payload bits
    2: new window                        → 11-bit head: 5b leading(≤31) +
                                           6b (sig−1); sig payload bits

Both directions are bit-exact inverses — the rollup tiers' bit-exactness
criterion is tested through an encode∘decode identity on the real tier
output plus hypothesis property tests.
"""

from __future__ import annotations

import numpy as np

_MASK64 = (1 << 64) - 1
_U64_MAX = np.uint64(0xFFFFFFFFFFFFFFFF)
_POW2 = np.uint64(1) << np.arange(64, dtype=np.uint64)


# ----------------------------------------------------------- bit packing

def _pack_bits(codes: np.ndarray, nbits: np.ndarray) -> bytes:
    """Pack (code, nbits) pairs MSB-first into a byte string. Vectorized:
    every code lands in at most two 64-bit words via scatter-OR."""
    codes = codes.astype(np.uint64, copy=True)
    nbits = np.asarray(nbits, dtype=np.int64)
    if len(codes) == 0:
        return b""
    # mask codes to their width (width 64 keeps all bits)
    lt64 = nbits < 64
    masks = np.full(len(codes), _U64_MAX, dtype=np.uint64)
    masks[lt64] = (np.uint64(1) << nbits[lt64].astype(np.uint64)) - np.uint64(1)
    codes &= masks

    total = int(nbits.sum())
    nwords = total // 64 + 2
    words = np.zeros(nwords, dtype=np.uint64)
    offs = np.cumsum(nbits) - nbits
    widx = offs >> 6
    end = (offs & 63) + nbits
    fits = end <= 64
    shift1 = np.where(fits, 64 - end, end - 64).astype(np.uint64)
    part1 = np.where(fits, codes << shift1, codes >> shift1)
    np.bitwise_or.at(words, widx, part1)
    spill = ~fits
    if spill.any():
        sh2 = (128 - end[spill]).astype(np.uint64)
        np.bitwise_or.at(words, widx[spill] + 1, codes[spill] << sh2)
    nbytes = (total + 7) // 8
    return words.byteswap().tobytes()[:nbytes]


def _read_fields(buf: bytes, offs: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Vectorized variable-width MSB-first field gather: field k starts at
    bit ``offs[k]`` and spans ``widths[k]`` ≤ 64 bits. Each field straddles
    at most two 64-bit words — one gather + shift/or per side."""
    k = len(offs)
    if k == 0:
        return np.empty(0, dtype=np.uint64)
    pad = buf + b"\x00" * 16
    nw = len(pad) // 8
    words = np.frombuffer(pad[: nw * 8], dtype=">u8").astype(np.uint64)
    offs = np.asarray(offs, dtype=np.int64)
    w = np.asarray(widths, dtype=np.int64)
    widx = offs >> 6
    rem = (offs & 63).astype(np.uint64)
    w1 = words[widx]
    w2 = words[widx + 1]
    # second-word shift: only meaningful when rem > 0 (np.where discards
    # the rem == 0 lane, whose clipped shift value is arbitrary)
    sh2 = np.uint64(64) - np.maximum(rem, np.uint64(1))
    left = np.where(rem > 0, (w1 << rem) | (w2 >> sh2), w1)
    vals = left >> np.clip(64 - w, 0, 63).astype(np.uint64)
    mask = np.where(
        w >= 64,
        _U64_MAX,
        (np.uint64(1) << np.clip(w, 0, 63).astype(np.uint64)) - np.uint64(1),
    )
    return vals & mask


def _pack_ctrl2(ctrl: np.ndarray) -> bytes:
    """Pack 2-bit control codes MSB-first (4 per byte)."""
    n = len(ctrl)
    if n == 0:
        return b""
    pad = (-n) % 4
    c = np.concatenate([ctrl.astype(np.uint8), np.zeros(pad, dtype=np.uint8)])
    c = c.reshape(-1, 4)
    return (
        (c[:, 0] << 6) | (c[:, 1] << 4) | (c[:, 2] << 2) | c[:, 3]
    ).astype(np.uint8).tobytes()


def _unpack_ctrl2(buf: bytes, n: int) -> np.ndarray:
    if n == 0:
        return np.empty(0, dtype=np.uint8)
    bits = np.unpackbits(np.frombuffer(buf, dtype=np.uint8), count=2 * n)
    return (bits[0::2] << 1) | bits[1::2]


def _bit_length_u64(x: np.ndarray) -> np.ndarray:
    """Vectorized exact bit_length for uint64 (searchsorted over powers of
    two — no float round-off)."""
    return np.searchsorted(_POW2, x, side="right").astype(np.int64)


def _check_size(
    blob: bytes, total_bits: int, n: int, size: int, complete: bool = True
) -> None:
    """Reject a blob that is not ``size`` bytes (at least ``size`` while
    the layout is still being read) or whose ``total_bits`` disagrees
    with its length: a truncated or extended blob would otherwise decode
    to garbage (short reads are zero-padded)."""
    if n < 0 or total_bits != 8 * len(blob):
        raise ValueError(
            f"gorilla blob: n={n}, total_bits={total_bits}, {len(blob)} bytes"
        )
    if len(blob) < size or (complete and len(blob) != size):
        raise ValueError(
            f"gorilla blob: {len(blob)} bytes, layout for n={n} needs {size}"
        )


def _signed(u: int, bits: int = 64) -> int:
    return u - (1 << bits) if u >= (1 << (bits - 1)) else u


# ------------------------------------------------------------ timestamps

_TS_WIDTHS = np.array([0, 7, 12, 64], dtype=np.int64)


def encode_timestamps(ts: np.ndarray) -> tuple[bytes, int, int]:
    """Encode int64 (microsecond) timestamps. Returns (blob, total_bits, n)."""
    ts = np.asarray(ts, dtype=np.int64)
    n = len(ts)
    if n == 0:
        return b"", 0, 0
    head = int(ts[0]) & _MASK64
    if n == 1:
        return head.to_bytes(8, "big"), 64, 1
    deltas = np.diff(ts)
    header = head.to_bytes(8, "big") + (int(deltas[0]) & _MASK64).to_bytes(
        8, "big"
    )
    if n == 2:
        return header, 128, 2
    dods = np.diff(deltas)  # n-2 entries
    c0 = dods == 0
    c1 = ~c0 & (dods >= -63) & (dods <= 64)
    c2 = ~c0 & ~c1 & (dods >= -2047) & (dods <= 2048)
    c3 = ~c0 & ~c1 & ~c2
    ctrl = np.zeros(n - 2, dtype=np.uint8)
    ctrl[c1] = 1
    ctrl[c2] = 2
    ctrl[c3] = 3
    pay = np.zeros(n - 2, dtype=np.uint64)
    pay[c1] = (dods[c1] + 63).astype(np.uint64)
    pay[c2] = (dods[c2] + 2047).astype(np.uint64)
    pay[c3] = dods[c3].view(np.uint64)  # two's complement reinterpret
    blob = header + _pack_ctrl2(ctrl) + _pack_bits(pay, _TS_WIDTHS[ctrl])
    return blob, len(blob) * 8, n


def decode_timestamps(blob: bytes, total_bits: int, n: int) -> np.ndarray:
    """Inverse of encode_timestamps. Raises ValueError unless the blob is
    exactly the layout size that ``n`` and its control stream imply."""
    _check_size(blob, total_bits, n, min(n, 2) * 8, complete=n <= 2)
    if n == 0:
        return np.empty(0, dtype=np.int64)
    t0 = _signed(int.from_bytes(blob[:8], "big"))
    if n == 1:
        return np.array([t0], dtype=np.int64)
    d0 = _signed(int.from_bytes(blob[8:16], "big"))
    if n == 2:
        return np.array([t0, t0 + d0], dtype=np.int64)
    cb = (2 * (n - 2) + 7) // 8
    _check_size(blob, total_bits, n, 16 + cb, complete=False)
    ctrl = _unpack_ctrl2(blob[16 : 16 + cb], n - 2)
    w = _TS_WIDTHS[ctrl]
    _check_size(blob, total_bits, n, 16 + cb + (int(w.sum()) + 7) // 8)
    offs = np.cumsum(w) - w
    pay = _read_fields(blob[16 + cb :], offs, w)
    dod = np.zeros(n - 2, dtype=np.int64)
    m1 = ctrl == 1
    m2 = ctrl == 2
    m3 = ctrl == 3
    dod[m1] = pay[m1].astype(np.int64) - 63
    dod[m2] = pay[m2].astype(np.int64) - 2047
    dod[m3] = pay[m3].view(np.int64)
    deltas = np.concatenate(
        [np.array([d0], dtype=np.int64), d0 + np.cumsum(dod)]
    )
    out = np.empty(n, dtype=np.int64)
    out[0] = t0
    out[1:] = t0 + np.cumsum(deltas)
    return out


# ---------------------------------------------------------------- values

def _value_windows(lzn: np.ndarray, tzn: np.ndarray) -> np.ndarray:
    """Window-reset positions for the nonzero-XOR subsequence.

    A point reuses the live window (L, T) iff lz ≥ L and tz ≥ T; the next
    reset after j is therefore the first k > j with lzn[k] < L or
    tzn[k] < T. Those "next index with value below v" tables are built
    vectorized (one reverse running-min per distinct threshold, ≤ 32 lz +
    64 tz rows, cached), so the chain walk itself is O(#resets) trivial
    steps — the only scalar loop in the codec, and it touches resets, not
    points."""
    m = len(lzn)
    ar = np.arange(m, dtype=np.int64)
    cache: dict[tuple[str, int], np.ndarray] = {}

    def next_below(tag: str, arr: np.ndarray, v: int) -> np.ndarray:
        r = cache.get((tag, v))
        if r is None:
            w = np.where(arr < v, ar, m)
            r = np.minimum.accumulate(w[::-1])[::-1]
            cache[(tag, v)] = r
        return r

    resets = []
    j = 0
    while j < m:
        resets.append(j)
        if j + 1 >= m:
            break
        nl = next_below("lz", lzn, int(lzn[j]))
        nt = next_below("tz", tzn, int(tzn[j]))
        j = min(int(nl[j + 1]), int(nt[j + 1]))
    return np.asarray(resets, dtype=np.int64)


def encode_values(vals: np.ndarray) -> tuple[bytes, int, int]:
    """Encode float64 values (XOR scheme). Returns (blob, total_bits, n)."""
    vals = np.ascontiguousarray(vals, dtype=np.float64)
    n = len(vals)
    if n == 0:
        return b"", 0, 0
    u = vals.view(np.uint64)
    header = int(u[0]).to_bytes(8, "big")
    if n == 1:
        return header, 64, 1
    x = u[1:] ^ u[:-1]
    ctrl = np.zeros(n - 1, dtype=np.uint8)
    idx = np.nonzero(x)[0]
    m = len(idx)
    if m == 0:
        blob = header + _pack_ctrl2(ctrl)
        return blob, len(blob) * 8, n
    xnz = x[idx]
    lzn = np.minimum(64 - _bit_length_u64(xnz), 31)
    tzn = _bit_length_u64(xnz & (~xnz + np.uint64(1))) - 1
    sgn = 64 - lzn - tzn  # significant bits

    resets = _value_windows(lzn, tzn)
    is_new = np.zeros(m, dtype=bool)
    is_new[resets] = True
    ctrl[idx] = np.where(is_new, np.uint8(2), np.uint8(1))

    # window parameters broadcast to every nonzero point
    wi = np.searchsorted(resets, np.arange(m), side="right") - 1
    L_w = lzn[resets][wi]
    S_w = sgn[resets][wi]
    T_w = tzn[resets][wi]

    heads = ((lzn[resets] << 6) | (sgn[resets] - 1)).astype(np.uint64)
    pay = np.where(is_new, xnz >> tzn.astype(np.uint64), xnz >> T_w.astype(np.uint64))
    pw = np.where(is_new, sgn, S_w)

    blob = (
        header
        + _pack_ctrl2(ctrl)
        + _pack_bits(heads, np.full(len(resets), 11, dtype=np.int64))
        + _pack_bits(pay, pw)
    )
    return blob, len(blob) * 8, n


def decode_values(blob: bytes, total_bits: int, n: int) -> np.ndarray:
    """Inverse of encode_values. Raises ValueError unless the blob is
    exactly the layout size that ``n``, its control stream and its window
    heads imply."""
    _check_size(blob, total_bits, n, min(n, 1) * 8, complete=n <= 1)
    if n == 0:
        return np.empty(0, dtype=np.float64)
    u0 = np.uint64(int.from_bytes(blob[:8], "big"))
    if n == 1:
        return np.array([u0], dtype=np.uint64).view(np.float64)
    cb = (2 * (n - 1) + 7) // 8
    _check_size(blob, total_bits, n, 8 + cb, complete=False)
    ctrl = _unpack_ctrl2(blob[8 : 8 + cb], n - 1)
    if (ctrl == 3).any():
        raise ValueError("gorilla value blob: invalid control code 3")
    new = ctrl == 2
    n_new = int(new.sum())
    x = np.zeros(n - 1, dtype=np.uint64)
    if not n_new:
        _check_size(blob, total_bits, n, 8 + cb)
    else:
        hb = (11 * n_new + 7) // 8
        _check_size(blob, total_bits, n, 8 + cb + hb, complete=False)
        heads = _read_fields(
            blob[8 + cb : 8 + cb + hb],
            np.arange(n_new, dtype=np.int64) * 11,
            np.full(n_new, 11, dtype=np.int64),
        )
        L = (heads >> np.uint64(6)).astype(np.int64)
        S = (heads & np.uint64(63)).astype(np.int64) + 1
        widx = np.clip(np.cumsum(new) - 1, 0, None)
        Lp = L[widx]
        Sp = S[widx]
        w = np.where(ctrl == 0, 0, Sp)
        _check_size(blob, total_bits, n, 8 + cb + hb + (int(w.sum()) + 7) // 8)
        offs = np.cumsum(w) - w
        pay = _read_fields(blob[8 + cb + hb :], offs, w)
        nz = ctrl != 0
        x[nz] = pay[nz] << (64 - Lp[nz] - Sp[nz]).astype(np.uint64)
    out = np.empty(n, dtype=np.uint64)
    out[0] = u0
    out[1:] = x
    np.bitwise_xor.accumulate(out, out=out)
    return out.view(np.float64)


# ----------------------------------------------------- Spark integration

CHUNK_SCHEMA_SUFFIX = (
    "n_points long, ts_blob binary, ts_bits long, "
    "val_blob binary, val_bits long, raw_bytes long, enc_bytes long"
)


def gorilla_compress_chunks(
    df,
    key_cols: list[str],
    ts_col: str,
    value_col: str,
):
    """One Gorilla chunk row per key group.

    Round-6 shape: repartition by key + sortWithinPartitions(key, ts) +
    ``mapInPandas`` over the partition's Arrow batch stream, slicing the
    contiguous key groups with a carry buffer across batch boundaries.
    The previous ``groupBy().applyInPandas`` framed EVERY key group as its
    own Arrow exchange — per-group serialization overhead × thousands of
    small chunk groups dominated the cascade's gorilla stage (guide §4.1:
    pay the Python boundary per batch, not per row/group). Blobs are
    bit-identical: each group's points arrive in the same ascending-ts
    order (ts is unique within a chunk key — tier time buckets), and the
    same encode kernels run per group. Per-task memory is bounded by one
    Arrow batch plus the largest single group.

    Returns DataFrame(key_cols…, n_points, ts_blob, ts_bits, val_blob,
    val_bits, raw_bytes, enc_bytes)."""
    import pandas as pd
    from pyspark.sql import functions as F

    from sequenzo_spark import ensure_workers_can_import

    ensure_workers_can_import(df.sparkSession)
    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in df.schema
        if f.name in key_cols
    )
    schema = f"{key_fields}, {CHUNK_SCHEMA_SUFFIX}"
    kc = list(key_cols)

    def _encode_group(pdf: pd.DataFrame) -> dict:
        ts = pdf[ts_col].astype("datetime64[us]").astype("int64").to_numpy()
        vals = pdf[value_col].astype("float64").to_numpy()
        ts_blob, ts_bits, nn = encode_timestamps(ts)
        val_blob, val_bits, _ = encode_values(vals)
        row = {k: pdf[k].iloc[0] for k in kc}
        row.update(
            n_points=nn,
            ts_blob=ts_blob,
            ts_bits=ts_bits,
            val_blob=val_blob,
            val_bits=val_bits,
            raw_bytes=nn * 16,
            enc_bytes=len(ts_blob) + len(val_blob),
        )
        return row

    def enc_stream(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            keys = pdf[kc]
            change = (keys != keys.shift()).any(axis=1).to_numpy()
            change[0] = True
            starts = np.flatnonzero(change)
            # the last group may continue into the next batch — carry it
            carry = pdf.iloc[starts[-1] :]
            rows = [
                _encode_group(pdf.iloc[s:e])
                for s, e in zip(starts[:-1], starts[1:])
            ]
            if rows:
                yield pd.DataFrame(rows)
        if carry is not None and len(carry):
            yield pd.DataFrame([_encode_group(carry)])

    clustered = df.repartition(*[F.col(k) for k in kc]).sortWithinPartitions(
        *kc, ts_col
    )
    return clustered.mapInPandas(enc_stream, schema=schema)


def gorilla_decompress_chunks(chunks_df, key_cols: list[str], value_col: str):
    """mapInPandas: expand chunk rows back to (key…, ts, value) points."""
    import pandas as pd

    from sequenzo_spark import ensure_workers_can_import

    ensure_workers_can_import(chunks_df.sparkSession)

    key_fields = ", ".join(
        f"{f.name} {f.dataType.simpleString()}"
        for f in chunks_df.schema
        if f.name in key_cols
    )
    schema = f"{key_fields}, ts timestamp, {value_col} double"

    def dec(batches):
        for pdf in batches:
            outs = []
            for _, row in pdf.iterrows():
                n = int(row["n_points"])
                ts = decode_timestamps(row["ts_blob"], int(row["ts_bits"]), n)
                vals = decode_values(row["val_blob"], int(row["val_bits"]), n)
                d = {k: np.repeat(row[k], n) for k in key_cols}
                d["ts"] = pd.to_datetime(ts, unit="us")
                d[value_col] = vals
                outs.append(pd.DataFrame(d))
            yield pd.concat(outs) if outs else pd.DataFrame(
                columns=key_cols + ["ts", value_col]
            )

    return chunks_df.mapInPandas(dec, schema=schema)
