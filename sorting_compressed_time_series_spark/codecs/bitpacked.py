"""Bit-packed codecs: delta-of-delta and TS_2DIFF (timestamps) and Gorilla
XOR (values) — their formats and the bit-plane helpers their kernels share.
The kernels themselves are the multi-row ones in ``batched``
(`dod_encode_rows`, `gorilla_encode_rows`, `ts2diff_encode_rows` and their
decoders); one series is a batch of one row.

Re-expresses the reference's bit-packed codecs (SURVEY.md §2.1 #7-#10):

- ``DeltaDeltaLongEncoder`` (TSEncoding DELTA_OF_DELTA, reference
  db/iotdb-core/tsfile/.../encoder/DeltaDeltaLongEncoder.java:117-174):
  Gorilla-paper timestamp compression — store the second difference in a
  small number of bits chosen by magnitude class.
- ``LongGorillaEncoder`` / ``DoublePrecisionEncoderV2`` (TSEncoding GORILLA,
  reference .../encoder/LongGorillaEncoder.java:105-150): XOR with the
  previous value, store only the meaningful (non-zero window) bits.

Format redesign (clean-room, deliberately different from the reference):
the reference interleaves prefix codes with payloads in one bitstream, which
forces *sequential* decode.  We separate three planes —

    [fixed-width tag plane] [fixed-width window/param plane] [payload plane]

so decode is: unpack tags (vectorized) → derive every element's payload
width (vectorized) → prefix-sum offsets → gather payload bits (vectorized).
This is the same control/payload-plane split the reference's byte-aligned
``TS_DELTA_data.lens`` array uses, generalized to bit granularity.  It keeps
the compression ratio of delta-of-delta / Gorilla while making both encode
and decode whole-array numpy kernels.

Each layout below is a chunk blob's body, after magic, version and codec
(``codecs.chunk``); rows with no points stop after the count (Gorilla:
after the window count), rows with one point after the first value.

Delta-of-delta layout (little header, then planes):
    u32 count | i64 first | tag plane: 3 bits/elem for elems 1..n-1 |
    payload plane: zigzag(dod) bits per class
    classes: 0→0 bits (dod==0), 1→7, 2→9, 3→12, 4→32, 5→64
    (class thresholds follow DeltaDeltaLongEncoder.java:117-156.)

Gorilla layout:
    u32 count | u32 n_windows | u64 first |
    tag plane: 2 bits/elem for elems 1..n-1 (0: xor==0, 1: reuse window,
    2: new window) | window plane: 12 bits per new-window elem
    (6b leading-zero count, 6b meaningful-length-1) | payload plane:
    meaningful bits per non-zero elem.

Bit order is MSB-first within the stream, matching the reference's packing
convention (DeltaDeltaLongEncoder quirks list, SURVEY.md §2.1).
"""

from __future__ import annotations

import numpy as np

_U64 = np.uint64

# ---------------------------------------------------------------------------
# bit plane helpers (shared by the codecs)
# ---------------------------------------------------------------------------


def pack_bits(values: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Concatenate ``widths[i]`` MSB-first bits of ``values[i]`` into bytes.

    Word-lane algorithm: each element's code spans at most two 64-bit-aligned
    big-endian lanes (width ≤ 64). Compute both lane contributions for every
    element at once, then segment-OR contributions that share a lane with
    ``np.bitwise_or.reduceat`` — a constant number of whole-array passes,
    no per-bit expansion.
    """
    v = values.astype(np.uint64, copy=False)
    w = widths.astype(np.int64, copy=False)
    total = int(w.sum())
    if total == 0:
        return np.empty(0, dtype=np.uint8)
    if len(w) and w[0] in (1, 2, 4, 8, 16, 32, 64) and (w == w[0]).all():
        return _pack_fixed_pow2(v, int(w[0]))
    nz = w > 0
    if not nz.all():
        v = v[nz]
        w = w[nz]
    # mask stray high bits so OR-accumulation is safe (width-64 elements are
    # rare: patch them in place instead of a both-branches np.where pass)
    wu = w.astype(np.uint64)
    full = wu == _U64(64)
    mask = (_U64(1) << (wu & _U64(63))) - _U64(1)
    if full.any():
        mask[full] = ~_U64(0)
    v = v & mask
    ends = np.cumsum(w)
    offs = ends - w
    lane0 = offs >> 6
    s = (offs & 63).astype(np.int64)
    r = s + w - 64  # >0 → element spills into lane0+1
    spill = r > 0
    sh0 = np.where(spill, r, 64 - s - w).astype(np.uint64)
    c0 = np.where(spill, v >> sh0, v << sh0)
    c1 = np.where(spill, v << ((_U64(64) - sh0) & _U64(63)), _U64(0))
    n_lanes = (total + 63) // 64
    lanes = np.zeros(n_lanes + 1, dtype=np.uint64)  # +1: spill lane of last elem

    def _or_into(idx: np.ndarray, c: np.ndarray) -> None:
        # idx is non-decreasing (offsets grow monotonically)
        first = np.empty(len(idx), dtype=bool)
        first[0] = True
        np.not_equal(idx[1:], idx[:-1], out=first[1:])
        seg_starts = np.flatnonzero(first)
        lanes[idx[seg_starts]] |= np.bitwise_or.reduceat(c, seg_starts)

    _or_into(lane0, c0)
    _or_into(lane0 + 1, c1)
    out = lanes[:n_lanes].byteswap().view(np.uint8)
    return np.ascontiguousarray(out[: (total + 7) // 8])


def _pack_fixed_pow2(v: np.ndarray, w: int) -> np.ndarray:
    """Fixed power-of-two width: reshape so each output lane is one OR-reduce."""
    per = 64 // w
    n = len(v)
    n_lanes = (n + per - 1) // per
    if w < 64:
        v = v & ((_U64(1) << _U64(w)) - _U64(1))
    padded = np.zeros(n_lanes * per, dtype=np.uint64)
    padded[:n] = v
    cols = padded.reshape(n_lanes, per)
    shifts = (64 - w * (np.arange(per, dtype=np.uint64) + _U64(1)))
    lanes = np.bitwise_or.reduce(cols << shifts, axis=1)
    out = lanes.byteswap().view(np.uint8)
    return np.ascontiguousarray(out[: (n * w + 7) // 8])


def _unpack_fixed_pow2(buf: np.ndarray, w: int, count: int) -> np.ndarray:
    per = 64 // w
    n_lanes = (count + per - 1) // per
    padded = np.zeros(n_lanes * 8, dtype=np.uint8)
    raw = np.frombuffer(buf, dtype=np.uint8)[: (count * w + 7) // 8]
    padded[: len(raw)] = raw
    lanes = padded.view(np.uint64).byteswap()
    shifts = (64 - w * (np.arange(per, dtype=np.uint64) + _U64(1)))
    mask = ~_U64(0) if w == 64 else (_U64(1) << _U64(w)) - _U64(1)
    vals = (lanes[:, None] >> shifts) & mask
    return vals.reshape(-1)[:count]


def unpack_bits(buf: np.ndarray, widths: np.ndarray) -> np.ndarray:
    """Inverse of `pack_bits`: gather each element's bits back to uint64."""
    w_all = widths.astype(np.int64, copy=False)
    if len(w_all) and w_all[0] in (1, 2, 4, 8, 16, 32, 64) and (w_all == w_all[0]).all():
        return _unpack_fixed_pow2(buf, int(w_all[0]), len(w_all))
    total = int(w_all.sum())
    out = np.zeros(len(w_all), dtype=np.uint64)
    if total == 0:
        return out
    raw = np.frombuffer(buf, dtype=np.uint8)[: (total + 7) // 8]
    n_lanes = (total + 63) // 64
    padded = np.zeros((n_lanes + 1) * 8, dtype=np.uint8)
    padded[: len(raw)] = raw
    lanes = padded.view(np.uint64).byteswap()
    nz = w_all > 0
    w = w_all[nz]
    ends = np.cumsum(w)
    offs = ends - w
    lane0 = offs >> 6
    s = (offs & 63).astype(np.int64)
    r = s + w - 64
    spill = r > 0
    wu = w.astype(np.uint64)
    full = wu == _U64(64)
    mask = (_U64(1) << (wu & _U64(63))) - _U64(1)
    if full.any():
        mask[full] = ~_U64(0)
    sh = np.where(spill, r, 64 - s - w).astype(np.uint64)
    w0 = lanes[lane0]
    w1 = lanes[lane0 + 1]
    lo = np.where(spill, w0 << sh, w0 >> sh)
    hi = np.where(spill, w1 >> ((_U64(64) - sh) & _U64(63)), _U64(0))
    out[nz] = (lo | hi) & mask
    return out


# ---------------------------------------------------------------------------
# delta-of-delta
# ---------------------------------------------------------------------------

# class -> payload width in bits
_DOD_WIDTH = np.array([0, 7, 9, 12, 32, 64], dtype=np.int64)


def _dod_classify(zz: np.ndarray) -> np.ndarray:
    codes = np.full(zz.shape, 5, dtype=np.uint8)
    codes[zz < _U64(1) << _U64(32)] = 4
    codes[zz < _U64(1) << _U64(12)] = 3
    codes[zz < _U64(1) << _U64(9)] = 2
    codes[zz < _U64(1) << _U64(7)] = 1
    codes[zz == _U64(0)] = 0
    return codes


# ---------------------------------------------------------------------------
# Gorilla XOR
# ---------------------------------------------------------------------------


def _clz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-leading-zeros for uint64 (x > 0).

    float64 exponent-field trick: the cast rounds, so the exponent is
    floor(log2(x)) or floor(log2(x))+1; one shift-compare fixes the
    rounded-up-across-a-power-of-two case exactly.
    """
    f = x.astype(np.float64)
    e = ((f.view(np.uint64) >> _U64(52)) & _U64(0x7FF)).astype(np.int64) - 1023
    # Clamp BEFORE the rounded-up correction: x in (2^64-1024, 2^64-1] casts
    # to exactly 2^64 (e=64); clamping to 63 is already the right exponent
    # there (bit_length 64), and the shift-compare below would otherwise be
    # unable to detect it (shift amount saturates at 63).
    e = np.minimum(e, 63)
    too_big = (x >> e.astype(np.uint64)) == 0  # x < 2^e → exponent rounded up
    e -= too_big
    return 63 - e


def _ctz64(x: np.ndarray) -> np.ndarray:
    """Vectorized count-trailing-zeros for uint64 (x > 0).

    The isolated lowest bit is an exact power of two ≤ 2^63, which float64
    represents exactly — the exponent field IS the answer, no rounded-up
    correction pass needed (unlike the general _clz64)."""
    lowbit = (x & (~x + _U64(1))).astype(np.float64)
    return ((lowbit.view(np.uint64) >> _U64(52)) & _U64(0x7FF)).astype(np.int64) - 1023


# ---------------------------------------------------------------------------
# TS_2DIFF (block min-delta, fixed width per block)
# ---------------------------------------------------------------------------

# Re-expresses IoTDB's TS_2DIFF (reference DeltaBinaryEncoder,
# tsfile/.../encoder/DeltaBinaryEncoder.java:46-129): deltas are grouped in
# blocks of 128; each block stores (min_delta, bit_width) and packs
# (delta - min_delta) at the block's fixed width. Fixed width per block is
# what makes this the FASTEST codec here: pack/unpack stay on the pow2/
# reduceat fast paths and there is no per-element class decision chain.
# Layout: u32 count | i64 first | block table: [i64 min_delta | u8 width]
# per block | payload plane: each (delta - min_delta) at its block's width
# (the last block holds the remaining < 128 deltas).

TS2DIFF_BLOCK = 128


def _bitlen_u64(x: np.ndarray) -> np.ndarray:
    """bit length of positive uint64 values (vectorized)."""
    return 64 - _clz64(x)
