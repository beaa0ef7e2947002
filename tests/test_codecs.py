"""Codec round-trip oracles, re-expressing the reference's codec tests.

Reference tests re-expressed (see SURVEY.md §5):
- datanode/.../memtablesort/EncodeDecodeTest.java:27-75 — TS_DELTA /
  V_VARINT round trip (forward decode; the engine has no backward cursor).
- tsfile/.../sorter/EncodeDecodeTest.java:28-110 — serialized page form
  round trip, ROW_NUM=20 random ints in [-10^4, 10^4], many repeats.
- delta-of-delta / Gorilla round trips (CompressedTVList.convert path).

Fixtures follow /root/repo/FIXTURES.md F2 patterns.
"""

import numpy as np
import pytest

from sorting_compressed_time_series_spark.codecs import (
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
    CODEC_VARINT,
    decode_chunk,
    encode_chunk,
)
from sorting_compressed_time_series_spark.codecs.bitpacked import (
    _clz64,
    _ctz64,
    pack_bits,
    unpack_bits,
)
from sorting_compressed_time_series_spark.codecs.bytealigned import (
    _SMALL,
    _classify,
    _emit_classes,
    _emit_lanes,
    _gather_classes,
    _gather_lanes,
    delta_decode,
    delta_encode,
    permute,
    varint_decode,
    varint_encode,
    zigzag,
    unzigzag,
)
RNG = np.random.default_rng(42)


def _sorted_ts(n, rng):
    return np.cumsum(rng.integers(1, 3000, size=n)).astype(np.int64)


def _nearly_sorted(n, rng, p=0.02, disp=1000):
    ts = _sorted_ts(n, rng)
    if n < 2:
        return ts
    k = max(1, int(n * p))
    idx = rng.integers(1, n, size=k)
    ts[idx] -= rng.integers(1, disp, size=k)
    return ts


FIXTURES = [
    np.array([], dtype=np.int64),
    np.array([7], dtype=np.int64),
    np.array([0, 0, 0], dtype=np.int64),
    np.array([5, 5, 5, 6], dtype=np.int64),
    np.array([-(2**62), 2**62, 0, -1, 1], dtype=np.int64),
    np.array([np.iinfo(np.int64).min, np.iinfo(np.int64).max], dtype=np.int64),
]


def test_zigzag_roundtrip():
    v = RNG.integers(np.iinfo(np.int64).min, np.iinfo(np.int64).max, size=10000, dtype=np.int64)
    assert np.array_equal(unzigzag(zigzag(v)), v)


@pytest.mark.parametrize("n", [1, 2, 20, 1000, 100_000])
def test_delta_roundtrip_random(n):
    # reference EncodeDecodeTest value regime: random ints
    rng = np.random.default_rng(n)
    v = rng.integers(-(10**4), 10**4, size=n).astype(np.int64)
    d = delta_encode(v)
    assert np.array_equal(delta_decode(d), v)


@pytest.mark.parametrize("n", [1, 2, 20, 1000, 100_000])
def test_delta_roundtrip_sorted(n):
    rng = np.random.default_rng(n + 1)
    v = _sorted_ts(n, rng)
    d = delta_encode(v)
    assert np.array_equal(delta_decode(d), v)
    # sorted timestamps with small steps must compress: <= 2 bytes/elem payload
    assert len(d.vals) <= 2 * n + 8


@pytest.mark.parametrize("v", FIXTURES)
def test_delta_edge_cases(v):
    d = delta_encode(v)
    assert np.array_equal(delta_decode(d), v)


@pytest.mark.parametrize("v", FIXTURES)
def test_varint_edge_cases(v):
    d = varint_encode(v)
    assert np.array_equal(varint_decode(d), v)


def test_varint_roundtrip_reference_regime():
    # ROW_NUM=20 random in [-1e4,1e4], REPEAT often — vectorize the repeats
    rng = np.random.default_rng(7)
    for _ in range(200):
        v = rng.integers(-(10**4), 10**4 + 1, size=20).astype(np.int64)
        d = varint_encode(v)
        assert np.array_equal(varint_decode(d), v)


def test_varint_permute_byte_domain():
    # value-plane rotation/permutation without decode must equal permuting
    # the decoded values (CompressedDataSorter value-plane dataMove semantics)
    rng = np.random.default_rng(11)
    v = rng.integers(-(2**40), 2**40, size=5000).astype(np.int64)
    d = varint_encode(v)
    order = rng.permutation(len(v))
    assert np.array_equal(varint_decode(permute(d, order)), v[order])


# every width class, both int64 extremes and their neighbours
WIDTH_MIX = np.array(
    [0, 5, -1, 127, 128, 2**15, -(2**15) - 1, 2**31, -(2**31), 2**40,
     np.iinfo(np.int64).min, np.iinfo(np.int64).max, np.iinfo(np.int64).min + 1, 2**62, 3],
    dtype=np.int64,
)


@pytest.mark.parametrize("n", [0, 1, _SMALL - 1, _SMALL, _SMALL + 1])
def test_lane_and_width_class_paths_agree(n):
    # the lane path (up to _SMALL elements) and the width-class path give
    # the same payload plane and the same decode on either side of the
    # switch; the last element is 1 byte wide and its plane is followed by
    # 0xFF bytes, so a read past the plane end would change the decode
    v = np.resize(WIDTH_MIX, n)
    if n:
        v[-1] = 5
    zz = zigzag(v)
    codes = _classify(zz)
    assert n == 0 or codes[-1] == 1
    assert n < len(WIDTH_MIX) or set(codes.tolist()) == {0, 1, 2, 3}
    vals = _emit_classes(zz, codes)
    assert _emit_lanes(zz, codes).tobytes() == vals.tobytes()
    buf = np.full(len(vals) + 8, 0xFF, dtype=np.uint8)
    buf[: len(vals)] = vals
    for gather in (_gather_lanes, _gather_classes):
        assert np.array_equal(unzigzag(gather(buf[: len(vals)], codes)), v)
    # the public codecs dispatch on the same switch
    d = varint_encode(v)
    assert np.array_equal(varint_decode(d), v)
    assert np.array_equal(delta_decode(delta_encode(v)), v)
    order = np.random.default_rng(n).permutation(n)
    p, want = permute(d, order), varint_encode(v[order])
    assert p.vals.tobytes() == want.vals.tobytes()
    assert np.array_equal(p.codes, want.codes)


def test_pack_unpack_bits():
    rng = np.random.default_rng(3)
    widths = rng.integers(0, 65, size=10_000).astype(np.int64)
    vals = rng.integers(0, 2**63, size=10_000, dtype=np.uint64)
    mask = np.where(widths == 64, np.uint64(2**64 - 1),
                    (np.uint64(1) << widths.astype(np.uint64)) - np.uint64(1))
    vals = vals & mask
    buf = pack_bits(vals, widths)
    back = unpack_bits(buf, widths)
    assert np.array_equal(back, vals)


def test_clz_ctz():
    rng = np.random.default_rng(5)
    x = rng.integers(1, 2**63, size=100_000, dtype=np.uint64)
    x = x | (np.uint64(1) << rng.integers(0, 64, size=100_000, dtype=np.uint64))
    expected_clz = np.array([64 - int(v).bit_length() for v in x])
    expected_ctz = np.array([(int(v) & -int(v)).bit_length() - 1 for v in x])
    assert np.array_equal(_clz64(x), expected_clz)
    assert np.array_equal(_ctz64(x), expected_ctz)


@pytest.mark.parametrize("n", [0, 1, 2, 20, 1000, 100_000])
def test_dod_roundtrip(n):
    rng = np.random.default_rng(n + 13)
    for v in (
        _sorted_ts(max(n, 1), rng)[:n],
        _nearly_sorted(max(n, 1), rng)[:n],
        rng.integers(-(10**9), 10**9, size=n).astype(np.int64),
    ):
        assert np.array_equal(decode_chunk(encode_chunk(v, CODEC_DOD)), v)


def test_dod_compresses_sorted():
    rng = np.random.default_rng(17)
    # constant-step timestamps: dod == 0 -> ~3 bits/elem (tag plane only)
    v = np.arange(0, 10_000 * 50, 50, dtype=np.int64)
    blob = encode_chunk(v, CODEC_DOD)
    assert len(blob) - 4 < 10_000 * 0.5 + 16  # body, past the container header


def test_dod_extreme_values():
    v = np.array([0, 2**62, -(2**62), 1, -1, np.iinfo(np.int64).max,
                  np.iinfo(np.int64).min], dtype=np.int64)
    assert np.array_equal(decode_chunk(encode_chunk(v, CODEC_DOD)), v)


@pytest.mark.parametrize("n", [0, 1, 2, 20, 1000, 100_000])
def test_gorilla_longs_roundtrip(n):
    rng = np.random.default_rng(n + 23)
    x = rng.integers(0, 2**64, size=n, dtype=np.uint64)
    back = decode_chunk(encode_chunk(x.view(np.int64), CODEC_GORILLA))
    assert np.array_equal(back.view(np.uint64), x)


def test_gorilla_near_2pow64_xor():
    """Regression: XOR values in (2^64-1024, 2^64-1] round up to 2^64 in
    float64, which used to make _clz64 return -1 (lead=-1, mlen=65) and
    silently corrupt the stream — e.g. [5, -6, 7, 123] decoded to [5,5,5,5].
    """
    v = np.array([5, -6, 7, 123], dtype=np.int64)
    assert np.array_equal(decode_chunk(encode_chunk(v, CODEC_GORILLA)), v)
    # alternating x / ~x: every XOR is all-ones (2^64-1)
    rng = np.random.default_rng(41)
    a = rng.integers(0, 2**63, size=500, dtype=np.int64)
    inter = np.empty(1000, dtype=np.int64)
    inter[0::2] = a
    inter[1::2] = ~a
    assert np.array_equal(decode_chunk(encode_chunk(inter, CODEC_GORILLA)), inter)
    # exhaustive _clz64 sweep across every power-of-two boundary ±2 and the
    # whole rounds-to-2^64 tail, vs int.bit_length
    vals = sorted(
        {(1 << k) + d for k in range(1, 64) for d in (-2, -1, 0, 1, 2)}
        | {(1 << 64) - 1 - d for d in range(1200)}
    )
    vals = [x for x in vals if 1 <= x < (1 << 64)]
    got = _clz64(np.array(vals, dtype=np.uint64))
    exp = np.array([64 - x.bit_length() for x in vals], dtype=np.int64)
    assert np.array_equal(got, exp)


def test_gorilla_doubles_walk():
    # FIXTURES.md: gorilla-friendly random walk, exact bit equality
    rng = np.random.default_rng(29)
    v = np.cumsum(rng.normal(0, 1, size=50_000))
    blob = encode_chunk(v, CODEC_GORILLA_F64)
    back = decode_chunk(blob)
    assert np.array_equal(back.view(np.uint64), v.view(np.uint64))
    # XOR of a smooth walk must beat raw 8B/elem (body, past the header)
    assert len(blob) - 4 < 8 * 50_000


def test_gorilla_repeats():
    v = np.array([1.5] * 1000)
    blob = encode_chunk(v, CODEC_GORILLA_F64)
    assert np.array_equal(decode_chunk(blob), v)
    assert len(blob) - 4 < 300  # repeated values -> tag plane only


@pytest.mark.parametrize("codec", [CODEC_DELTA, CODEC_VARINT, CODEC_DOD, CODEC_GORILLA])
def test_chunk_container_int(codec):
    rng = np.random.default_rng(31)
    v = rng.integers(-(10**6), 10**6, size=4096).astype(np.int64)
    blob = encode_chunk(v, codec)
    assert np.array_equal(decode_chunk(blob), v)


@pytest.mark.parametrize("codec", [7, 8, 99])
def test_chunk_container_refuses_unknown_codec_ids(codec):
    """Ids with no codec, the retired 7 and 8 among them, are refused by the
    one-row and the batched calls alike."""
    from sorting_compressed_time_series_spark.codecs.batched import (
        decode_chunk_rows,
        encode_chunk_rows,
    )
    from sorting_compressed_time_series_spark.codecs.chunk import MAGIC, VERSION

    v = np.arange(16, dtype=np.int64)
    blob = MAGIC + bytes([VERSION, codec]) + np.array([len(v)], "<u4").tobytes()
    for call in (lambda: decode_chunk(blob),
                 lambda: decode_chunk_rows(np.frombuffer(blob, np.uint8),
                                           np.array([0, len(blob)])),
                 lambda: encode_chunk(v, codec),
                 lambda: encode_chunk_rows(v, np.array([0, 8, 16]), codec)):
        with pytest.raises(ValueError, match=rf"unknown codec {codec}$"):
            call()


def test_chunk_container_f64():
    rng = np.random.default_rng(37)
    v = rng.normal(size=4096)
    blob = encode_chunk(v, CODEC_GORILLA_F64)
    assert np.array_equal(decode_chunk(blob), v)


@pytest.mark.parametrize("n", [0, 1, 2, 127, 128, 129, 1000, 100_000])
def test_ts2diff_roundtrip(n):
    rng = np.random.default_rng(n + 41)
    for v in (
        _sorted_ts(max(n, 1), rng)[:n],
        rng.integers(-(10**9), 10**9, size=n).astype(np.int64),
        np.arange(n, dtype=np.int64) * 50,
    ):
        assert np.array_equal(decode_chunk(encode_chunk(v, CODEC_TS2DIFF)), v), n


def test_ts2diff_extremes():
    v = np.array([0, 2**62, -(2**62), 5, 5, 5], dtype=np.int64)
    assert np.array_equal(decode_chunk(encode_chunk(v, CODEC_TS2DIFF)), v)


def test_ts2diff_compresses_regular():
    v = np.arange(100_000, dtype=np.int64) * 1000
    blob = encode_chunk(v, CODEC_TS2DIFF)
    assert len(blob) - 4 < 100_000 * 0.2  # constant deltas -> ~9B per block
