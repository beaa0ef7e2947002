"""Batched multi-series codecs: golden bytes, row independence (a row of a
batch is the one-row call's blob), exact round trip, Arrow list-offset
compatibility, and the blob-header rules every decoder shares."""

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from sorting_compressed_time_series_spark.codecs import (
    CODEC_DELTA,
    CODEC_VARINT,
    decode_chunk,
    delta_encode,
    encode_chunk,
    varint_encode,
)
from sorting_compressed_time_series_spark.codecs.batched import decode_rows, encode_rows
from sorting_compressed_time_series_spark.codecs.bytealigned import _BLOCK, _SMALL
from sorting_compressed_time_series_spark.codecs.chunk import MAGIC, VERSION, serialize_bytealigned
from sorting_compressed_time_series_spark.operators.ingest import _flush_batches
from sorting_compressed_time_series_spark.sources.synth import _gen_batch

# `test_flush_batch_planes_golden`: (time plane, value plane) sha256
GOLDEN_POINTS = 85_888
GOLDEN_DIGESTS = [
    "d45f60b97ba8f2b71afcb3c22c5a745a2fff560670bd850ff492bc7faba737b6",
    "342c1da4204fbed5ff069aaf2e1e882cfe64b94a130bfca6002a6141b792513a",
]
# `test_bitpacked_golden`: sha256 of each codec's blobs and splits for
# `_bitpacked_golden_rows`, recorded from the per-series encoders the
# batched kernels replaced
BITPACKED_GOLDEN_DIGESTS = {
    3: "93b5de4e92124da6ef80a50fbd3758cb385a1482f898172dc69d398caf1f5bf5",  # DOD
    4: "acd4c6540064a92a51b9225839cc9fb47d7bbbc7c276afedc9b12e78281f3332",  # GORILLA
    5: "68a9ede4acd698ba46b6a0bab09a33548d1c2761d29f35b51f90d83cc31964fa",  # GORILLA_F64
    6: "ae33dfb709b733d4dc71d5bebcf55fcd31443d2910ffe94b8fd646c4b06e5f03",  # TS2DIFF
}


def _random_rows(rng, n_rows, max_len=200, lo=-(10**4), hi=10**4):
    rows = [rng.integers(lo, hi, size=rng.integers(0, max_len)).astype(np.int64)
            for _ in range(n_rows)]
    flat = np.concatenate(rows) if rows else np.empty(0, np.int64)
    splits = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    return rows, flat, splits


I64, I32 = np.iinfo(np.int64), np.iinfo(np.int32)


def _sized_rows(rng, total, row_len=200):
    """Random rows of at most ``row_len`` points, ``total`` points in all."""
    lens = [row_len] * (total // row_len) + [total % row_len] * bool(total % row_len)
    return [rng.integers(-(10**4), 10**4, size=n) for n in lens]


def _scalar_cases():
    """Batches for `encode_rows`: random rows; empty rows between others;
    point counts at and past `bytealigned._SMALL` (the lane/width-class
    switch) and past `_BLOCK`; int64 extremes at row starts, so the DELTA
    deltas wrap, and int32 extremes."""
    rng = np.random.default_rng(1)
    yield _random_rows(rng, 100)[0]
    empty = np.empty(0, np.int64)
    yield [empty, np.array([5, 3, 9]), empty, empty, np.array([-7]), empty]
    for total in (_SMALL, _SMALL + 1, _BLOCK + 4_464):
        yield _sized_rows(rng, total)
    yield [np.array([I64.min, I64.max, -1, I64.min]), np.array([I64.max, I64.min, 0]),
           np.array([I64.min]), empty, np.array([I64.max, 1])]
    yield [np.array([I32.min, I32.max, 0, -1, I32.min]), np.array([I32.max]), empty]


@pytest.mark.parametrize("codec", [CODEC_DELTA, CODEC_VARINT])
def test_batched_matches_scalar_blobs(codec):
    for rows in _scalar_cases():
        rows = [np.asarray(r, dtype=np.int64) for r in rows]
        splits = np.zeros(len(rows) + 1, dtype=np.int64)
        np.cumsum([len(r) for r in rows], out=splits[1:])
        flat = np.concatenate(rows)
        dtypes = [np.int64]
        if codec == CODEC_VARINT and np.array_equal(flat.astype(np.int32), flat):
            dtypes.append(np.int32)  # the flush's own token dtype
        for dt in dtypes:
            buf, bsp = encode_rows(flat.astype(dt), splits, codec)
            for i, r in enumerate(rows):
                blob = buf[bsp[i]:bsp[i + 1]].tobytes()
                # the per-series serializer compaction writes pages with
                series = (delta_encode if codec == CODEC_DELTA else varint_encode)(r)
                assert blob == serialize_bytealigned(series, codec), (
                    f"row {i} blob mismatch ({dt.__name__})")
                assert np.array_equal(decode_chunk(blob), r)
            back, back_splits = decode_rows(buf, bsp)
            assert np.array_equal(back_splits, splits)
            assert np.array_equal(back, flat)


def test_flush_batch_planes_golden():
    """Pins the bytes `encode_rows` gives for a seeded flush batch. The
    per-series serializer above shares its plane kernels with `encode_rows`,
    so it cannot catch a change to the payload bytes both would make."""
    ids = np.arange(300, dtype=np.uint64)
    (_, ts, vals, splits), = _flush_batches(iter([_gen_batch(ids, 5)]), 5)
    assert (len(ts), vals.dtype) == (GOLDEN_POINTS, np.int32)
    digests = []
    for flat, codec in ((ts, CODEC_DELTA), (vals, CODEC_VARINT)):
        buf, bsp = encode_rows(flat, splits, codec)
        digests.append(hashlib.sha256(buf.tobytes() + bsp.tobytes()).hexdigest())
    assert digests == GOLDEN_DIGESTS


@pytest.mark.parametrize("codec", [CODEC_DELTA, CODEC_VARINT])
def test_batched_roundtrip_large(codec):
    rng = np.random.default_rng(2)
    rows, flat, splits = _random_rows(rng, 2000, max_len=1024,
                                      lo=-(2**40), hi=2**40)
    buf, bsp = encode_rows(flat, splits, codec)
    back_flat, back_splits = decode_rows(buf, bsp)
    assert np.array_equal(back_splits, splits)
    assert np.array_equal(back_flat, flat)


def test_batched_sorted_timestamps():
    # the seriesization regime: per-row increasing timestamps
    rng = np.random.default_rng(3)
    rows = []
    for _ in range(500):
        n = int(rng.integers(1, 300))
        rows.append(np.cumsum(rng.integers(1, 3000, size=n)).astype(np.int64))
    flat = np.concatenate(rows)
    splits = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    buf, bsp = encode_rows(flat, splits, CODEC_DELTA)
    back_flat, back_splits = decode_rows(buf, bsp)
    assert np.array_equal(back_flat, flat)
    # small steps -> at most ~2 payload bytes/elem + 8/row + headers
    assert len(buf) < 2.6 * len(flat) + 24 * len(rows)


def test_arrow_list_integration():
    # flat values + offsets exactly as they come off an Arrow ListArray
    rng = np.random.default_rng(4)
    rows = [rng.integers(-(10**4), 10**4, size=rng.integers(0, 50)).tolist()
            for _ in range(300)]
    arr = pa.array(rows, type=pa.list_(pa.int32()))
    flat = arr.values.to_numpy(zero_copy_only=False).astype(np.int64)
    splits = arr.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    buf, bsp = encode_rows(flat, splits, CODEC_VARINT)
    # build a Binary array straight from the buffers (no per-row Python)
    bin_arr = pa.Array.from_buffers(
        pa.large_binary(), len(rows),
        [None, pa.py_buffer(bsp.astype(np.int64)), pa.py_buffer(buf)],
    )
    for i, r in enumerate(rows):
        assert np.array_equal(decode_chunk(bin_arr[i].as_py()), np.array(r, dtype=np.int64))


def test_empty_batch():
    buf, bsp = encode_rows(np.empty(0, np.int64), np.zeros(1, np.int64), CODEC_DELTA)
    flat, splits = decode_rows(buf, bsp)
    assert len(flat) == 0


def test_decode_rows_skips_empty_blobs():
    rng = np.random.default_rng(9)
    rows = [rng.integers(-100, 100, size=rng.integers(1, 30)).astype(np.int64)
            for _ in range(20)]
    flat = np.concatenate(rows)
    splits = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    buf, bsp = encode_rows(flat, splits, CODEC_VARINT)
    # interleave empty blobs (the fused flush table's partial rows)
    blobs = []
    for i in range(len(rows)):
        blobs.append(buf[bsp[i]:bsp[i + 1]].tobytes())
        blobs.append(b"")
    mixed = np.frombuffer(b"".join(blobs), dtype=np.uint8)
    msp = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=msp[1:])
    back, bsplits = decode_rows(mixed, msp)
    assert np.array_equal(back, flat)
    assert list(np.diff(bsplits))[1::2] == [0] * len(rows)


# ---------------------------------------------------------------------------
# batched bit-packed kernels (DOD / Gorilla / TS_2DIFF)
# ---------------------------------------------------------------------------

from sorting_compressed_time_series_spark.codecs import (  # noqa: E402
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
)
from sorting_compressed_time_series_spark.codecs import bitpacked  # noqa: E402
from sorting_compressed_time_series_spark.codecs.batched import (  # noqa: E402
    decode_chunk_rows,
    dod_decode_rows,
    dod_encode_rows,
    encode_chunk_rows,
    gorilla_decode_rows,
    pack_bits_rows,
    unpack_bits_rows,
)


def _ts_rows(rng, n_rows):
    """Timestamp-like rows incl. the degenerate lengths 0/1/2."""
    lens = [0, 1, 2, 3] + list(rng.integers(4, 500, size=max(n_rows - 4, 0)))
    rows = []
    for n in lens:
        base = int(rng.integers(1_500_000_000_000_000, 1_700_000_000_000_000))
        steps = rng.integers(0, 5_000, size=n)
        rows.append((base + np.cumsum(steps)).astype(np.int64))
    flat = np.concatenate(rows) if rows else np.empty(0, np.int64)
    splits = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    return rows, flat, splits


def test_pack_bits_rows_roundtrip():
    rng = np.random.default_rng(5)
    n_rows = 50
    counts = rng.integers(0, 40, n_rows)
    splits = np.zeros(n_rows + 1, np.int64)
    np.cumsum(counts, out=splits[1:])
    widths = rng.integers(0, 65, int(splits[-1])).astype(np.int64)
    vals = rng.integers(0, 2**63, int(splits[-1]), dtype=np.uint64)
    masked = np.where(widths == 64, vals, vals & ((np.uint64(1) << widths.astype(np.uint64)) - np.uint64(1)))
    buf, bsp = pack_bits_rows(vals, widths, splits)
    assert int(bsp[-1]) == len(buf)
    got = unpack_bits_rows(buf, widths, splits)
    assert np.array_equal(got, masked)


@pytest.mark.parametrize("w", [1, 2, 4, 8, 16, 32, 64])
def test_pack_bits_rows_keeps_fixed_width_planes_on_the_fast_path(w, monkeypatch):
    """A plane of one power-of-two width, in rows that end mid-byte, is
    padded with whole elements of that width: ``pack_bits_rows`` and
    ``unpack_bits_rows`` reach the fixed-width kernels once each, and each
    row's bytes are ``pack_bits`` of the row alone."""
    rng = np.random.default_rng(w)
    counts = np.array([0, 1, 3, 5, 7, 9, 0, 13, 1])
    splits = np.concatenate([[0], np.cumsum(counts)]).astype(np.int64)
    vals = rng.integers(0, 2**63, int(splits[-1]), dtype=np.uint64)
    widths = np.full(len(vals), w, np.int64)
    calls = []
    for name in ("_pack_fixed_pow2", "_unpack_fixed_pow2"):
        orig = getattr(bitpacked, name)
        monkeypatch.setattr(bitpacked, name,
                            lambda *a, _n=name, _f=orig: calls.append(_n) or _f(*a))
    buf, bsp = pack_bits_rows(vals, widths, splits)
    got = unpack_bits_rows(buf, widths, splits)
    assert calls == ["_pack_fixed_pow2", "_unpack_fixed_pow2"]
    monkeypatch.undo()
    want = [bitpacked.pack_bits(vals[a:b], widths[a:b]) for a, b in zip(splits[:-1], splits[1:])]
    assert np.array_equal(np.diff(bsp), [len(r) for r in want])
    assert bytes(buf) == b"".join(bytes(r) for r in want)
    mask = np.uint64(2**w - 1) if w < 64 else ~np.uint64(0)
    assert np.array_equal(got, vals & mask)


def test_dod_rows_byte_identical_to_scalar():
    """Row independence: each row of a batch is its one-row blob."""
    rng = np.random.default_rng(6)
    rows, flat, splits = _ts_rows(rng, 60)
    buf, bsp = dod_encode_rows(flat, splits)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_DOD)
    vals, vsp = dod_decode_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_gorilla_rows_byte_identical_to_scalar():
    """Row independence: each row of a batch is its one-row blob."""
    rng = np.random.default_rng(7)
    # float64 values with runs of identical values (tag-0 path) and noise
    rows = []
    for n in [0, 1, 2, 5, 64, 333]:
        vals = np.round(rng.normal(100.0, 4.0, n), 2)
        if n > 10:
            vals[::3] = vals[0]  # xor==0 runs
        rows.append(vals)
    flat = np.concatenate(rows) if rows else np.empty(0, np.float64)
    splits = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_GORILLA_F64)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_GORILLA_F64)
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_gorilla_longs_rows_roundtrip():
    rng = np.random.default_rng(8)
    rows = [rng.integers(-2**62, 2**62, n, dtype=np.int64) for n in (0, 1, 7, 129)]
    flat = np.concatenate(rows)
    splits = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_GORILLA)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_GORILLA)
    vals, _ = decode_chunk_rows(buf, bsp)
    assert np.array_equal(vals, flat)


def test_batched_decode_reads_scalar_bitpacked_blobs():
    """One-row blobs, concatenated, decode as one batch."""
    rng = np.random.default_rng(9)
    rows, flat, splits = _ts_rows(rng, 20)
    blobs = [encode_chunk(r, CODEC_DOD) for r in rows]
    cat = np.frombuffer(b"".join(blobs), np.uint8)
    bsp = np.zeros(len(blobs) + 1, np.int64)
    np.cumsum([len(b) for b in blobs], out=bsp[1:])
    vals, vsp = decode_chunk_rows(cat, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_ts2diff_rows_byte_identical_to_scalar():
    """Row independence: each row of a batch is its one-row blob."""
    rng = np.random.default_rng(10)
    rows, flat, splits = _ts_rows(rng, 60)
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_TS2DIFF)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_TS2DIFF)
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_ts2diff_rows_block_boundaries_and_negatives():
    """Block-edge row lengths (128k and 128k±1 deltas), negative and huge
    deltas, constant rows (zero-width blocks): each row is its one-row
    blob, the batch round-trips exactly, and so do the one-row blobs
    concatenated."""
    rng = np.random.default_rng(11)
    rows = [
        np.arange(129, dtype=np.int64) * 7,                 # exactly 1 full block
        np.arange(130, dtype=np.int64) * -3,                # 1 block + 1-delta block
        np.arange(257, dtype=np.int64),                     # 2 full blocks
        np.full(200, 42, dtype=np.int64),                   # constant: width-0 blocks
        rng.integers(-2**55, 2**55, size=300).astype(np.int64),  # wild deltas
        np.array([5], dtype=np.int64),
        np.empty(0, dtype=np.int64),
    ]
    flat = np.concatenate(rows)
    splits = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_TS2DIFF)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_TS2DIFF)
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)
    # the one-row blobs, concatenated, decode as one batch
    blobs = [encode_chunk(r, CODEC_TS2DIFF) for r in rows]
    cat = np.frombuffer(b"".join(blobs), np.uint8)
    bsp2 = np.zeros(len(blobs) + 1, np.int64)
    np.cumsum([len(b) for b in blobs], out=bsp2[1:])
    vals2, vsp2 = decode_chunk_rows(cat, bsp2)
    assert np.array_equal(vals2, flat) and np.array_equal(vsp2, splits)


def test_gorilla_rows_constant_and_extreme():
    # all-identical values (every tag 0), huge xor magnitudes (64-bit windows)
    rows = [np.full(50, 123.456), np.array([np.finfo(np.float64).max,
                                            -np.finfo(np.float64).max, 0.0, -0.0])]
    flat = np.concatenate(rows)
    splits = np.array([0, 50, 54], np.int64)
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_GORILLA_F64)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_GORILLA_F64)
    vals, _ = decode_chunk_rows(buf, bsp)
    # -0.0 == 0.0 under ==; require bit-exactness instead
    assert np.array_equal(vals.view(np.uint64), flat.view(np.uint64))


def test_blob_plane_past_int32_offsets_flushes_as_row_slices(monkeypatch):
    """Arrow binary offsets are int32, so a flush batch whose blob plane
    passes the limit is emitted as several chunk batches of consecutive
    rows, each within it, instead of wrapping its offsets; their rows equal
    the unsplit batch's. A single row past the limit cannot be split and is
    refused (naming the row's plane size). The limit is lowered here; at
    the real 2 GiB a batch of ~20 000 docs of ~32k tokens reaches it."""
    from sorting_compressed_time_series_spark.operators import ingest
    from sorting_compressed_time_series_spark.sources.synth import _gen_batch

    batch = _gen_batch(np.arange(40, dtype=np.uint64), 42)
    out = next(ingest.flush_kernel_batches(iter([batch])))
    cols = [c for c in out.schema.names if c != "encode_ns"]
    ends = {c: np.frombuffer(out.column(c).buffers()[1], np.int32)[1:41]
            for c in ("time_blob", "value_blob")}
    largest = max(int(e[-1]) for e in ends.values())
    monkeypatch.setattr(ingest, "BINARY_MAX_BYTES", largest - 1)
    sliced = list(ingest.flush_kernel_batches(iter([batch])))
    assert len(sliced) > 1
    assert all(int(np.frombuffer(b.column(c).buffers()[1], np.int32)[b.num_rows])
               <= largest - 1 for b in sliced for c in ends)
    joined = pa.Table.from_batches(sliced).select(cols)
    assert joined.equals(pa.Table.from_batches([out]).select(cols))
    widest = max(int(np.diff(np.concatenate([[0], e])).max()) for e in ends.values())
    monkeypatch.setattr(ingest, "BINARY_MAX_BYTES", widest - 1)
    with pytest.raises(OverflowError, match=rf"a chunk row's blob plane holds {widest} bytes"):
        list(ingest.flush_kernel_batches(iter([batch])))
    # at the limit the batch still flushes whole, byte for byte as before
    # (all but the encode wall time)
    monkeypatch.setattr(ingest, "BINARY_MAX_BYTES", largest)
    again = list(ingest.flush_kernel_batches(iter([batch])))
    assert len(again) == 1 and again[0].select(cols).equals(out.select(cols))


F64_MAX = np.finfo(np.float64).max


def _bitpacked_golden_rows(f64):
    """Rows of 0/1/2 points; 128, 129 and 130 deltas (TS_2DIFF block
    edges); int64 extremes; runs of equal values (xor == 0, dod == 0);
    random 64-bit patterns and x, ~x pairs (64-bit Gorilla windows); and
    for floats, +-max, -0.0 and the smallest normal."""
    rng = np.random.default_rng(20)
    if f64:
        walk = np.cumsum(rng.normal(0, 1, 300))
        runs = np.round(rng.normal(100.0, 4.0, 200), 2)
        runs[::3] = runs[0]
        return [np.empty(0), np.array([1.5]), np.array([2.25, -0.5]),
                np.full(40, 123.456), walk, runs,
                np.array([F64_MAX, -F64_MAX, 0.0, -0.0,
                          np.finfo(np.float64).tiny, -0.0, F64_MAX])]

    def ts(n):
        return 1_600_000_000_000_000 + np.cumsum(rng.integers(0, 5_000, n))

    alt = rng.integers(0, 2**63, 64, dtype=np.int64)
    return [np.empty(0, np.int64), np.array([7]), np.array([3, -2]),
            np.arange(129) * 7, ts(130), ts(131),
            np.array([I64.min, I64.max, -1, 0, I64.max, I64.min, I64.min]),
            np.full(50, -42), np.repeat(ts(20), 5),
            np.column_stack([alt, ~alt]).ravel(),
            rng.integers(I64.min, I64.max, 300, endpoint=True), ts(400)]


def _concat(rows):
    splits = np.zeros(len(rows) + 1, dtype=np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    return np.concatenate(rows), splits


@pytest.mark.parametrize("codec", [CODEC_DOD, CODEC_GORILLA, CODEC_GORILLA_F64, CODEC_TS2DIFF])
def test_bitpacked_golden(codec):
    """Pins the bit-packed formats byte for byte: the batched kernels are
    the only implementation, so row-independence checks alone would not
    see a change to the bytes every row makes."""
    rows = _bitpacked_golden_rows(codec == CODEC_GORILLA_F64)
    flat, splits = _concat(rows)
    buf, bsp = encode_chunk_rows(flat, splits, codec)
    assert hashlib.sha256(buf.tobytes() + bsp.tobytes()).hexdigest() == (
        BITPACKED_GOLDEN_DIGESTS[codec])
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert vals.tobytes() == flat.tobytes() and np.array_equal(vsp, splits)


def _blob_batch(blobs):
    bsp = np.zeros(len(blobs) + 1, dtype=np.int64)
    np.cumsum([len(b) for b in blobs], out=bsp[1:])
    return np.frombuffer(b"".join(blobs), np.uint8), bsp


@pytest.mark.parametrize("codec", [CODEC_DELTA, CODEC_VARINT, CODEC_DOD,
                                   CODEC_GORILLA, CODEC_GORILLA_F64, CODEC_TS2DIFF])
def test_empty_blob_rows_decode_to_no_points(codec):
    """A zero-length row, between two rows or last, decodes to zero points
    in every codec (the flush table's partial rows carry empty blobs)."""
    a, b = np.array([10, 20, 30, 40, 50]), np.array([-3, 7, 7])
    if codec == CODEC_GORILLA_F64:
        a, b = a / 3, b / 3
    buf, bsp = _blob_batch([encode_chunk(a, codec), b"", encode_chunk(b, codec), b""])
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert vals.tobytes() == np.concatenate([a, b]).tobytes()
    assert vsp.tolist() == [0, 5, 5, 8, 8]


def test_mixed_codec_batch_is_refused():
    """A batch decodes with one codec, so blobs of two are refused, naming
    both, instead of decoding one row with the other's codec."""
    v = np.array([10, 20, 30, 40, 50])
    for second, found in ((CODEC_VARINT, r"\[1, 2\]"), (CODEC_DOD, r"\[1, 3\]")):
        buf, bsp = _blob_batch([encode_chunk(v, CODEC_DELTA), encode_chunk(v, second)])
        for decode in (decode_chunk_rows, decode_rows):
            with pytest.raises(ValueError, match=rf"codecs {found}"):
                decode(buf, bsp)


@pytest.mark.parametrize("pos, byte", [(0, ord("X")), (1, ord("X")), (2, VERSION + 1)])
def test_bad_magic_or_version_is_refused(pos, byte):
    v = np.array([10, 20, 30, 40, 50])
    bad = bytearray(encode_chunk(v, CODEC_DOD))
    bad[pos] = byte
    assert bytes(bad[:3]) != MAGIC + bytes([VERSION])
    buf, bsp = _blob_batch([encode_chunk(v, CODEC_DOD), bytes(bad)])
    with pytest.raises(ValueError, match="bad chunk blob header"):
        decode_chunk_rows(buf, bsp)
