"""Batched multi-series codec vs scalar chunk codec: byte-identical blobs,
exact round trip, Arrow list-offset compatibility."""

import hashlib

import numpy as np
import pyarrow as pa
import pytest

from sorting_compressed_time_series_spark.codecs import (
    CODEC_DELTA,
    CODEC_VARINT,
    decode_chunk,
    encode_chunk,
)
from sorting_compressed_time_series_spark.codecs.batched import decode_rows, encode_rows
from sorting_compressed_time_series_spark.codecs.bytealigned import _BLOCK, _SMALL
from sorting_compressed_time_series_spark.operators.ingest import _flush_batches
from sorting_compressed_time_series_spark.sources.synth import _gen_batch

# `test_flush_batch_planes_golden`: (time plane, value plane) sha256
GOLDEN_POINTS = 85_888
GOLDEN_DIGESTS = [
    "d45f60b97ba8f2b71afcb3c22c5a745a2fff560670bd850ff492bc7faba737b6",
    "342c1da4204fbed5ff069aaf2e1e882cfe64b94a130bfca6002a6141b792513a",
]


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
                assert blob == encode_chunk(r, codec), f"row {i} blob mismatch ({dt.__name__})"
                assert np.array_equal(decode_chunk(blob), r)
            back, back_splits = decode_rows(buf, bsp)
            assert np.array_equal(back_splits, splits)
            assert np.array_equal(back, flat)


def test_flush_batch_planes_golden():
    """Pins the bytes `encode_rows` gives for a seeded flush batch. The
    per-series reference above shares its plane kernels with `encode_rows`,
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
# batched bit-packed kernels (DOD / Gorilla) vs scalar encoders
# ---------------------------------------------------------------------------

from sorting_compressed_time_series_spark.codecs import (  # noqa: E402
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
)
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


def test_dod_rows_byte_identical_to_scalar():
    rng = np.random.default_rng(6)
    rows, flat, splits = _ts_rows(rng, 60)
    buf, bsp = dod_encode_rows(flat, splits)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_DOD)
    vals, vsp = dod_decode_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_gorilla_rows_byte_identical_to_scalar():
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
    rng = np.random.default_rng(9)
    rows, flat, splits = _ts_rows(rng, 20)
    blobs = [encode_chunk(r, CODEC_DOD) for r in rows]
    cat = np.frombuffer(b"".join(blobs), np.uint8)
    bsp = np.zeros(len(blobs) + 1, np.int64)
    np.cumsum([len(b) for b in blobs], out=bsp[1:])
    vals, vsp = decode_chunk_rows(cat, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_ts2diff_rows_byte_identical_to_scalar():
    rng = np.random.default_rng(10)
    rows, flat, splits = _ts_rows(rng, 60)
    buf, bsp = encode_chunk_rows(flat, splits, CODEC_TS2DIFF)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(r, CODEC_TS2DIFF)
    vals, vsp = decode_chunk_rows(buf, bsp)
    assert np.array_equal(vals, flat) and np.array_equal(vsp, splits)


def test_ts2diff_rows_block_boundaries_and_negatives():
    """Block-edge row lengths (128k and 128k±1 deltas), negative and huge
    deltas, constant rows (zero-width blocks) — byte-identical to scalar
    and exact round trip, both directions of interop."""
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
    # batched decode must also read scalar-encoded blobs
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
