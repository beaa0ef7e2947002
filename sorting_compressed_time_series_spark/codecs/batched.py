"""Multi-series batched codec kernels: encode/decode a whole Arrow batch of
series in one set of numpy operations.

The reference encodes one series at a time (a Java loop per point,
CompressedTVList.java:108-124 — "simplified implementation" per its own
comment).  At 10^12-sequence scale, per-series Python dispatch is the enemy:
an Arrow batch of N token arrays arrives as ONE flat value buffer plus row
splits, so we encode ALL series in the batch together.  The byte-aligned
codecs (`encode_rows`/`decode_rows`) are row framing around the per-series
plane kernels of ``bytealigned``: flat zigzag codes with row-boundary
fixups, then one classify, one payload emit (or gather) and one 2-bit lens
pack over the whole batch, and one placement of every row's slice of the
planes behind its header.  The payload path is the per-series one too:
``bytealigned._SMALL`` picks lanes or width classes by the batch's point
count.  The bit-packed codecs (DOD, Gorilla, TS_2DIFF) have kernels of
their own below.  The only per-row Python anywhere is Arrow's own offset
bookkeeping.

Blob layout per row matches ``codecs.chunk`` (magic 'SC' | ver | codec |
u32 count | lens | vals) so scalar and batched kernels interoperate —
`decode_chunk` can read any blob produced here, and vice versa.
"""

from __future__ import annotations

import numpy as np

from .bitpacked import (
    TS2DIFF_BLOCK,
    _DOD_WIDTH,
    _bitlen_u64,
    _clz64,
    _ctz64,
    _dod_classify,
    pack_bits,
    unpack_bits,
)
from .bytealigned import (
    ByteAlignedData,
    _classify,
    _emit_payload,
    _gather_payload,
    _offsets,
    _pack_lens,
    _unpack_lens,
    unzigzag,
    zigzag,
)
from .chunk import (
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_GORILLA,
    CODEC_GORILLA_F64,
    CODEC_TS2DIFF,
    CODEC_VARINT,
    MAGIC,
    VERSION,
)

_HDR = 8  # magic(2) + version(1) + codec(1) + count(u32)


def _block_place(
    out: np.ndarray,
    dest_starts: np.ndarray,
    src: np.ndarray,
    lengths: np.ndarray,
) -> None:
    """Place CONTIGUOUS in-order source blocks at dest_starts: ``src`` is
    exactly the concatenation of the blocks, so no source gather is needed —
    one shift per block, one scatter. Index math runs in int32 whenever the
    output fits (it always does for per-task Arrow batches): the index
    arrays are the dominant memory traffic of the copy, and halving their
    width halves it."""
    total = len(src)
    if total == 0:
        return
    idx_dtype = np.int32 if len(out) < (1 << 31) else np.int64
    src_starts = np.cumsum(lengths) - lengths
    idx = np.repeat((dest_starts - src_starts).astype(idx_dtype), lengths)
    idx += np.arange(total, dtype=idx_dtype)
    out[idx] = src


def _block_gather(
    dst: np.ndarray,
    src: np.ndarray,
    src_starts: np.ndarray,
    lengths: np.ndarray,
) -> None:
    """Gather blocks from ``src`` into a CONTIGUOUS in-order ``dst`` (the
    mirror of :func:`_block_place`): one shift per block, one take."""
    total = len(dst)
    if total == 0:
        return
    idx_dtype = np.int32 if len(src) < (1 << 31) else np.int64
    dst_starts = np.cumsum(lengths) - lengths
    idx = np.repeat((src_starts - dst_starts).astype(idx_dtype), lengths)
    idx += np.arange(total, dtype=idx_dtype)
    np.take(src, idx, out=dst)


def encode_rows(
    flat_values: np.ndarray, row_splits: np.ndarray, codec: int
) -> tuple[np.ndarray, np.ndarray]:
    """Encode many series at once: the ``bytealigned`` plane kernels run
    once over the whole batch, then each row's slice of the planes goes
    behind its header.

    Parameters: ``flat_values`` (all rows concatenated; int32 VARINT input
    is zigzagged in uint32, anything else in int64), ``row_splits``
    int64[n_rows+1] (Arrow list offsets). ``codec`` CODEC_DELTA or
    CODEC_VARINT. Returns (blob_buffer uint8, blob_splits int64[n_rows+1])
    ready to wrap as an Arrow binary array with zero copies.
    """
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts = np.diff(splits)
    if codec == CODEC_DELTA:
        flat = np.ascontiguousarray(flat_values, dtype=np.int64)
        firsts = splits[:-1][counts > 0]
        d = np.empty_like(flat)
        d[:1] = 0
        np.subtract(flat[1:], flat[:-1], out=d[1:])
        zz = zigzag(d)
        zz[firsts] = flat[firsts].view(np.uint64)  # row firsts: raw, class 0
        codes = _classify(zz)
        codes[firsts] = 0
    elif codec == CODEC_VARINT:
        flat = np.ascontiguousarray(flat_values)
        if flat.dtype == np.int32:  # the flush's tokens: half the traffic
            zz = ((flat << 1) ^ (flat >> 31)).view(np.uint32)
        else:
            zz = zigzag(np.ascontiguousarray(flat, dtype=np.int64))
        codes = _classify(zz)
    else:
        raise ValueError(f"batched encode supports DELTA/VARINT, got {codec}")
    off = _offsets(codes)
    payload = _emit_payload(zz, codes, off)
    # per-row-aligned lens plane: each row's classes padded to 4
    lens_len = (counts + 3) // 4
    padded = np.zeros(4 * int(lens_len.sum()), dtype=np.uint8)
    _block_place(padded, 4 * (np.cumsum(lens_len) - lens_len), codes, counts)
    pay_len = off[splits[1:]] - off[splits[:-1]]
    blob_splits = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(_HDR + lens_len + pay_len, out=blob_splits[1:])
    out = np.empty(int(blob_splits[-1]), dtype=np.uint8)
    starts = blob_splits[:-1]
    _write_headers(out, starts, codec, counts)
    _block_place(out, starts + _HDR, _pack_lens(padded), lens_len)
    _block_place(out, starts + _HDR + lens_len, payload, pay_len)
    return out, blob_splits


def decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode many blobs (all the same codec) back to (flat_values,
    row_splits): every row's planes are gathered contiguously, then the
    ``bytealigned`` kernels run once over the whole batch."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    n_rows = len(bs) - 1
    if n_rows == 0:
        return np.empty(0, np.int64), np.zeros(1, np.int64)
    # rows with no/short blob decode to empty
    valid = np.diff(bs) >= _HDR
    if not valid.any():
        return np.empty(0, np.int64), np.zeros(n_rows + 1, np.int64)
    starts = np.where(valid, bs[:-1], bs[np.argmax(valid)])
    codec = int(buf[starts[np.argmax(valid)] + 3])
    counts = _read_u32_le(buf, starts + 4)
    counts[~valid] = 0
    splits = np.zeros(n_rows + 1, dtype=np.int64)
    np.cumsum(counts, out=splits[1:])
    total = int(splits[-1])
    lens_len = (counts + 3) // 4
    packed = np.empty(int(lens_len.sum()), dtype=np.uint8)
    _block_gather(packed, buf, starts + _HDR, lens_len)
    codes = np.empty(total, dtype=np.uint8)
    _block_gather(codes, _unpack_lens(packed), 4 * (np.cumsum(lens_len) - lens_len), counts)
    off = _offsets(codes)
    pay_len = off[splits[1:]] - off[splits[:-1]]
    payload = np.empty(int(off[-1]), dtype=np.uint8)
    _block_gather(payload, buf, starts + _HDR + lens_len, pay_len)
    zz = _gather_payload(ByteAlignedData(payload, codes, total), off)
    vals = unzigzag(zz)
    if codec == CODEC_VARINT:
        return vals, splits
    if codec != CODEC_DELTA:
        raise ValueError(f"batched decode supports DELTA/VARINT, got {codec}")
    nz = counts > 0
    firsts = splits[:-1][nz]
    first = zz[firsts].view(np.int64)  # raw first values
    vals[firsts] = first
    # segmented cumsum: subtract the running total before each row
    np.cumsum(vals, out=vals)
    vals -= np.repeat(vals[firsts] - first, counts[nz])
    return vals, splits


# ---------------------------------------------------------------------------
# multi-row bit planes (batched DOD / Gorilla)
# ---------------------------------------------------------------------------
#
# The bit-packed codecs store their planes byte-aligned per blob.  To encode
# MANY rows in one `pack_bits` call while keeping every row's plane
# byte-identical to the scalar encoder's, we insert one zero-valued pad
# element of width (-row_bits) % 8 at each row end: row boundaries then land
# exactly on byte boundaries, so slicing the packed stream at the per-row
# byte offsets reproduces the scalar outputs bit for bit.


def _padded_widths(
    widths: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Insert per-row pad widths. Returns (widths_with_pads, positions of the
    original elements inside the padded array, per-row byte lengths)."""
    w = widths.astype(np.int64, copy=False)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    n_rows = len(splits) - 1
    counts = np.diff(splits)
    total = len(w)
    cw = np.empty(total + 1, dtype=np.int64)
    cw[0] = 0
    np.cumsum(w, out=cw[1:])
    row_bits = cw[splits[1:]] - cw[splits[:-1]]
    pad_w = (-row_bits) % 8
    out_len = total + n_rows
    widths2 = np.empty(out_len, dtype=np.int64)
    orig_pos = np.arange(total, dtype=np.int64) + np.repeat(
        np.arange(n_rows, dtype=np.int64), counts
    )
    pad_pos = splits[1:] + np.arange(n_rows, dtype=np.int64)
    widths2[pad_pos] = pad_w
    widths2[orig_pos] = w
    return widths2, orig_pos, (row_bits + pad_w) >> 3


def pack_bits_rows(
    values: np.ndarray, widths: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """`pack_bits` per row with byte-aligned row boundaries, in ONE call.
    Returns (packed uint8 buffer, per-row byte splits)."""
    widths2, orig_pos, row_bytes = _padded_widths(widths, row_splits)
    values2 = np.zeros(len(widths2), dtype=np.uint64)
    values2[orig_pos] = values.astype(np.uint64, copy=False)
    buf = pack_bits(values2, widths2)
    byte_splits = np.empty(len(row_bytes) + 1, dtype=np.int64)
    byte_splits[0] = 0
    np.cumsum(row_bytes, out=byte_splits[1:])
    return buf, byte_splits


def unpack_bits_rows(
    buf: np.ndarray, widths: np.ndarray, row_splits: np.ndarray
) -> np.ndarray:
    """Inverse of `pack_bits_rows`: ``buf`` is the concatenation of per-row
    byte-aligned planes; unpack all rows' elements in ONE call."""
    widths2, orig_pos, _ = _padded_widths(widths, row_splits)
    return unpack_bits(buf, widths2)[orig_pos]


def _read_u32_le(buf: np.ndarray, starts: np.ndarray) -> np.ndarray:
    out = np.zeros(len(starts), dtype=np.int64)
    for b in range(4):
        out |= buf[starts + b].astype(np.int64) << (8 * b)
    return out


def _read_u64_le(buf: np.ndarray, starts: np.ndarray) -> np.ndarray:
    out = np.zeros(len(starts), dtype=np.uint64)
    for b in range(8):
        out |= buf[starts + b].astype(np.uint64) << np.uint64(8 * b)
    return out


def _write_headers(
    out: np.ndarray, starts: np.ndarray, codec: int, counts: np.ndarray
) -> None:
    out[starts] = MAGIC[0]
    out[starts + 1] = MAGIC[1]
    out[starts + 2] = VERSION
    out[starts + 3] = codec
    c32 = counts.astype("<u4").view(np.uint8).reshape(-1, 4)
    for b in range(4):
        out[starts + 4 + b] = c32[:, b]


def _enc_domain(flat_len: int, splits: np.ndarray) -> tuple:
    """Per-row 'encoded element' domain: every element except each row's
    first (rows of length 0/1 encode nothing)."""
    counts = np.diff(splits)
    row_starts = splits[:-1]
    nz_starts = row_starts[counts > 0]
    keep = np.ones(flat_len, dtype=bool)
    keep[nz_starts] = False
    enc_counts = np.maximum(counts - 1, 0)
    enc_splits = np.empty(len(counts) + 1, dtype=np.int64)
    enc_splits[0] = 0
    np.cumsum(enc_counts, out=enc_splits[1:])
    return counts, row_starts, nz_starts, keep, enc_counts, enc_splits


def dod_encode_rows(
    flat_values: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched delta-of-delta: encode every row of an Arrow batch in one set
    of whole-array passes.  Per-row blobs are byte-identical to
    ``encode_chunk(row, CODEC_DOD)`` (asserted by pytest)."""
    flat = np.ascontiguousarray(flat_values, dtype=np.int64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, row_starts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
        len(flat), splits
    )
    d = np.empty_like(flat)
    if len(flat):
        d[1:] = flat[1:] - flat[:-1]
        d[nz_starts] = 0  # row firsts: previous delta defined as 0
    dod = np.empty_like(d)
    if len(flat):
        dod[1:] = d[1:] - d[:-1]
        dod[nz_starts] = 0  # dropped below; keeps the array fully defined
    zz = zigzag(dod[keep])
    codes = _dod_classify(zz)
    widths = _DOD_WIDTH[codes]
    ne = len(zz)
    tag_buf, tag_sp = pack_bits_rows(codes, np.full(ne, 3, np.int64), enc_splits)
    pay_buf, pay_sp = pack_bits_rows(zz, widths, enc_splits)
    tag_len = np.diff(tag_sp)
    pay_len = np.diff(pay_sp)
    has_first = (counts >= 1).astype(np.int64)
    blob_len = 8 + has_first * 8 + tag_len + pay_len
    blob_splits = np.empty(len(counts) + 1, dtype=np.int64)
    blob_splits[0] = 0
    np.cumsum(blob_len, out=blob_splits[1:])
    out = np.empty(int(blob_splits[-1]), dtype=np.uint8)
    starts = blob_splits[:-1]
    _write_headers(out, starts, CODEC_DOD, counts)
    nz = counts >= 1
    if nz.any():
        firsts = flat[row_starts[nz]].astype("<i8").view(np.uint8).reshape(-1, 8)
        fs = starts[nz]
        for b in range(8):
            out[fs + 8 + b] = firsts[:, b]
    body = starts + 8 + has_first * 8
    _block_place(out, body, tag_buf, tag_len)
    _block_place(out, body + tag_len, pay_buf, pay_len)
    return out, blob_splits


def dod_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of `dod_encode_rows` (accepts scalar-encoder blobs)."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    n_rows = len(bs) - 1
    if n_rows == 0:
        return np.empty(0, np.int64), np.zeros(1, np.int64)
    starts = bs[:-1]
    valid = np.diff(bs) >= 8
    if not valid.any():
        return np.empty(0, np.int64), np.zeros(n_rows + 1, np.int64)
    starts = np.where(valid, starts, starts[np.argmax(valid)])
    counts = _read_u32_le(buf, starts + 4)
    counts[~valid] = 0
    splits = np.empty(n_rows + 1, dtype=np.int64)
    splits[0] = 0
    np.cumsum(counts, out=splits[1:])
    row_starts_out = splits[:-1]
    has = counts >= 1
    firsts = np.zeros(n_rows, dtype=np.int64)
    if has.any():
        firsts[has] = _read_u64_le(buf, starts[has] + 8).view(np.int64)
    enc_counts = np.maximum(counts - 1, 0)
    enc_splits = np.empty(n_rows + 1, dtype=np.int64)
    enc_splits[0] = 0
    np.cumsum(enc_counts, out=enc_splits[1:])
    ne = int(enc_splits[-1])
    tag_len = (3 * enc_counts + 7) >> 3
    body = starts + 8 + has.astype(np.int64) * 8
    tag_buf = np.empty(int(tag_len.sum()), dtype=np.uint8)
    _block_gather(tag_buf, buf, body, tag_len)
    tags = unpack_bits_rows(tag_buf, np.full(ne, 3, np.int64), enc_splits).astype(np.int64)
    widths = _DOD_WIDTH[tags]
    cw = np.empty(ne + 1, dtype=np.int64)
    cw[0] = 0
    np.cumsum(widths, out=cw[1:])
    pay_len = (cw[enc_splits[1:]] - cw[enc_splits[:-1]] + 7) >> 3
    pay_buf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pay_buf, buf, body + tag_len, pay_len)
    dod = unzigzag(unpack_bits_rows(pay_buf, widths, enc_splits))
    out = np.empty(int(splits[-1]), dtype=np.int64)
    if has.any():
        out[row_starts_out[has]] = firsts[has]
    if ne:
        henc = enc_counts > 0
        es = enc_splits[:-1][henc]
        reps = enc_counts[henc]
        c1 = np.cumsum(dod)
        delta = c1 - np.repeat(c1[es] - dod[es], reps)  # per-row delta chain
        c2 = np.cumsum(delta)
        pref = c2 - np.repeat(c2[es] - delta[es], reps)  # per-row Σ delta
        vals = np.repeat(firsts[henc], reps) + pref
        pos = np.repeat(row_starts_out[henc] + 1 - es, reps) + np.arange(ne)
        out[pos] = vals
    return out, splits


def gorilla_encode_rows(
    flat_patterns: np.ndarray, row_splits: np.ndarray, codec: int = CODEC_GORILLA
) -> tuple[np.ndarray, np.ndarray]:
    """Batched Gorilla-XOR over uint64 bit patterns; per-row blobs are
    byte-identical to ``encode_chunk(row, codec)``.  The reuse decision
    resets at every row's first non-zero XOR (tag 2 = new window), which is
    what makes the global forward-fills row-safe."""
    x = np.ascontiguousarray(flat_patterns, dtype=np.uint64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, row_starts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
        len(x), splits
    )
    n_rows = len(counts)
    xor_full = np.empty_like(x)
    if len(x):
        xor_full[1:] = x[1:] ^ x[:-1]
        xor_full[nz_starts] = 0
    xor = xor_full[keep]
    ne = len(xor)
    row_of = np.repeat(np.arange(n_rows, dtype=np.int64), enc_counts)
    nzm = xor != 0
    lead = np.zeros(ne, dtype=np.int64)
    trail = np.zeros(ne, dtype=np.int64)
    xnz = xor[nzm]
    if len(xnz):
        lead[nzm] = _clz64(xnz)
        trail[nzm] = _ctz64(xnz)
    mlen = np.where(nzm, 64 - lead - trail, 0)
    nz_idx = np.flatnonzero(nzm)
    tags = np.zeros(ne, dtype=np.uint64)
    if len(nz_idx):
        pl = lead[nz_idx]
        pt = trail[nz_idx]
        reuse = np.zeros(len(nz_idx), dtype=bool)
        if len(nz_idx) > 1:
            reuse[1:] = (pl[1:] >= pl[:-1]) & (pt[1:] >= pt[:-1])
            rb = row_of[nz_idx]
            reuse[1:] &= rb[1:] == rb[:-1]  # window never crosses a row
        tags[nz_idx[reuse]] = 1
        tags[nz_idx[~reuse]] = 2
    is_new = tags == 2
    eff_lead = lead.copy()
    eff_trail = trail.copy()
    if is_new.any():
        idx = np.where(is_new, np.arange(ne), -1)
        np.maximum.accumulate(idx, out=idx)
        filled = idx >= 0
        eff_lead[filled] = lead[idx[filled]]
        eff_trail[filled] = trail[idx[filled]]
    eff_mlen = 64 - eff_lead - eff_trail
    tag_buf, tag_sp = pack_bits_rows(tags, np.full(ne, 2, np.int64), enc_splits)
    cnw = np.empty(ne + 1, dtype=np.int64)
    cnw[0] = 0
    np.cumsum(is_new, out=cnw[1:])
    n_win = cnw[enc_splits[1:]] - cnw[enc_splits[:-1]]
    win_splits = np.empty(n_rows + 1, dtype=np.int64)
    win_splits[0] = 0
    np.cumsum(n_win, out=win_splits[1:])
    win_vals = (lead[is_new].astype(np.uint64) << np.uint64(6)) | (
        mlen[is_new] - 1
    ).astype(np.uint64)
    win_buf, win_sp = pack_bits_rows(
        win_vals, np.full(int(win_splits[-1]), 12, np.int64), win_splits
    )
    pay_w = np.where(tags == 0, 0, eff_mlen)
    pay_vals = xor >> eff_trail.astype(np.uint64)
    pay_buf, pay_sp = pack_bits_rows(pay_vals, pay_w, enc_splits)
    tag_len = np.diff(tag_sp)
    win_len = np.diff(win_sp)
    pay_len = np.diff(pay_sp)
    has_first = (counts >= 1).astype(np.int64)
    blob_len = 12 + has_first * 8 + tag_len + win_len + pay_len
    blob_splits = np.empty(n_rows + 1, dtype=np.int64)
    blob_splits[0] = 0
    np.cumsum(blob_len, out=blob_splits[1:])
    out = np.empty(int(blob_splits[-1]), dtype=np.uint8)
    starts = blob_splits[:-1]
    _write_headers(out, starts, codec, counts)
    w32 = n_win.astype("<u4").view(np.uint8).reshape(-1, 4)
    for b in range(4):
        out[starts + 8 + b] = w32[:, b]
    nz = counts >= 1
    if nz.any():
        firsts = x[row_starts[nz]].astype("<u8").view(np.uint8).reshape(-1, 8)
        fs = starts[nz]
        for b in range(8):
            out[fs + 12 + b] = firsts[:, b]
    body = starts + 12 + has_first * 8
    _block_place(out, body, tag_buf, tag_len)
    _block_place(out, body + tag_len, win_buf, win_len)
    _block_place(out, body + tag_len + win_len, pay_buf, pay_len)
    return out, blob_splits


def gorilla_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of `gorilla_encode_rows`: returns uint64 bit patterns
    (caller views as int64/float64 per the codec byte)."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    n_rows = len(bs) - 1
    if n_rows == 0:
        return np.empty(0, np.uint64), np.zeros(1, np.int64)
    starts = bs[:-1]
    valid = np.diff(bs) >= 12
    if not valid.any():
        return np.empty(0, np.uint64), np.zeros(n_rows + 1, np.int64)
    starts = np.where(valid, starts, starts[np.argmax(valid)])
    counts = _read_u32_le(buf, starts + 4)
    counts[~valid] = 0
    n_win = _read_u32_le(buf, starts + 8)
    n_win[~valid] = 0
    splits = np.empty(n_rows + 1, dtype=np.int64)
    splits[0] = 0
    np.cumsum(counts, out=splits[1:])
    row_starts_out = splits[:-1]
    has = counts >= 1
    firsts = np.zeros(n_rows, dtype=np.uint64)
    if has.any():
        firsts[has] = _read_u64_le(buf, starts[has] + 12)
    enc_counts = np.maximum(counts - 1, 0)
    enc_splits = np.empty(n_rows + 1, dtype=np.int64)
    enc_splits[0] = 0
    np.cumsum(enc_counts, out=enc_splits[1:])
    ne = int(enc_splits[-1])
    tag_len = (2 * enc_counts + 7) >> 3
    win_len = (12 * n_win + 7) >> 3
    body = starts + 12 + has.astype(np.int64) * 8
    tag_buf = np.empty(int(tag_len.sum()), dtype=np.uint8)
    _block_gather(tag_buf, buf, body, tag_len)
    tags = unpack_bits_rows(tag_buf, np.full(ne, 2, np.int64), enc_splits).astype(np.int64)
    win_splits = np.empty(n_rows + 1, dtype=np.int64)
    win_splits[0] = 0
    np.cumsum(n_win, out=win_splits[1:])
    win_buf = np.empty(int(win_len.sum()), dtype=np.uint8)
    _block_gather(win_buf, buf, body + tag_len, win_len)
    wins = unpack_bits_rows(
        win_buf, np.full(int(win_splits[-1]), 12, np.int64), win_splits
    )
    lead_new = (wins >> np.uint64(6)).astype(np.int64)
    mlen_new = (wins & np.uint64(0x3F)).astype(np.int64) + 1
    is_new = tags == 2
    eff_lead = np.zeros(ne, dtype=np.int64)
    eff_mlen = np.zeros(ne, dtype=np.int64)
    eff_lead[is_new] = lead_new
    eff_mlen[is_new] = mlen_new
    if ne:
        idx = np.where(is_new, np.arange(ne), -1)
        np.maximum.accumulate(idx, out=idx)
        filled = idx >= 0
        eff_lead[filled] = eff_lead[idx[filled]]
        eff_mlen[filled] = eff_mlen[idx[filled]]
    widths = np.where(tags == 0, 0, eff_mlen)
    cw = np.empty(ne + 1, dtype=np.int64)
    cw[0] = 0
    np.cumsum(widths, out=cw[1:])
    pay_len = (cw[enc_splits[1:]] - cw[enc_splits[:-1]] + 7) >> 3
    pay_buf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pay_buf, buf, body + tag_len + win_len, pay_len)
    payload = unpack_bits_rows(pay_buf, widths, enc_splits)
    shift = (64 - eff_lead - eff_mlen).astype(np.uint64)
    xor = np.where(tags == 0, np.uint64(0), payload << shift)
    out = np.empty(int(splits[-1]), dtype=np.uint64)
    if has.any():
        out[row_starts_out[has]] = firsts[has]
    if ne:
        henc = enc_counts > 0
        es = enc_splits[:-1][henc]
        reps = enc_counts[henc]
        c = xor.copy()
        np.bitwise_xor.accumulate(c, out=c)
        seg = c ^ np.repeat(c[es] ^ xor[es], reps)  # per-row xor prefix
        vals = np.repeat(firsts[henc], reps) ^ seg
        pos = np.repeat(row_starts_out[henc] + 1 - es, reps) + np.arange(ne)
        out[pos] = vals
    return out, splits


def ts2diff_encode_rows(
    flat_values: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched TS_2DIFF (block min-delta, reference
    DeltaBinaryEncoder.java:46-129 block layout): every 128-delta block of
    every row in the batch is one row of ONE (total_blocks × 128) matrix, so
    min/width/relativize are three whole-array passes and the payload is a
    single `pack_bits_rows` call.  Per-row blobs are byte-identical to
    ``encode_chunk(row, CODEC_TS2DIFF)`` (asserted by pytest)."""
    flat = np.ascontiguousarray(flat_values, dtype=np.int64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, row_starts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
        len(flat), splits
    )
    n_rows = len(counts)
    B = TS2DIFF_BLOCK
    m = enc_counts  # deltas per row
    nb = (m + B - 1) // B  # blocks per row
    idx = np.nonzero(keep)[0]
    deltas = flat[idx] - flat[idx - 1]
    total_blocks = int(nb.sum())
    if total_blocks:
        block_row = np.repeat(np.arange(n_rows, dtype=np.int64), nb)
        cum_nb = np.cumsum(nb) - nb
        block_in_row = np.arange(total_blocks, dtype=np.int64) - cum_nb[block_row]
        block_start = enc_splits[:-1][block_row] + block_in_row * B
        block_count = np.minimum(m[block_row] - block_in_row * B, B)
        slot = np.arange(B, dtype=np.int64)
        validm = slot[None, :] < block_count[:, None]
        # the scalar encoder pads a short final block with the block's own
        # first delta — clamp pad slots to the block start to match
        gidx = np.where(validm, block_start[:, None] + slot[None, :],
                        block_start[:, None])
        mat = deltas[gidx]
        mins = mat.min(axis=1)
        rel = (mat - mins[:, None]).astype(np.uint64)
        maxs = rel.max(axis=1)
        widths = np.zeros(total_blocks, dtype=np.int64)
        nzb = maxs > 0
        widths[nzb] = _bitlen_u64(maxs[nzb])
        flat_rel = rel[validm]
        flat_w = np.repeat(widths, block_count)
        table = np.zeros(total_blocks * 9, dtype=np.uint8)
        tv = table.reshape(total_blocks, 9)
        tv[:, :8] = mins.astype("<i8").view(np.uint8).reshape(total_blocks, 8)
        tv[:, 8] = widths.astype(np.uint8)
    else:
        flat_rel = np.empty(0, np.uint64)
        flat_w = np.empty(0, np.int64)
        table = np.empty(0, np.uint8)
        block_count = np.empty(0, np.int64)
    pay_buf, pay_sp = pack_bits_rows(flat_rel, flat_w, enc_splits)
    pay_len = np.diff(pay_sp)
    has_first = (counts >= 1).astype(np.int64)
    blob_len = 8 + has_first * 8 + 9 * nb + pay_len
    blob_splits = np.empty(n_rows + 1, dtype=np.int64)
    blob_splits[0] = 0
    np.cumsum(blob_len, out=blob_splits[1:])
    out = np.zeros(int(blob_splits[-1]), dtype=np.uint8)
    starts = blob_splits[:-1]
    _write_headers(out, starts, CODEC_TS2DIFF, counts)
    nz = counts >= 1
    if nz.any():
        firsts = flat[row_starts[nz]].astype("<i8").view(np.uint8).reshape(-1, 8)
        fs = starts[nz]
        for b in range(8):
            out[fs + 8 + b] = firsts[:, b]
    body = starts + 8 + has_first * 8
    _block_place(out, body, table, 9 * nb)
    _block_place(out, body + 9 * nb, pay_buf, pay_len)
    return out, blob_splits


def ts2diff_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched TS_2DIFF decode: gather all rows' block tables and payload
    planes, one `unpack_bits_rows`, one segmented cumsum."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    n_rows = len(bs) - 1
    starts = bs[:-1]
    B = TS2DIFF_BLOCK
    n = _read_u32_le(buf, starts + 4)
    m = np.maximum(n - 1, 0)
    nb = (m + B - 1) // B
    has_first = (n >= 1).astype(np.int64)
    firsts = np.zeros(n_rows, dtype=np.int64)
    nz = n >= 1
    if nz.any():
        firsts[nz] = _read_u64_le(buf, starts[nz] + 8).view(np.int64)
    table_start = starts + 8 + has_first * 8
    total_blocks = int(nb.sum())
    out_splits = np.empty(n_rows + 1, dtype=np.int64)
    out_splits[0] = 0
    np.cumsum(n, out=out_splits[1:])
    out = np.empty(int(out_splits[-1]), dtype=np.int64)
    out[out_splits[:-1][nz]] = firsts[nz]
    if total_blocks == 0:
        return out, out_splits
    block_row = np.repeat(np.arange(n_rows, dtype=np.int64), nb)
    cum_nb = np.cumsum(nb) - nb
    block_in_row = np.arange(total_blocks, dtype=np.int64) - cum_nb[block_row]
    tstart = table_start[block_row] + 9 * block_in_row
    mins = _read_u64_le(buf, tstart).view(np.int64)
    widths = buf[tstart + 8].astype(np.int64)
    block_count = np.minimum(m[block_row] - block_in_row * B, B)
    flat_w = np.repeat(widths, block_count)
    enc_splits = np.empty(n_rows + 1, dtype=np.int64)
    enc_splits[0] = 0
    np.cumsum(m, out=enc_splits[1:])
    pay_start = table_start + 9 * nb
    pay_len = bs[1:] - pay_start
    pbuf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pbuf, buf, pay_start, pay_len)
    rel = unpack_bits_rows(pbuf, flat_w, enc_splits)
    deltas = rel.view(np.int64) + np.repeat(mins, block_count)
    # segmented cumsum: global running sum, re-based per row (two's
    # complement wrap matches the scalar per-row cumsum)
    cs = np.cumsum(deltas)
    cs_before = np.concatenate([[0], cs])[enc_splits[:-1]]
    base = np.repeat(firsts - cs_before, m)
    pos = np.repeat(out_splits[:-1] + 1 - enc_splits[:-1], m) + np.arange(
        len(deltas), dtype=np.int64
    )
    out[pos] = cs + base
    return out, out_splits


# ---------------------------------------------------------------------------
# codec-dispatching batched chunk encode/decode
# ---------------------------------------------------------------------------


def encode_chunk_rows(
    flat_values: np.ndarray, row_splits: np.ndarray, codec: int
) -> tuple[np.ndarray, np.ndarray]:
    """Encode one Arrow batch of series into chunk blobs with the codec's
    multi-row kernel. Float inputs are expected for CODEC_GORILLA_F64 only."""
    if codec in (CODEC_DELTA, CODEC_VARINT):
        return encode_rows(flat_values, row_splits, codec)
    if codec == CODEC_DOD:
        return dod_encode_rows(flat_values, row_splits)
    if codec == CODEC_TS2DIFF:
        return ts2diff_encode_rows(flat_values, row_splits)
    if codec == CODEC_GORILLA:
        pats = np.ascontiguousarray(flat_values, dtype=np.int64).view(np.uint64)
        return gorilla_encode_rows(pats, row_splits, CODEC_GORILLA)
    if codec == CODEC_GORILLA_F64:
        pats = np.ascontiguousarray(flat_values, dtype=np.float64).view(np.uint64)
        return gorilla_encode_rows(pats, row_splits, CODEC_GORILLA_F64)
    raise ValueError(f"unknown codec {codec}")


def decode_chunk_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode one Arrow batch of chunk blobs (all the same codec) with the
    codec's multi-row kernel. Returns (flat values — float64 for
    GORILLA_F64, else int64 — and the per-row splits)."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    n_rows = len(bs) - 1
    valid = np.diff(bs) >= 4
    if not valid.any():
        return np.empty(0, np.int64), np.zeros(n_rows + 1, np.int64)
    codec = int(buf[bs[:-1][np.argmax(valid)] + 3])
    if codec in (CODEC_DELTA, CODEC_VARINT):
        return decode_rows(buf, bs)
    if codec == CODEC_DOD:
        return dod_decode_rows(buf, bs)
    if codec in (CODEC_GORILLA, CODEC_GORILLA_F64):
        pats, splits = gorilla_decode_rows(buf, bs)
        view = np.float64 if codec == CODEC_GORILLA_F64 else np.int64
        return pats.view(view), splits
    if codec == CODEC_TS2DIFF:
        return ts2diff_decode_rows(buf, bs)
    raise ValueError(f"unknown codec {codec}")
