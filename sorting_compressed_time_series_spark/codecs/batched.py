"""Multi-series batched codec kernels: encode/decode a whole Arrow batch of
series in one set of numpy operations. They are the only codec kernels:
one series is a batch of one row (`encode_chunk`/`decode_chunk`).

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
count.  The bit-packed codecs (DOD, Gorilla, TS_2DIFF; formats in
``bitpacked``) pack every row's planes in one `pack_bits` call each.  The
only per-row Python anywhere is Arrow's own offset bookkeeping.

Every row is a ``codecs.chunk`` blob (magic 'SC' | ver | codec | u32
count | body), so a row's bytes do not depend on the rows around it.  All
decoders read the headers through `_read_headers`: a row shorter than the
8-byte header decodes to zero points, and a batch must hold one codec.
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


# ---------------------------------------------------------------------------
# blob headers
# ---------------------------------------------------------------------------

_CODECS = (CODEC_DELTA, CODEC_VARINT, CODEC_DOD, CODEC_GORILLA,
           CODEC_GORILLA_F64, CODEC_TS2DIFF)


def _splits(counts: np.ndarray) -> np.ndarray:
    """Offsets of consecutive runs of ``counts`` elements: 0, then the
    running totals."""
    out = np.zeros(len(counts) + 1, dtype=np.int64)
    np.cumsum(counts, out=out[1:])
    return out


def _read_le(buf: np.ndarray, pos: np.ndarray, dtype: str) -> np.ndarray:
    """Read little-endian ``dtype`` words at byte offsets ``pos``."""
    return buf[pos[:, None] + np.arange(np.dtype(dtype).itemsize)].view(dtype).reshape(-1)


def _write_le(out: np.ndarray, pos: np.ndarray, vals: np.ndarray, dtype: str) -> None:
    """Write ``vals`` as little-endian ``dtype`` words at byte offsets ``pos``."""
    width = np.dtype(dtype).itemsize
    b = np.asarray(vals).astype(dtype).view(np.uint8).reshape(len(pos), width)
    for k in range(width):
        out[pos + k] = b[:, k]


def _write_headers(
    out: np.ndarray, starts: np.ndarray, codec: int, counts: np.ndarray
) -> None:
    out[starts] = MAGIC[0]
    out[starts + 1] = MAGIC[1]
    out[starts + 2] = VERSION
    out[starts + 3] = codec
    _write_le(out, starts + 4, counts, "<u4")


def _read_headers(
    buf: np.ndarray, bs: np.ndarray, accept: tuple[int, ...]
) -> tuple[np.ndarray, np.ndarray, int | None]:
    """Read the headers of a batch of blobs: (starts, counts, codec).

    A row shorter than the 8-byte header decodes to zero points: its count
    is 0 and its start is the first full row's, so reads there stay in the
    buffer. Every full row must carry the magic and version, and all of
    them one codec, which must be one of ``accept``. ``codec`` is None when
    no row is full."""
    row_starts = bs[:-1]
    valid = np.diff(bs) >= _HDR
    if not valid.any():
        return row_starts, np.zeros(len(valid), np.int64), None
    starts = np.where(valid, row_starts, row_starts[np.argmax(valid)])
    head = buf[starts[valid][:, None] + np.arange(4)]
    if (head[:, :3] != np.frombuffer(MAGIC + bytes([VERSION]), np.uint8)).any():
        raise ValueError("bad chunk blob header")
    codec = int(head[0, 3])
    if (head[:, 3] != codec).any():
        raise ValueError(f"one batch holds blobs of codecs {np.unique(head[:, 3]).tolist()}")
    if codec not in _CODECS:
        raise ValueError(f"unknown codec {codec}")
    if codec not in accept:
        raise ValueError(f"codec {codec} blobs given to a decoder of codecs {list(accept)}")
    counts = _read_le(buf, starts + 4, "<u4").astype(np.int64)
    counts[~valid] = 0
    return starts, counts, codec


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
    starts, counts, codec = _read_headers(buf, bs, (CODEC_DELTA, CODEC_VARINT))
    splits = _splits(counts)
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
    if codec != CODEC_DELTA:
        return vals, splits
    nz = counts > 0
    firsts = splits[:-1][nz]
    first = zz[firsts].view(np.int64)  # raw first values
    vals[firsts] = first
    # segmented cumsum: subtract the running total before each row
    np.cumsum(vals, out=vals)
    vals -= np.repeat(vals[firsts] - first, counts[nz])
    return vals, splits


# ---------------------------------------------------------------------------
# multi-row bit planes (DOD / Gorilla / TS_2DIFF)
# ---------------------------------------------------------------------------
#
# The bit-packed codecs store their planes byte-aligned per blob.  To encode
# MANY rows in one `pack_bits` call while every row's planes stay the bytes
# the row packs to on its own, we insert zero-valued pad bits, (-row_bits) % 8
# of them, at the end of each row whose bits do not end on a byte: row
# boundaries then land exactly on byte boundaries, so slicing the packed
# stream at the per-row byte offsets gives each row's planes bit for bit.


def _row_pads(
    widths: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The pad elements of the rows whose bits do not end on a byte (one
    each, or whole elements of a plane's one power-of-two width, to keep
    ``pack_bits``' fixed-width path): where they go (each at its row's
    end), their widths (filling the row's last byte), and each row's
    padded bytes. A plane of one width needs no cumsum over its widths."""
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    w = int(widths[0]) if len(widths) else 0
    uniform = bool((widths == w).all())
    if uniform:
        row_bits = np.diff(splits) * w
    else:
        cw = _splits(widths)
        row_bits = cw[splits[1:]] - cw[splits[:-1]]
    pad_w = (-row_bits) % 8
    row_bytes = (row_bits + pad_w) >> 3
    if uniform and w in (1, 2, 4, 8, 16, 32, 64):
        reps = pad_w // w
        return np.repeat(splits[1:], reps), np.full(int(reps.sum()), w), row_bytes
    padded = np.flatnonzero(pad_w)
    return splits[1:][padded], pad_w[padded], row_bytes


def pack_bits_rows(
    values: np.ndarray, widths: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """`pack_bits` per row with byte-aligned row boundaries, in ONE call.
    Returns (packed uint8 buffer, per-row byte splits)."""
    at, pad_w, row_bytes = _row_pads(widths, row_splits)
    if len(at):
        values, widths = np.insert(values, at, 0), np.insert(widths, at, pad_w)
    return pack_bits(values, widths), _splits(row_bytes)


def unpack_bits_rows(
    buf: np.ndarray, widths: np.ndarray, row_splits: np.ndarray
) -> np.ndarray:
    """Inverse of `pack_bits_rows`: ``buf`` is the concatenation of per-row
    byte-aligned planes; unpack all rows' elements in ONE call."""
    at, pad_w, _ = _row_pads(widths, row_splits)
    if not len(at):
        return unpack_bits(buf, widths)
    padded = unpack_bits(buf, np.insert(widths, at, pad_w))
    return np.delete(padded, at + np.arange(len(at)))


def _enc_domain(flat_len: int, splits: np.ndarray) -> tuple:
    """Per-row 'encoded element' domain: every element except each row's
    first (rows of length 0/1 encode nothing)."""
    counts = np.diff(splits)
    nz_starts = splits[:-1][counts > 0]
    keep = np.ones(flat_len, dtype=bool)
    keep[nz_starts] = False
    enc_counts = np.maximum(counts - 1, 0)
    return counts, nz_starts, keep, enc_counts, _splits(enc_counts)


def _frame(codec: int, counts: np.ndarray, head: int, firsts: np.ndarray,
           planes: list[tuple[np.ndarray, np.ndarray]]) -> tuple[np.ndarray, np.ndarray]:
    """Lay out the bit-packed blobs of a batch: each row's ``head`` header
    bytes (codec and count written, anything past byte 8 left to the
    caller), its first value (8 bytes, rows with points only), then its
    slice of every (plane buffer, per-row byte lengths) in order."""
    has = counts >= 1
    blob_splits = _splits(head + has * 8 + sum(lens for _, lens in planes))
    out = np.empty(int(blob_splits[-1]), dtype=np.uint8)
    starts = blob_splits[:-1]
    _write_headers(out, starts, codec, counts)
    _write_le(out, starts[has] + head, firsts, "<u8")
    pos = starts + head + has * 8
    for plane, lens in planes:
        _block_place(out, pos, plane, lens)
        pos = pos + lens
    return out, blob_splits


def dod_encode_rows(
    flat_values: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched delta-of-delta: encode every row of an Arrow batch in one set
    of whole-array passes (layout in ``bitpacked``). The previous delta of
    a row's first delta is defined as 0, as in the reference."""
    flat = np.ascontiguousarray(flat_values, dtype=np.int64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
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
    tag_buf, tag_sp = pack_bits_rows(codes, np.full(len(zz), 3, np.int64), enc_splits)
    pay_buf, pay_sp = pack_bits_rows(zz, _DOD_WIDTH[codes], enc_splits)
    return _frame(CODEC_DOD, counts, 8, flat[nz_starts],
                  [(tag_buf, np.diff(tag_sp)), (pay_buf, np.diff(pay_sp))])


def dod_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of `dod_encode_rows`."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    starts, counts, _ = _read_headers(buf, bs, (CODEC_DOD,))
    splits = _splits(counts)
    has = counts >= 1
    out = np.empty(int(splits[-1]), dtype=np.int64)
    out[splits[:-1][has]] = _read_le(buf, starts[has] + 8, "<i8")
    body = starts + 8 + has * 8
    enc_counts = np.maximum(counts - 1, 0)
    enc_splits = _splits(enc_counts)
    ne = int(enc_splits[-1])
    tag_len = (3 * enc_counts + 7) >> 3
    tag_buf = np.empty(int(tag_len.sum()), dtype=np.uint8)
    _block_gather(tag_buf, buf, body, tag_len)
    tags = unpack_bits_rows(tag_buf, np.full(ne, 3, np.int64), enc_splits).astype(np.int64)
    widths = _DOD_WIDTH[tags]
    cw = _splits(widths)
    pay_len = (cw[enc_splits[1:]] - cw[enc_splits[:-1]] + 7) >> 3
    pay_buf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pay_buf, buf, body + tag_len, pay_len)
    dod = unzigzag(unpack_bits_rows(pay_buf, widths, enc_splits))
    if ne:
        henc = enc_counts > 0
        es = enc_splits[:-1][henc]
        reps = enc_counts[henc]
        c1 = np.cumsum(dod)
        delta = c1 - np.repeat(c1[es] - dod[es], reps)  # per-row delta chain
        c2 = np.cumsum(delta)
        pref = c2 - np.repeat(c2[es] - delta[es], reps)  # per-row Σ delta
        firsts = out[splits[:-1][henc]]
        pos = np.repeat(splits[:-1][henc] + 1 - es, reps) + np.arange(ne)
        out[pos] = np.repeat(firsts, reps) + pref
    return out, splits


def gorilla_encode_rows(
    flat_patterns: np.ndarray, row_splits: np.ndarray, codec: int = CODEC_GORILLA
) -> tuple[np.ndarray, np.ndarray]:
    """Batched Gorilla XOR over uint64 bit patterns (int64 values, or
    float64 through ``.view(np.uint64)``; layout in ``bitpacked``).

    Window policy (vectorized, decoder-agnostic): an element reuses the
    running window iff its own (lead, trail) fit inside the *previous
    non-zero element's own* window — a conservative one-pass test that
    guarantees containment in the running window by induction, so the whole
    decision is one vectorized comparison instead of the reference's
    sequential loop (LongGorillaEncoder.java:105-150). The decision resets
    at every row's first non-zero XOR (tag 2 = new window), which is what
    makes the global forward-fills row-safe."""
    x = np.ascontiguousarray(flat_patterns, dtype=np.uint64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
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
        lead[nzm] = _clz64(xnz)  # xnz ≥ 1 → clz ≤ 63, no extra clamp
        trail[nzm] = _ctz64(xnz)
    mlen = np.where(nzm, 64 - lead - trail, 0)
    nz_idx = np.flatnonzero(nzm)
    tags = np.zeros(ne, dtype=np.uint64)  # 0 = xor==0
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
    # effective window for every element = forward-fill from new-window elems
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
    cnw = _splits(is_new)
    n_win = cnw[enc_splits[1:]] - cnw[enc_splits[:-1]]
    win_splits = _splits(n_win)
    win_vals = (lead[is_new].astype(np.uint64) << np.uint64(6)) | (
        mlen[is_new] - 1
    ).astype(np.uint64)
    win_buf, win_sp = pack_bits_rows(
        win_vals, np.full(int(win_splits[-1]), 12, np.int64), win_splits
    )
    pay_w = np.where(tags == 0, 0, eff_mlen)
    pay_vals = xor >> eff_trail.astype(np.uint64)
    pay_buf, pay_sp = pack_bits_rows(pay_vals, pay_w, enc_splits)
    out, blob_splits = _frame(codec, counts, 12, x[nz_starts],
                              [(tag_buf, np.diff(tag_sp)), (win_buf, np.diff(win_sp)),
                               (pay_buf, np.diff(pay_sp))])
    _write_le(out, blob_splits[:-1] + 8, n_win, "<u4")
    return out, blob_splits


def gorilla_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched inverse of `gorilla_encode_rows`: returns uint64 bit patterns
    (caller views as int64/float64 per the codec byte)."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    starts, counts, _ = _read_headers(buf, bs, (CODEC_GORILLA, CODEC_GORILLA_F64))
    splits = _splits(counts)
    has = counts >= 1
    out = np.empty(int(splits[-1]), dtype=np.uint64)
    out[splits[:-1][has]] = _read_le(buf, starts[has] + 12, "<u8")
    body = starts + 12 + has * 8
    n_win = np.zeros(len(counts), dtype=np.int64)
    n_win[has] = _read_le(buf, starts[has] + 8, "<u4")
    enc_counts = np.maximum(counts - 1, 0)
    enc_splits = _splits(enc_counts)
    ne = int(enc_splits[-1])
    tag_len = (2 * enc_counts + 7) >> 3
    win_len = (12 * n_win + 7) >> 3
    tag_buf = np.empty(int(tag_len.sum()), dtype=np.uint8)
    _block_gather(tag_buf, buf, body, tag_len)
    tags = unpack_bits_rows(tag_buf, np.full(ne, 2, np.int64), enc_splits).astype(np.int64)
    win_splits = _splits(n_win)
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
    cw = _splits(widths)
    pay_len = (cw[enc_splits[1:]] - cw[enc_splits[:-1]] + 7) >> 3
    pay_buf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pay_buf, buf, body + tag_len + win_len, pay_len)
    payload = unpack_bits_rows(pay_buf, widths, enc_splits)
    shift = (64 - eff_lead - eff_mlen).astype(np.uint64)
    xor = np.where(tags == 0, np.uint64(0), payload << shift)
    if ne:
        henc = enc_counts > 0
        es = enc_splits[:-1][henc]
        reps = enc_counts[henc]
        c = xor.copy()
        np.bitwise_xor.accumulate(c, out=c)
        seg = c ^ np.repeat(c[es] ^ xor[es], reps)  # per-row xor prefix
        firsts = out[splits[:-1][henc]]
        pos = np.repeat(splits[:-1][henc] + 1 - es, reps) + np.arange(ne)
        out[pos] = np.repeat(firsts, reps) ^ seg
    return out, splits


def ts2diff_encode_rows(
    flat_values: np.ndarray, row_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched TS_2DIFF (block min-delta, reference
    DeltaBinaryEncoder.java:46-129 block layout; layout in ``bitpacked``):
    every 128-delta block of every row in the batch is one row of ONE
    (total_blocks × 128) matrix, so min/width/relativize are three
    whole-array passes and the payload is a single `pack_bits_rows` call."""
    flat = np.ascontiguousarray(flat_values, dtype=np.int64)
    splits = np.ascontiguousarray(row_splits, dtype=np.int64)
    counts, nz_starts, keep, enc_counts, enc_splits = _enc_domain(
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
        # a short final block is padded with the block's own first delta,
        # so the pad never moves the block's min or width
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
    pay_buf, pay_sp = pack_bits_rows(flat_rel, flat_w, enc_splits)
    return _frame(CODEC_TS2DIFF, counts, 8, flat[nz_starts],
                  [(table, 9 * nb), (pay_buf, np.diff(pay_sp))])


def ts2diff_decode_rows(
    blob_buffer: np.ndarray, blob_splits: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Batched TS_2DIFF decode: gather all rows' block tables and payload
    planes, one `unpack_bits_rows`, one segmented cumsum."""
    buf = np.ascontiguousarray(blob_buffer, dtype=np.uint8)
    bs = np.ascontiguousarray(blob_splits, dtype=np.int64)
    starts, counts, _ = _read_headers(buf, bs, (CODEC_TS2DIFF,))
    splits = _splits(counts)
    has = counts >= 1
    out = np.empty(int(splits[-1]), dtype=np.int64)
    out[splits[:-1][has]] = _read_le(buf, starts[has] + 8, "<i8")
    table_start = starts + 8 + has * 8
    B = TS2DIFF_BLOCK
    m = np.maximum(counts - 1, 0)
    nb = (m + B - 1) // B
    total_blocks = int(nb.sum())
    if total_blocks == 0:
        return out, splits
    block_row = np.repeat(np.arange(len(counts), dtype=np.int64), nb)
    cum_nb = np.cumsum(nb) - nb
    block_in_row = np.arange(total_blocks, dtype=np.int64) - cum_nb[block_row]
    tstart = table_start[block_row] + 9 * block_in_row
    mins = _read_le(buf, tstart, "<i8")
    widths = buf[tstart + 8].astype(np.int64)
    block_count = np.minimum(m[block_row] - block_in_row * B, B)
    flat_w = np.repeat(widths, block_count)
    enc_splits = _splits(m)
    hm = m > 0
    pay_start = table_start + 9 * nb
    pay_len = np.where(hm, bs[1:] - pay_start, 0)
    pbuf = np.empty(int(pay_len.sum()), dtype=np.uint8)
    _block_gather(pbuf, buf, pay_start, pay_len)
    rel = unpack_bits_rows(pbuf, flat_w, enc_splits)
    deltas = rel.view(np.int64) + np.repeat(mins, block_count)
    es = enc_splits[:-1][hm]
    reps = m[hm]
    cs = np.cumsum(deltas)
    pref = cs - np.repeat(cs[es] - deltas[es], reps)  # per-row Σ delta
    pos = np.repeat(splits[:-1][hm] + 1 - es, reps) + np.arange(len(deltas))
    out[pos] = np.repeat(out[splits[:-1][hm]], reps) + pref
    return out, splits


# ---------------------------------------------------------------------------
# codec-dispatching chunk encode/decode
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
    codec = _read_headers(buf, bs, _CODECS)[2]
    if codec == CODEC_DOD:
        return dod_decode_rows(buf, bs)
    if codec == CODEC_TS2DIFF:
        return ts2diff_decode_rows(buf, bs)
    if codec in (CODEC_GORILLA, CODEC_GORILLA_F64):
        pats, splits = gorilla_decode_rows(buf, bs)
        return pats.view(np.float64 if codec == CODEC_GORILLA_F64 else np.int64), splits
    return decode_rows(buf, bs)  # DELTA, VARINT, or no full row: no points


def encode_chunk(values: np.ndarray, codec: int) -> bytes:
    """Encode one column into a chunk blob: `encode_chunk_rows` on one row."""
    v = np.asarray(values)
    return encode_chunk_rows(v, np.array([0, len(v)]), codec)[0].tobytes()


def decode_chunk(blob: bytes | memoryview) -> np.ndarray:
    """Decode one chunk blob: `decode_chunk_rows` on one row."""
    buf = np.frombuffer(blob, dtype=np.uint8)
    return decode_chunk_rows(buf, np.array([0, len(buf)]))[0]
