"""Byte-aligned, compressed-sortable codecs (clean-room re-expression).

The reference keeps each memtable series as two byte streams plus a 2-bit
length-class side array (``TS_DELTA_data.vals`` / ``.lens`` — reference
db/iotdb-core/tsfile/src/main/java/org/apache/iotdb/tsfile/utils/
TS_DELTA_data.java:3-16).  The side array is the key design point: every
element's payload width is known *without* decoding, so a sorter can locate
and rotate byte ranges in the compressed domain.

Our format (own design; fixes the reference's zero-delta / 3-byte-class
round-trip quirks documented in SURVEY.md §2.1):

- ``lens``: one 2-bit class per element, 4 per byte, LSB-first within a byte.
  class → payload width: ``0 → 8 bytes, 1 → 1, 2 → 2, 3 → 4``.
  (Same class↔width mapping as the reference's TSDeltaEncoder.java:218-243;
  zero-width and 3-byte classes are deliberately NOT used so every int64
  round-trips exactly.)
- ``vals``: little-endian payload bytes, concatenated.

Two codecs share the container:

- **delta** (time column): element 0 is the raw int64 (class 0, 8 bytes);
  element i>0 stores ``zigzag(v[i] - v[i-1])`` in the smallest class that
  holds it.  Decode = cumulative sum.
- **varint** (value column): every element independently stores
  ``zigzag(v)``; elements are order-independent, so the sorter can permute
  them by pure byte rotation with no re-encoding.

The same kernels (`_classify`, `_offsets`, `_emit_payload`,
`_gather_payload`, the 2-bit `_pack_lens`/`_unpack_lens`) encode and
decode one series here and a whole Arrow batch of series in
``codecs.batched`` (`encode_rows`/`decode_rows`), which only frames each
row's slice of the planes as a blob.

Payload bytes move by one of two whole-array paths, picked by element
count alone (`_SMALL`: a column's here, a whole batch's in
``codecs.batched``), with byte-identical results:

- **lanes** (at most `_SMALL` elements): each zigzag code is viewed as its
  8 little-endian bytes, one row of an ``n x 8`` lane matrix, and the mask
  ``lane < width`` selects the payload bytes. Emit is one masked read of
  the lanes, gather one masked write into a zeroed matrix. That is a fixed
  handful of numpy calls whatever the mix of widths, but it touches 8
  bytes per element.
- **width classes** (longer columns): one gather or scatter per width
  class present, each through a byte-offset window of the plane, so only
  payload bytes move. Four passes of five calls each cost more than the
  lane copy on short columns (compaction pages of tens of points) and less
  on long ones. `_SMALL` is the crossover measured by
  ``tools/sort_microbench.py`` (its ``codec`` section).

The kernels are whole-array numpy, with one exception: a merge of a few
dozen points (`page_merge`'s short stacks; the reference's compaction
pages hold 10) reads and writes each plane with one ``struct`` call
(`unpack_plane`, `pack_plane`) and works on Python ints. A numpy call
costs ~1.5-3 us whatever its length, and a merge needs ~30 of them, so
below ``page_merge._SHORT`` points per-element Python is the cheaper loop.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass

import numpy as np

# class code -> payload byte width (class 0 is the widest, matching the
# reference's "code 0 = 8 bytes" convention)
CLASS_WIDTH = np.array([8, 1, 2, 4], dtype=np.int64)
# bytes.translate tables: class code -> struct format character of its
# payload, and bit length of a zigzag code (0..64) -> its smallest class
_CLASS_FORMAT = bytes.maketrans(bytes(range(4)), b"QBHI")
_BITS_CLASS = bytes([1] * 9 + [2] * 8 + [3] * 16 + [0] * 223)
# (class code, little-endian dtype of that payload width)
_CLASS_DTYPES = tuple((c, np.dtype(f"<u{w}")) for c, w in enumerate(CLASS_WIDTH.tolist()))
# elements per bucket pass: bounds the index temporaries of the gathers
_BLOCK = 1 << 16
_U8_MAX, _U16_MAX, _U32_MAX = (np.uint64(2**b - 1) for b in (8, 16, 32))
# longest column whose payload moves through the n x 8 lane matrix instead
# of the width-class passes: the lane/width-class crossover measured by
# tools/sort_microbench.py (codec section, tools/sort_microbench.json)
_SMALL = 1500
# class code -> mask of its payload bits in a little-endian uint64
_WIDTH_MASK = np.array([2**64 - 1, 2**8 - 1, 2**16 - 1, 2**32 - 1], dtype=np.uint64)
# class code -> which of the 8 little-endian byte lanes hold its payload
_LANE_MASK = np.arange(8) < CLASS_WIDTH[:, None]


def zigzag(v: np.ndarray) -> np.ndarray:
    """Map signed int64 -> unsigned magnitude order-preserving code."""
    v = v.astype(np.int64, copy=False)
    z = v << 1
    z ^= v >> 63
    return z.view(np.uint64)


def unzigzag(z: np.ndarray) -> np.ndarray:
    z = z.astype(np.uint64, copy=False)
    out = (z >> np.uint64(1)).view(np.int64)
    sign = (z & np.uint64(1)).view(np.int64)
    np.negative(sign, out=sign)
    out ^= sign
    return out


def unpack_plane(vals, codes: bytes) -> tuple[int, ...]:
    """Zigzag codes of a payload plane as Python ints (the raw element 0
    of a delta column as its unsigned 64-bit pattern), by one
    ``struct.unpack``. ``codes`` holds one class per byte."""
    return struct.unpack(b"<" + codes.translate(_CLASS_FORMAT), vals)


def pack_plane(zz, codes: bytes) -> bytes:
    """Inverse of `unpack_plane`: the payload plane of codes ``zz`` (ints
    in 0..2**64 - 1) in classes ``codes``, by one ``struct.pack``."""
    return struct.pack(b"<" + codes.translate(_CLASS_FORMAT), *zz)


@dataclass
class ByteAlignedData:
    """In-memory form of one encoded column: payload plane + class plane.

    ``codes`` is kept unpacked (one uint8 per element) while an operator works
    on the column; `pack()` / `unpack()` convert to/from the serialized 2-bit
    form. ``vals`` is a contiguous uint8 payload buffer.
    """

    vals: np.ndarray  # uint8[total_payload_bytes]
    codes: np.ndarray  # uint8[count], values in {0,1,2,3}
    count: int

    def pack_lens(self) -> bytes:
        return _pack_lens(self.codes).tobytes()

    @staticmethod
    def unpack_lens(buf: np.ndarray, count: int) -> np.ndarray:
        return _unpack_lens(np.frombuffer(buf, dtype=np.uint8))[:count]


def _pack_lens(codes: np.ndarray) -> np.ndarray:
    """The 2-bit lens plane of ``codes``: 4 classes per byte, LSB-first,
    the last byte's spare slots zero."""
    if len(codes) % 4:
        codes = np.concatenate((codes, np.zeros(-len(codes) % 4, dtype=np.uint8)))
    q = codes.reshape(-1, 4)
    return q[:, 0] | (q[:, 1] << 2) | (q[:, 2] << 4) | (q[:, 3] << 6)


def _unpack_lens(packed: np.ndarray) -> np.ndarray:
    """Inverse of `_pack_lens`: 4 classes per byte of ``packed``, the
    padding slots included."""
    out = np.empty(len(packed) * 4, dtype=np.uint8)
    out[0::4] = packed & 3
    out[1::4] = (packed >> 2) & 3
    out[2::4] = (packed >> 4) & 3
    out[3::4] = (packed >> 6) & 3
    return out


def _classify(zz: np.ndarray) -> np.ndarray:
    """Smallest length class whose width holds each zigzag code."""
    rank = (zz > _U8_MAX).view(np.uint8)  # 0..3 = width 1, 2, 4, 8
    rank += zz > _U16_MAX
    rank += zz > _U32_MAX
    rank += 1
    rank &= 3  # rank -> class code (width 8 is class 0)
    return rank


def _offsets(codes: np.ndarray) -> np.ndarray:
    """Payload start offset of every element, plus the plane length as the
    last entry. int32 while any plane of this length fits in 2 GiB."""
    idt = np.int32 if 8 * len(codes) < 2**31 else np.int64
    off = np.empty(len(codes) + 1, dtype=idt)
    off[0] = 0
    w = codes + np.uint8(3)  # width = 1 << ((code - 1) mod 4), no lookup
    w &= 3
    np.left_shift(np.uint8(1), w, out=w).cumsum(dtype=idt, out=off[1:])
    return off


def _offsets_at(codes: np.ndarray, pos: np.ndarray) -> np.ndarray:
    """``_offsets(codes)[pos]`` (``pos`` in 0..n) without the full prefix
    sum: one pass for the widths, then one sum per gap between the distinct
    positions. A column moved by a few runs needs only their ends."""
    n = len(codes)
    idt = np.int32 if 8 * n < 2**31 else np.int64
    w = codes + np.uint8(3)
    w &= 3
    np.left_shift(np.uint8(1), w, out=w)
    edges = np.unique(np.concatenate(([0], pos)))
    edges = edges[edges < n]
    at = np.zeros(len(edges) + 1, dtype=idt)
    np.add.reduceat(w, edges, dtype=idt).cumsum(out=at[1:])
    return at[np.searchsorted(edges, pos)]


def _window(plane: np.ndarray, dt: np.dtype) -> np.ndarray:
    """Zero-copy view of ``plane`` whose element j is the ``dt.itemsize``
    bytes starting at byte j, so one fancy index reads or writes a whole
    payload at any byte offset (no per-byte passes, no n x 8 temporaries).
    Index it with intp arrays; ``take`` would copy the whole overlapping
    view first."""
    plane = np.ascontiguousarray(plane)
    return np.ndarray(
        (max(len(plane) - dt.itemsize + 1, 0),), dtype=dt, buffer=plane, strides=(1,)
    )


def _buckets(codes: np.ndarray):
    """(element indices, payload dtype) per width class present in ``codes``,
    block by block, so index temporaries stay `_BLOCK`-sized whatever n."""
    for lo in range(0, len(codes), _BLOCK):
        block = codes[lo : lo + _BLOCK]
        for code, dt in _CLASS_DTYPES:
            idx = (block == code).nonzero()[0]
            if len(idx):
                idx += lo
                yield idx, dt


def _emit_lanes(zz: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Payload plane by one masked copy of the ``n x 8`` lane view."""
    lanes = np.ascontiguousarray(zz, dtype="<u8").view(np.uint8).reshape(-1, 8)
    return lanes[_LANE_MASK[codes]]


def _gather_lanes(vals: np.ndarray, codes: np.ndarray) -> np.ndarray:
    """Zigzag codes by one masked write into a zeroed ``n x 8`` lane matrix.
    ``vals`` must hold exactly the payload bytes of ``codes``."""
    lanes = np.zeros((len(codes), 8), dtype=np.uint8)
    lanes[_LANE_MASK[codes]] = vals
    return lanes.view("<u8").reshape(-1).astype(np.uint64, copy=False)


def _emit_classes(zz: np.ndarray, codes: np.ndarray, off: np.ndarray | None = None) -> np.ndarray:
    """Payload plane by one scatter per width class. ``off`` is the
    column's `_offsets`, when the caller has them."""
    if off is None:
        off = _offsets(codes)
    out = np.empty(int(off[-1]), dtype=np.uint8)
    for idx, dt in _buckets(codes):
        _window(out, dt)[off[idx].astype(np.intp)] = zz[idx]
    return out


def _gather_classes(vals: np.ndarray, codes: np.ndarray, off: np.ndarray | None = None) -> np.ndarray:
    """Zigzag codes by one gather per width class. ``off`` is the column's
    `_offsets`, when the caller has them."""
    if off is None:
        off = _offsets(codes)
    zz = np.empty(len(codes), dtype=np.uint64)
    for idx, dt in _buckets(codes):
        zz[idx] = _window(vals, dt)[off[idx].astype(np.intp)]
    return zz


def _emit_payload(zz: np.ndarray, codes: np.ndarray, off: np.ndarray | None = None) -> np.ndarray:
    """Little-endian payload plane of all elements: one masked lane copy
    up to `_SMALL` elements, one scatter per width class above (through
    the `_offsets` ``off`` when given). ``zz`` may be uint32 when every
    code fits 4 bytes."""
    if len(codes) <= _SMALL:
        return _emit_lanes(zz, codes)
    return _emit_classes(zz, codes, off)


def _gather_payload(data: ByteAlignedData, off: np.ndarray | None = None) -> np.ndarray:
    """Inverse of `_emit_payload`: vals + codes -> zigzag codes, by the
    same length switch (lanes up to `_SMALL` elements, width classes
    above, through the `_offsets` ``off`` when given)."""
    if data.count <= _SMALL:
        return _gather_lanes(data.vals, data.codes)
    return _gather_classes(data.vals, data.codes, off)


def _gather_at(data: ByteAlignedData, off: np.ndarray, idx: np.ndarray) -> np.ndarray:
    """Zigzag codes of the elements ``idx`` alone, through the column's
    `_offsets` ``off``: a partial decode whose cost follows ``len(idx)``,
    not the column length. Each element's 8 bytes from its offset are read
    at once and masked to its width; the plane's last 8 bytes stand in for
    offsets closer to its end, shifted down. The plane must hold at least
    8 bytes (any delta column does: element 0 is 8)."""
    at = off[idx].astype(np.intp)
    last = len(data.vals) - 8
    back = at - last
    np.maximum(back, 0, out=back)
    np.minimum(at, last, out=at)
    zz = _window(data.vals, np.dtype("<u8"))[at]
    zz >>= (back << 3).astype(np.uint64)
    zz &= _WIDTH_MASK[data.codes[idx]]
    return zz


def delta_encode(values: np.ndarray) -> ByteAlignedData:
    """Delta codec for the (sorted-ish) time column.

    Element 0: raw int64 (class 0). Element i>0: zigzag(delta) in the
    smallest class. Mirrors reference TS_DELTA_encoder.encode semantics
    (TS_DELTA_encoder.java:19-45) with a round-trip-exact width table.
    """
    v = np.asarray(values, dtype=np.int64)
    n = len(v)
    if n == 0:
        return ByteAlignedData(np.empty(0, np.uint8), np.empty(0, np.uint8), 0)
    deltas = np.empty(n, dtype=np.int64)
    deltas[0] = 0
    np.subtract(v[1:], v[:-1], out=deltas[1:])
    zz = zigzag(deltas)
    # element 0 carries the raw first value, not a delta
    zz[0] = v[0:1].view(np.uint64)[0]
    codes = _classify(zz)
    codes[0] = 0
    vals = _emit_payload(zz, codes)
    return ByteAlignedData(vals, codes, n)


def delta_decode(data: ByteAlignedData, off: np.ndarray | None = None) -> np.ndarray:
    """Decode the delta codec: the raw first value, then a running sum of
    the deltas (int64 wraps, as Java long arithmetic does). ``off`` is the
    column's `_offsets`, when the caller has them."""
    if data.count == 0:
        return np.empty(0, dtype=np.int64)
    zz = _gather_payload(data, off)
    deltas = unzigzag(zz)
    first = zz[0].view(np.int64)
    del zz
    deltas[0] = first
    return np.cumsum(deltas, out=deltas)


def varint_encode(values: np.ndarray) -> ByteAlignedData:
    """Order-independent zigzag varint codec for the value column
    (reference V_VARINT_encoder.java:16-30 semantics, clean width table)."""
    v = np.asarray(values, dtype=np.int64)
    zz = zigzag(v)
    codes = _classify(zz)
    vals = _emit_payload(zz, codes)
    return ByteAlignedData(vals, codes, len(v))


def varint_decode(data: ByteAlignedData) -> np.ndarray:
    return unzigzag(_gather_payload(data))


def permute(data: ByteAlignedData, order: np.ndarray) -> ByteAlignedData:
    """Reorder elements of an order-independent (varint) column purely in the
    byte domain: gather each element's payload slice in ``order``.

    This is the generalized form of the value-plane rotation the reference
    sorter performs (CompressedDataSorter.dataMove — byte-range rotation);
    a gather expresses any permutation, rotation included, with one pass
    per width class. Up to `_SMALL` elements the column instead goes
    through its lanes: gather, reorder the codes, emit.
    """
    codes = data.codes[order]
    if len(codes) <= _SMALL:
        zz = _gather_lanes(data.vals, data.codes).take(order)
        return ByteAlignedData(_emit_lanes(zz, codes), codes, len(codes))
    off = _offsets(codes)
    src_off = _offsets(data.codes)
    out = np.empty(int(off[-1]), dtype=np.uint8)
    for idx, dt in _buckets(codes):
        src = _window(data.vals, dt)[src_off[order[idx]].astype(np.intp)]
        _window(out, dt)[off[idx].astype(np.intp)] = src
    return ByteAlignedData(out, codes, len(codes))


def move_runs(
    data: ByteAlignedData,
    runs: np.ndarray,
    src: np.ndarray | None = None,
    heads: tuple[np.ndarray, np.ndarray] | None = None,
    off: np.ndarray | None = None,
) -> ByteAlignedData:
    """Reorder a column by whole runs of consecutive source elements.

    ``runs`` lists the output positions where a run starts, ascending and
    starting with 0; run k copies the source elements ``src[k]``,
    ``src[k] + 1``, ... up to the next run start (``src=None``: the
    identity, ``src = runs``). Each run's payload moves as one byte slice
    and each plane is assembled by one concatenation: O(n) bytes copied
    plus O(runs) slicing, against one gather per element in `permute`.
    Pays off while runs are few (a nearly sorted series).

    ``heads=(zz, codes)`` replaces the first element of run k with payload
    ``zz[k]`` in class ``codes[k]`` instead of copying it. ``off`` is the
    column's `_offsets`, when the caller has them.
    """
    n = data.count
    src = runs if src is None else src
    lens = np.diff(runs, append=n)
    stop = src + lens
    first = src if heads is None else src + 1
    c = data.codes
    codes = c.copy()
    moved = (src != runs).nonzero()[0]
    if len(moved):  # one gather for the elements of the runs that move
        lm = lens[moved]
        at = np.cumsum(lm) - lm
        dst = np.arange(at[-1] + lm[-1]) + np.repeat(runs[moved] - at, lm)
        codes[dst] = c[dst + np.repeat(src[moved] - runs[moved], lm)]
    if off is None:
        ends = _offsets_at(c, np.concatenate((first, stop))).tolist()
        byte_first, byte_stop = ends[: len(runs)], ends[len(runs):]
    else:
        byte_first, byte_stop = off[first].tolist(), off[stop].tolist()
    # memoryview slices joined into one bytearray: a fraction of the cost
    # of ndarray slices and np.concatenate per piece, and still writable
    mv = memoryview(np.ascontiguousarray(data.vals))
    pieces = [mv[a:b] for a, b in zip(byte_first, byte_stop)]
    if heads is not None:
        zz, head_codes = heads
        hv = memoryview(_emit_payload(zz, head_codes))
        ho = _offsets(head_codes).tolist()
        body = pieces
        pieces = [None] * (2 * len(body))
        pieces[0::2] = [hv[a:b] for a, b in zip(ho[:-1], ho[1:])]
        pieces[1::2] = body
        codes[runs] = head_codes
    return ByteAlignedData(np.frombuffer(bytearray().join(pieces), dtype=np.uint8), codes, n)


def delta_splice(
    data: ByteAlignedData,
    runs: np.ndarray,
    first: int,
    deltas: np.ndarray,
    src: np.ndarray | None = None,
    off: np.ndarray | None = None,
) -> ByteAlignedData:
    """`move_runs` for the delta (time) column: re-encode only each run's
    first element, whose predecessor changed.

    Run 0 starts with the raw first value ``first`` (class 0); run k > 0
    with ``deltas[k - 1]``, its first timestamp minus the one before it in
    the output, in its canonical class. Interior deltas are copied as
    stored, so with canonical input and exact seam deltas the result
    equals a fresh `delta_encode` of the reordered series. Source elements
    holding a raw value (page starts of stacked pages, a moved element 0)
    must each start a run.
    """
    d = np.empty(len(runs), dtype=np.int64)
    d[0] = 0
    d[1:] = deltas
    zz = zigzag(d)
    codes = _classify(zz)
    zz[0] = np.int64(first).view(np.uint64)
    codes[0] = 0
    return move_runs(data, runs, src, (zz, codes), off)
