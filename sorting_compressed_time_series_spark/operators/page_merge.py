"""Compaction page merge: combine per-series chunk blobs across flushes.

Re-expresses the reference's compaction-time compressed merge
(PersistUncompressingSorter, reference db/iotdb-core/tsfile/.../encoding/
sorter/PersistUncompressingSorter.java:42-206 — semantics only, no code):

Two kernels, picked by stack length alone (`_SHORT`), give byte-identical
planes and equal lineage:

- **numpy** (`_merge_stacked`, longer stacks): the pages' planes are
  stacked back to back and decoded in one pass: one payload gather over
  the stacked plane, then a cumulative sum segmented at the page starts
  (each page's first element is a raw value, not a delta).
- **Python ints** (`_merge_short`, at most `_SHORT` points; the
  reference's compaction pages hold 10): one ``struct.unpack`` reads a
  whole plane (`unpack_plane`) and one ``struct.pack`` writes one
  (`pack_plane`). A merge that small spends nearly all its numpy time on
  the fixed cost of ~30 calls, against well under a microsecond per point
  in the Python loops. int64 wrap-around is reproduced where a timestamp
  or a delta can leave the int64 range.

Both take the same two paths:

- **Non-overlapping pages** (the common case once series are sorted): the
  merged stream is the stacked planes with ONE patched delta per page
  boundary — the first element of each later page stops being a raw value
  and becomes a delta against the previous page's last timestamp
  (reference sortPage fast path, :96-102). Page interiors are copied as
  stored. The numpy kernel re-encodes all seams in one `delta_splice`
  call, the seam splice `compressed_sort` uses; up to `_SMALL` points it
  writes the seam deltas into the zigzag codes and classes the decode
  already holds and emits the column once through the lane codec. The
  short kernel packs each seam delta and joins it with the pages' stored
  bytes; the value pages are joined with no decode at all.
- **Overlapping pages**: k-way stable merge. The reference splices byte
  ranges across page boundaries; we merge-order with a stable sort keyed
  (ts, page_order), re-encode the time column and reorder the value
  column's codes in that order — identical output (the canonical encode
  of the merged sequence), which the oracle asserts.

Compaction does not run it: `compaction.compact_kernel` merges a batch of
series with one batched decode and the one series encoder. It serves the
`compaction_merge` query, the `ooo_sort` benchmark and
`tools/sort_microbench.py`, and it is the tests' per-series reference for
compaction; page order = flush order, so stability gives last-writer-wins
determinism for duplicate timestamps.
"""

from __future__ import annotations

import struct
from itertools import accumulate
from operator import add, itemgetter, sub

import numpy as np

from ..codecs.bytealigned import (
    _BITS_CLASS,
    _CLASS_FORMAT,
    _SMALL,
    CLASS_WIDTH,
    ByteAlignedData,
    _classify,
    _emit_payload,
    _gather_payload,
    delta_encode,
    delta_splice,
    pack_plane,
    permute,
    unpack_plane,
    unzigzag,
    zigzag,
)

# longest stack merged on Python ints (`_merge_short`); longer stacks take
# the numpy kernels (`_merge_stacked`). The crossover of the two measured
# by tools/sort_microbench.py (merge section, tools/sort_microbench.json)
_SHORT = 200
_I64 = 2**63
_U64 = 2**64 - 1
_WIDTH = tuple(CLASS_WIDTH.tolist())
# class code -> packer of one payload
_PACK = tuple(struct.Struct(b"<" + bytes([c]).translate(_CLASS_FORMAT)).pack for c in range(4))
_U8 = np.dtype(np.uint8)


def _stack(parts: list[ByteAlignedData]) -> ByteAlignedData:
    vals = np.concatenate([p.vals for p in parts])
    codes = np.concatenate([p.codes for p in parts])
    return ByteAlignedData(vals, codes, len(codes))


def _decode_pages(
    stacked: ByteAlignedData, starts: np.ndarray, counts: np.ndarray
) -> tuple[np.ndarray, np.ndarray]:
    """Decode delta pages stored back to back: one payload gather, then a
    cumulative sum restarted at every page start (int64 math wraps, as in
    `delta_decode`). Returns (zigzag codes as stored, timestamps)."""
    zz = _gather_payload(stacked)
    firsts = zz[starts].view(np.int64)
    d = unzigzag(zz)
    d[starts] = firsts
    c = np.cumsum(d)
    c -= np.repeat(c[starts] - firsts, counts)
    return zz, c


def _splice_small(t: ByteAlignedData, zz: np.ndarray, ts: np.ndarray,
                  starts: np.ndarray) -> ByteAlignedData:
    """`delta_splice` of the page starts for a stack of at most `_SMALL`
    points: patch the seam deltas into the decoded codes ``zz`` and the
    classes ``t.codes`` (both owned by this merge) and emit the column
    once."""
    seams = starts[1:]
    d = zigzag(ts[seams] - ts[seams - 1])
    zz[seams] = d
    t.codes[seams] = _classify(d)
    t.codes[0] = 0  # element 0 keeps the raw first value
    return ByteAlignedData(_emit_payload(zz, t.codes), t.codes, t.count)


def _wrap(x: list[int], lo: int, hi: int) -> list[int]:
    """``x`` as int64, wrapped as numpy's int64 math wraps, given bounds
    ``lo <= min(x)`` and ``max(x) <= hi``: a copy only when they leave
    the int64 range."""
    if lo >= -_I64 and hi < _I64:
        return x
    return [((v + _I64) & _U64) - _I64 for v in x]


def _zigzag(x: list[int]) -> list[int]:
    return [(v << 1) ^ (v >> 63) for v in x]


def _u8(buf) -> np.ndarray:
    """A fresh, writable uint8 array of the bytes ``buf``."""
    return np.frombuffer(bytearray(buf), _U8)


def _merge_short(pages: list[ByteAlignedData], vpages: list[ByteAlignedData]):
    """`_merge_stacked` on Python ints, for stacks of at most `_SHORT`
    points: one ``struct`` call per plane and direction instead of ~30
    numpy calls. Byte-identical output; returns (time, value, path)."""
    counts = [p.count for p in pages]
    n = sum(counts)
    tcodes = b"".join([p.codes for p in pages])
    zz = unpack_plane(b"".join([p.vals for p in pages]), tcodes)
    d = [(z >> 1) ^ -(z & 1) for z in zz]  # unzigzag
    starts = [0, *accumulate(counts[:-1])]
    ts = []
    for s, k in zip(starts, counts):
        z = zz[s]  # the page's raw first value, as int64
        d[s] = z - (z >> 63 << 64)
        ts += accumulate(d[s:s + k])
    ts = _wrap(ts, min(ts), max(ts))
    seams = starts[1:]
    if all(ts[s - 1] <= ts[s] for s in seams):
        # one delta per seam, packed in its class; everything else as stored
        deltas = [ts[s] - ts[s - 1] for s in seams]
        heads = [zz[0], *_zigzag(_wrap(deltas, 0, max(deltas)))]
        codes = bytearray(tcodes)
        pieces = []
        for s, p, z in zip(starts, pages, heads):
            c = _BITS_CLASS[z.bit_length()] if s else 0
            pieces += (_PACK[c](z), memoryview(p.vals)[_WIDTH[codes[s]]:])
            codes[s] = c
        t = ByteAlignedData(_u8(b"".join(pieces)), np.frombuffer(codes, _U8), n)
        v = ByteAlignedData(_u8(b"".join([p.vals for p in vpages])),
                            _u8(b"".join([p.codes for p in vpages])), n)
        return t, v, "splice"

    # overlap: stable sort, so ties keep page order (= flush order)
    take = itemgetter(*sorted(range(n), key=ts.__getitem__))
    ts = take(ts)
    deltas = list(map(sub, ts[1:], ts))
    if ts[-1] - ts[0] < _I64:  # every delta fits: its zigzag code is 2 * delta
        tz = list(map(add, deltas, deltas))
    else:
        tz = _zigzag(_wrap(deltas, 0, ts[-1] - ts[0]))
    codes = b"\0" + bytes(map(int.bit_length, tz)).translate(_BITS_CLASS)
    t = ByteAlignedData(_u8(pack_plane((ts[0] & _U64, *tz), codes)), _u8(codes), n)
    vcodes = b"".join([p.codes for p in vpages])
    vz = take(unpack_plane(b"".join([p.vals for p in vpages]), vcodes))
    vcodes = bytes(take(vcodes))
    return t, ByteAlignedData(_u8(pack_plane(vz, vcodes)), _u8(vcodes), n), "kmerge"


def _merge_stacked(pages: list[ByteAlignedData], vpages: list[ByteAlignedData]):
    """Merge two or more non-empty pages with whole-array numpy kernels:
    one stacked decode, then a seam splice or a stable k-way merge.
    Returns (time, value, path)."""
    counts = np.array([p.count for p in pages], dtype=np.intp)
    starts = np.cumsum(counts) - counts
    t = _stack(pages)
    zz, ts = _decode_pages(t, starts, counts)
    if np.all(ts[starts[1:] - 1] <= ts[starts[1:]]):
        # compressed-domain concat: one re-encoded delta per page boundary
        if t.count <= _SMALL:
            return _splice_small(t, zz, ts, starts), _stack(vpages), "splice"
        seams = starts[1:]
        return (delta_splice(t, starts, ts[0], ts[seams] - ts[seams - 1]),
                _stack(vpages), "splice")

    # overlap: stable k-way merge (page order breaks ties = flush order)
    order = np.argsort(ts, kind="stable")
    return delta_encode(ts[order]), permute(_stack(vpages), order), "kmerge"


def merge_pages(
    time_pages: list[ByteAlignedData],
    value_pages: list[ByteAlignedData],
) -> tuple[ByteAlignedData, ByteAlignedData, dict]:
    """Merge sorted pages of one series. Returns (time, value, lineage)."""
    pages = [p for p in time_pages if p.count > 0]
    vpages = [v for t, v in zip(time_pages, value_pages) if t.count > 0]
    lineage = {"path": "empty", "pages": len(pages), "spliced_boundaries": 0}
    if not pages:
        return (
            ByteAlignedData(np.empty(0, np.uint8), np.empty(0, np.uint8), 0),
            ByteAlignedData(np.empty(0, np.uint8), np.empty(0, np.uint8), 0),
            lineage,
        )
    if len(pages) == 1:
        lineage["path"] = "single"
        return pages[0], vpages[0], lineage

    short = sum(p.count for p in pages) <= _SHORT
    t, v, lineage["path"] = (_merge_short if short else _merge_stacked)(pages, vpages)
    if lineage["path"] == "splice":
        lineage["spliced_boundaries"] = len(pages) - 1
    return t, v, lineage
