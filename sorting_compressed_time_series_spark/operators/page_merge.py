"""Compaction page merge: combine per-series chunk blobs across flushes.

Re-expresses the reference's compaction-time compressed merge
(PersistUncompressingSorter, reference db/iotdb-core/tsfile/.../encoding/
sorter/PersistUncompressingSorter.java:42-206 — semantics only, no code):

The pages' planes are stacked back to back and decoded in one pass: one
payload gather over the stacked plane, then a cumulative sum segmented at
the page starts (each page's first element is a raw value, not a delta).

- **Non-overlapping pages** (the common case once series are sorted): the
  merged stream is the stacked planes with ONE patched delta per page
  boundary — the first element of each later page stops being a raw value
  and becomes a delta against the previous page's last timestamp
  (reference sortPage fast path, :96-102). All seams are re-encoded in
  one `delta_splice` call, the seam splice `compressed_sort` uses; page
  interiors are copied as stored. A stack of at most `_SMALL` points (the
  reference's compaction pages hold 10) skips the run slicing: the seam
  deltas are written into the zigzag codes and classes the decode already
  holds, and the column is emitted once through the lane codec. Interior
  codes keep their stored class, so the bytes equal `delta_splice`'s.
- **Overlapping pages**: k-way stable merge. The reference splices byte
  ranges across page boundaries; we merge-order with a stable argsort
  keyed (ts, page_order), re-encode the time column and gather the value
  column's bytes in that order — identical output (the canonical encode of
  the merged sequence), which the oracle asserts.

In the Spark pipeline this kernel runs per series inside `applyInPandas`
during tier compaction; page order = flush order, so stability gives
last-writer-wins determinism for duplicate timestamps.
"""

from __future__ import annotations

import numpy as np

from ..codecs.bytealigned import (
    _SMALL,
    ByteAlignedData,
    _classify,
    _emit_payload,
    _gather_payload,
    delta_encode,
    delta_splice,
    permute,
    unzigzag,
    zigzag,
)


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
    """`delta_splice` of the page starts for a short stack: patch the seam
    deltas into the decoded codes ``zz`` and the classes ``t.codes`` (both
    owned by this merge) and emit the column once."""
    seams = starts[1:]
    d = zigzag(ts[seams] - ts[seams - 1])
    zz[seams] = d
    t.codes[seams] = _classify(d)
    t.codes[0] = 0  # element 0 keeps the raw first value
    return ByteAlignedData(_emit_payload(zz, t.codes), t.codes, t.count)


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

    counts = np.array([p.count for p in pages], dtype=np.intp)
    starts = np.cumsum(counts) - counts
    t = _stack(pages)
    zz, ts = _decode_pages(t, starts, counts)
    if np.all(ts[starts[1:] - 1] <= ts[starts[1:]]):
        # compressed-domain concat: one re-encoded delta per page boundary
        lineage.update(path="splice", spliced_boundaries=len(pages) - 1)
        if t.count <= _SMALL:
            return _splice_small(t, zz, ts, starts), _stack(vpages), lineage
        seams = starts[1:]
        return (delta_splice(t, starts, ts[0], ts[seams] - ts[seams - 1]),
                _stack(vpages), lineage)

    # overlap: stable k-way merge (page order breaks ties = flush order)
    lineage["path"] = "kmerge"
    order = np.argsort(ts, kind="stable")
    return delta_encode(ts[order]), permute(_stack(vpages), order), lineage
