"""Compressed-domain sort: the reference's signature operator, re-expressed.

The reference observes that time-series points arrive *mostly* ordered, so a
nearly-sorted compressed series can be fixed up without re-encoding it:
move the payload bytes and the 2-bit length-plane entries of the displaced
elements, and re-encode only the delta codes whose predecessor changed
(reference CompressedDataSorter.blockSort / persistentSortOpeHoldLen,
db/iotdb-core/datanode/.../compressedsort/CompressedDataSorter.java:24-176;
semantics re-derived, no code copied).

Paths, byte-identical outputs:

- `compressed_sort` — one decode of the time column, one stable
  permutation (timsort, linear on nearly sorted input). The permutation
  splits into runs of consecutive source elements; each run moves as one
  byte slice of the payload plane, and each plane is assembled by one
  concatenation (`move_runs`); the length planes move by one gather. Only
  the *seams* are re-encoded: output positions whose source predecessor
  changed (``order[i] != order[i-1] + 1``; position 0 takes the raw first
  value). Their payloads are spliced in during the same concatenation;
  every other delta code is copied as stored (`delta_splice`). The
  reference applies the same moves as one block rotation per out-of-order
  run; one permutation expresses all of them at once, so k runs cost
  O(n + k), not O(n·k). Because our delta encoder is deterministic per
  delta value, the result equals a fresh encode of the sorted arrays,
  which the oracle tests assert byte for byte. Every run costs a few
  Python-level slices, so above `ROTATION_INVERSION_THRESHOLD` descents
  per point it re-encodes instead.
- `sort_reencode` — decode → stable argsort → encode. The fallback for
  heavily shuffled input and the semantic oracle (reference flush-sort
  `CompressedTVList.convertAndSort2`, CompressedTVList.java:616-716, is
  semantically a stable sort by ts).
- `bounded_ooo_sort` and `ts_delta_sort_dc` — the reference's experimental
  alternatives, kept as baselines. `ts_delta_sort_dc` still splices one
  block rotation at a time (`_rotation_sort_range`).

Stability contract (matches the reference's TimSort-based oracle,
MemtableSortTest.java:377-389): equal timestamps keep arrival order, and the
value column is permuted in lockstep with the time column. No sorter
mutates its arguments.
"""

from __future__ import annotations

import numpy as np

from ..codecs.bytealigned import (
    ByteAlignedData,
    CLASS_WIDTH,
    _classify,
    _emit_payload,
    delta_decode,
    delta_encode,
    delta_splice,
    move_runs,
    permute,
    zigzag,
)

# how out-of-order a series may be (descents / points) before the run
# moves give way to a wholesale re-encode; mirrors the BackwardSort
# inversion-ratio idea (reference datanode/.../datastructure/
# BackwardSort.java:28, INVERSION_RATIOS_THRESHOLD = 0.004). Set from
# tools/sort_microbench.py (tools/sort_microbench.json): the run moves beat
# the re-encode on 10k-1M point pages up to about 0.7% descents per point;
# on 10k-point pages they break even at 0.7% and lose from 1%.
ROTATION_INVERSION_THRESHOLD = 0.007


def is_sorted(ts: np.ndarray) -> bool:
    return bool(np.all(ts[1:] >= ts[:-1])) if len(ts) > 1 else True


def stable_sort_order(ts: np.ndarray) -> np.ndarray:
    """Stable permutation sorting by timestamp, arrival order preserved on
    ties — the flush-sort semantic (convertAndSort2)."""
    return np.argsort(ts, kind="stable")


def _runs(order: np.ndarray) -> tuple[np.ndarray, int]:
    """Output positions where ``order`` starts a new run of consecutive
    source elements (0 first), and the number of elements that move: a
    run either keeps every element in place or moves them all."""
    n = len(order)
    runs = np.concatenate(([0], 1 + (np.diff(order) != 1).nonzero()[0]))
    lens = np.diff(runs, append=n)
    return runs, n - int(lens[order[runs] == runs].sum())


def sort_reencode(
    time_data: ByteAlignedData, value_data: ByteAlignedData
) -> tuple[ByteAlignedData, ByteAlignedData, int]:
    """Decode-sort-reencode fallback. Returns (time, value, n_moves)."""
    ts = delta_decode(time_data)
    order = stable_sort_order(ts)
    moved = _runs(order)[1]
    if moved == 0:
        return time_data, value_data, 0
    new_time = delta_encode(ts[order])
    new_value = permute(value_data, order)  # value plane: pure byte gather
    return new_time, new_value, moved


def compressed_sort(
    time_data: ByteAlignedData,
    value_data: ByteAlignedData,
    inversion_threshold: float = ROTATION_INVERSION_THRESHOLD,
) -> tuple[ByteAlignedData, ByteAlignedData, dict]:
    """Compressed-domain sort of a nearly-sorted series.

    One decode of the time column yields the stable sort permutation. Its
    runs of consecutive elements move as byte slices of both columns, with
    the canonical re-encode of the seam deltas spliced in (`delta_splice`,
    `move_runs`). Falls back to a wholesale re-encode when descents exceed
    ``inversion_threshold`` of the points (BackwardSort-style regime
    switch). The inputs are never modified; a sorted series is returned as
    is, any other as new objects.

    Returns (time, value, lineage), the per-partition sort lineage:

    - ``path``: ``noop``, ``rotate`` (run moves) or ``reencode``;
    - ``rotations``: on the rotate path, descents in the input, positions
      i with ``ts[i] < ts[i-1]`` (one per out-of-order run);
    - ``patched_codes``: on the rotate path, delta codes re-encoded, i.e.
      seams (the re-encode path rewrites every code);
    - ``moved_elements``: elements whose position changed.
    """
    ts = delta_decode(time_data)
    n = len(ts)
    lineage = {"path": "noop", "rotations": 0, "patched_codes": 0, "moved_elements": 0}
    descents = int(np.count_nonzero(ts[1:] < ts[:-1])) if n > 1 else 0
    if descents == 0:
        return time_data, value_data, lineage

    order = stable_sort_order(ts)
    runs, lineage["moved_elements"] = _runs(order)
    if descents > max(1, n * inversion_threshold):
        lineage["path"] = "reencode"
        return delta_encode(ts[order]), permute(value_data, order), lineage

    seams = len(runs) - int(order[0] == 0)  # run heads whose predecessor changed
    lineage.update(path="rotate", rotations=descents, patched_codes=seams)
    return (
        delta_splice(time_data, ts, runs, order),
        move_runs(value_data, runs, order),
        lineage,
    )


def _reencode_delta_at(data: ByteAlignedData, ts: np.ndarray, idx: int) -> None:
    """Patch element ``idx``'s delta code to ``ts[idx]-ts[idx-1]`` (or the raw
    first value when idx==0), splicing the payload plane if the width class
    changes — the reference's ``changeEncode`` (TS_DELTA_encoder.java:47-61)."""
    if idx == 0:
        zz = np.asarray(ts[0:1]).view(np.uint64)
        code = np.uint8(0)
    else:
        zz = zigzag(ts[idx : idx + 1] - ts[idx - 1 : idx])  # wraps like the encoder
        code = _classify(zz)[0]
    new_bytes = _emit_payload(zz, np.array([code], dtype=np.uint8))
    w = CLASS_WIDTH[data.codes]
    start = int(w[:idx].sum())
    old_w = int(w[idx])
    data.vals = np.concatenate([data.vals[:start], new_bytes, data.vals[start + old_w:]])
    data.codes[idx] = code


def _rotate_ranges(
    data: ByteAlignedData, p: int, mid: int, end: int
) -> None:
    """Rotate elements [p, end) so that [mid, end) comes before [p, mid),
    applied to both planes in the byte domain (reference dataMove /
    lenDataMove, CompressedDataSorter.java:119-176). Implemented as one
    gather over the affected slice only; untouched elements are not copied."""
    w = CLASS_WIDTH[data.codes]
    b_p = int(w[:p].sum())
    b_mid = b_p + int(w[p:mid].sum())
    b_end = b_mid + int(w[mid:end].sum())
    # payload plane rotation
    data.vals[b_p:b_end] = np.concatenate(
        [data.vals[b_mid:b_end], data.vals[b_p:b_mid]]
    )
    # length plane rotation
    data.codes[p:end] = np.concatenate([data.codes[mid:end], data.codes[p:mid]])


def _rotation_sort_range(
    time_data: ByteAlignedData,
    value_data: ByteAlignedData,
    ts: np.ndarray,
    lo: int,
    hi: int,
    lineage: dict,
) -> None:
    """The blockSort loop bounded to ``ts[lo:hi]``: find the first inversion
    in the range, rotate the out-of-order run into place in both planes,
    patch the three boundary deltas, repeat. Only positions in [lo, hi]
    are touched (the delta AT ``hi`` is re-patched when ``ts[hi-1]``
    changes, keeping the global stream consistent); ``ts`` is updated in
    place so callers can compose ranges (the D&C merge below)."""
    n = len(ts)
    scan_from = lo + 1
    while scan_from < hi:
        # first inversion at/after scan_from, within the range
        inv = np.flatnonzero(ts[scan_from:hi] < ts[scan_from - 1 : hi - 1])
        if len(inv) == 0:
            break
        idx = scan_from + int(inv[0])
        # insertion point: stable → equal timestamps stay before the insert
        p = lo + int(np.searchsorted(ts[lo:idx], ts[idx], side="right"))
        # moved block: maximal non-decreasing run from idx with ts < ts[p]
        j = idx
        while j + 1 < hi and ts[j + 1] >= ts[j] and ts[j + 1] < ts[p]:
            j += 1
        # rotate [p, idx) after [idx, j]
        _rotate_ranges(time_data, p, idx, j + 1)
        _rotate_ranges(value_data, p, idx, j + 1)
        ts[p : j + 1] = np.concatenate([ts[idx : j + 1], ts[p:idx]])
        m = j + 1 - idx  # moved block length
        # patch boundary deltas: entry into M (now at p), entry into D
        # (now at p+m), and the element after the rotated range
        for b in (p, p + m, j + 1):
            if b < n:
                _reencode_delta_at(time_data, ts, b)
                lineage["patched_codes"] += 1
        lineage["rotations"] += 1
        lineage["moved_elements"] += m
        scan_from = max(j, lo + 1)


def bounded_ooo_sort(
    time_data: ByteAlignedData,
    value_data: ByteAlignedData,
    l: int = 1024,
) -> tuple[ByteAlignedData, ByteAlignedData, dict]:
    """Bounded-memory order/disorder-separation sort — the reference's
    experimental memtable alternative ``disordered_uncompressing_sort(l)``
    (CompressedTVList.java:286-398; §2.1 #22 family; semantics re-derived,
    no code copied): each pass extracts at most ``l`` out-of-order points
    (a point is OOO when its timestamp is below the running max of the
    points kept in place), sorts that bounded side list, and streams it
    back into the sequence — an OOO point lands immediately before the
    first later kept point that exceeds it, ties keeping the kept point
    first (which equals stable order, since an equal kept point always
    precedes its OOO twin in arrival order). A pass that extracts fewer
    than ``l`` points leaves the sequence sorted and ends the loop.

    The memtable story: the side list is the only O(l) working set per
    pass, so a nearly-sorted series sorts with bounded extra memory no
    matter its length. Vectorized deviation from the reference's streaming
    merge: insertion positions come from one ``searchsorted`` against the
    running max of the kept stream — the same positions the stream walk
    produces, without the per-point loop.

    Returns (time, value, lineage); byte-identity contract as above."""
    ts = delta_decode(time_data)
    n = len(ts)
    lineage = {"path": "bounded_ooo", "passes": 0, "extracted": 0}
    if n < 2 or is_sorted(ts):
        lineage["path"] = "noop"
        return time_data, value_data, lineage
    work = ts.copy()
    idx = np.arange(n, dtype=np.int64)
    while True:
        prevmax = np.maximum.accumulate(work)
        ooo = 1 + np.flatnonzero(work[1:] < prevmax[:-1])
        if len(ooo) == 0:
            break
        take = ooo[:l]
        lineage["passes"] += 1
        lineage["extracted"] += len(take)
        keep = np.ones(n, dtype=bool)
        keep[take] = False
        rest, rest_idx = work[keep], idx[keep]
        sub = np.argsort(work[take], kind="stable")
        block, block_idx = work[take][sub], idx[take][sub]
        # first kept point exceeding x == first index where the kept
        # stream's running max exceeds x (non-decreasing → searchsorted)
        pos = np.searchsorted(np.maximum.accumulate(rest), block, side="right")
        work = np.insert(rest, pos, block)
        idx = np.insert(rest_idx, pos, block_idx)
        if len(ooo) < l:
            break
        if lineage["passes"] > n:  # defensive: finish with one stable sort
            fix = np.argsort(work, kind="stable")
            work, idx = work[fix], idx[fix]
            lineage["path"] = "bounded_ooo+fallback"
            break
    order = idx
    new_time = delta_encode(ts[order])
    new_value = permute(value_data, order)
    return new_time, new_value, lineage


# base-case size for the divide-and-conquer sorter; reference
# TS_DELTA_sorter.java:31 blockThreshold = 300
DC_BLOCK_THRESHOLD = 300


def ts_delta_sort_dc(
    time_data: ByteAlignedData,
    value_data: ByteAlignedData,
    block_threshold: int = DC_BLOCK_THRESHOLD,
) -> tuple[ByteAlignedData, ByteAlignedData, dict]:
    """Divide-and-conquer compressed-domain sort — the reference's
    ``TS_DELTA_sorter.sort2`` (TS_DELTA_sorter.java:31-129: recursive split
    at an inversion point near the middle, sort halves, patch the one
    boundary delta, then a bounded blockSort pass merges the overlap;
    ``blockThreshold=300`` base case; semantics re-derived, no code copied).

    Where ``compressed_sort``'s flat loop pays one long-distance rotation
    per out-of-order run, the recursion keeps every rotation local to its
    half until the final merges, which only walk the overlap between two
    already-sorted runs — the same bounded-blockSort-as-merge the reference
    uses. Deviation from the reference's ``findMidIndexWithPosAndValue``:
    the split point is the first inversion at/after the midpoint (falling
    back to the midpoint when the crossing is inversion-free) rather than
    the second-block minimum — a constant-factor heuristic; outputs are
    byte-identical either way because every patch re-encodes canonically.

    Returns (time, value, lineage) with the same byte-identity contract as
    ``compressed_sort``: the result equals a fresh canonical encode of the
    stable-sorted series. The rotations work on copies of the inputs."""
    ts = delta_decode(time_data)
    n = len(ts)
    lineage = {
        "path": "dc", "splits": 0, "rotations": 0,
        "patched_codes": 0, "moved_elements": 0,
    }
    if n < 2 or is_sorted(ts):
        lineage["path"] = "noop"
        return time_data, value_data, lineage
    time_data = ByteAlignedData(time_data.vals.copy(), time_data.codes.copy(), n)
    value_data = ByteAlignedData(value_data.vals.copy(), value_data.codes.copy(), n)

    def rec(lo: int, hi: int) -> None:
        if hi - lo <= block_threshold:
            _rotation_sort_range(time_data, value_data, ts, lo, hi, lineage)
            return
        midpoint = lo + (hi - lo) // 2
        inv = np.flatnonzero(ts[midpoint:hi] < ts[midpoint - 1 : hi - 1])
        mid = midpoint + int(inv[0]) if len(inv) else midpoint
        if mid >= hi:  # inversion-free tail: split at the midpoint
            mid = midpoint
        lineage["splits"] += 1
        rec(lo, mid)
        rec(mid, hi)
        # merge: both halves sorted → the bounded loop only walks the
        # overlap (right-run elements >= left max are never visited)
        _rotation_sort_range(time_data, value_data, ts, lo, hi, lineage)

    rec(0, n)
    return time_data, value_data, lineage
