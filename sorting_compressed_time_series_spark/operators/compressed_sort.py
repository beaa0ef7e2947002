"""Compressed-domain sort: the reference's signature operator, re-expressed.

The reference observes that time-series points arrive *mostly* ordered, so a
nearly-sorted compressed series can be fixed up without re-encoding it:
move the payload bytes and the 2-bit length-plane entries of the displaced
elements, and re-encode only the delta codes whose predecessor changed
(reference CompressedDataSorter.blockSort / persistentSortOpeHoldLen,
db/iotdb-core/datanode/.../compressedsort/CompressedDataSorter.java:24-176;
semantics re-derived, no code copied).

Paths, byte-identical outputs:

- `compressed_sort` — reads only what it moves. Descents come from the
  sign bit of each stored delta (a zigzag code is odd exactly when its
  delta is negative): the time plane's offsets and one byte gather, no
  decode; a sorted series returns there. Each descent opens a window that
  grows until the elements on both sides bound it; only the windows are
  decoded, relative to the element before each, and each is stable-sorted
  on its own, which equals the global stable sort. The windows' sorted
  order splits into runs of consecutive source elements; each run moves as
  one byte slice of both planes, each plane assembled by one concatenation
  (`move_runs`). Only the *seams* are re-encoded: output positions whose
  source predecessor changed (position 0 takes the raw first value), with
  deltas taken from the window values and spliced in during the same
  concatenation; every other delta code is copied as stored
  (`delta_splice`). The reference applies the same moves as one block
  rotation per out-of-order run; one pass expresses all of them, so k runs
  cost O(n + k), not O(n·k). Because our delta encoder is deterministic per
  delta value, the result equals a fresh encode of the sorted arrays, which
  the oracle tests assert byte for byte. A series whose running values
  could leave int64 (the signs would lie) is decoded whole and sorted as
  one window. Every run costs a few Python-level slices, so above
  `ROTATION_INVERSION_THRESHOLD` descents per point it re-encodes instead.
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
    _U32_MAX,
    ByteAlignedData,
    CLASS_WIDTH,
    _classify,
    _emit_payload,
    _gather_at,
    _offsets,
    delta_decode,
    delta_encode,
    delta_splice,
    move_runs,
    permute,
    unzigzag,
    zigzag,
)

# how out-of-order a series may be (descents / points) before the run
# moves give way to a wholesale re-encode; mirrors the BackwardSort
# inversion-ratio idea (reference datanode/.../datastructure/
# BackwardSort.java:28, INVERSION_RATIOS_THRESHOLD = 0.004). Set from
# tools/sort_microbench.py (tools/sort_microbench.json): the run moves beat
# the re-encode on 10k-1M point pages up to about 0.7% descents per point;
# on 10k-point pages they break even at 0.7% and lose from 1%. Re-measured
# once only the disorder windows were decoded: the crossover held.
ROTATION_INVERSION_THRESHOLD = 0.007
# descent i opens the window [i - WINDOW_RADIUS, i] of `compressed_sort`.
# The corpus displaces points up to 40 steps back (seriesize.OOO_MAX_DISP),
# so one decode round closes nearly every window; on tools/sort_microbench
# pages 48 beat 32 (a second round for the far points) and 64 (more decode)
WINDOW_RADIUS = 48
# a window side its neighbour does not bound grows by WINDOW_GROWTH - 1
# times the window's length, so a point displaced d positions takes
# O(log d) rounds
WINDOW_GROWTH = 4


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
    if n == 0:
        return order, 0
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


def _signs_give_order(time_data: ByteAlignedData, off: np.ndarray) -> tuple[bool, int]:
    """Whether each stored delta's sign is the order of its two timestamps,
    and how many 8-byte deltas were read to decide.

    True while no running value can leave int64: |first value| plus, per
    delta, the largest magnitude of its width class (2^7, 2^15, 2^31; the
    8-byte deltas' exact magnitudes) stays below 2^63. Then every prefix
    sum is exact and ``ts[i] - ts[i-1]`` is the stored delta itself. One
    unit per element is kept spare: `compressed_sort` stacks its windows'
    value ranges, one apart, into one sort key."""
    codes = time_data.codes[1:]
    bound = abs(int(time_data.vals[:8].view("<i8")[0]))
    for code, cap in ((1, 2**7), (2, 2**15), (3, 2**31)):
        bound += cap * int(np.count_nonzero(codes == code))
    wide = 1 + (codes == 0).nonzero()[0]
    if len(wide):
        zz = _gather_at(time_data, off, wide)
        mag = (zz >> np.uint64(1)) + (zz & np.uint64(1))  # |unzigzag(zz)|, exact
        bound += (int((mag >> np.uint64(32)).sum()) << 32) + int((mag & _U32_MAX).sum())
    return bound + time_data.count < 2**63, len(wide)


def _window_values(
    time_data: ByteAlignedData, off: np.ndarray, lo: np.ndarray, hi: np.ndarray,
    rel: np.ndarray,
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Decode the elements ``lo_k .. hi_k`` of every window k (sorted,
    disjoint) relative to element ``lo_k - 1``, or absolute when
    ``lo_k == 0``, into ``rel`` at their positions. A window that ends the
    series repeats its last element in the ``hi_k`` slot. Returns each
    window's minimum and maximum, the value of its ``hi_k`` slot, and the
    elements decoded."""
    n = time_data.count
    lens = hi - lo + 1
    slot = np.cumsum(lens) - 1  # each window's element hi_k
    starts = slot + 1 - lens
    pos = np.arange(slot[-1] + 1) + np.repeat(lo - starts, lens)
    pos[-1] = min(pos[-1], n - 1)
    zz = _gather_at(time_data, off, pos)
    d = unzigzag(zz)
    if lo[0] == 0:  # element 0 carries the raw first value
        d[0] = zz[0].view(np.int64)
    if hi[-1] == n:  # the slot repeats element n - 1
        d[-1] = 0
    c = np.cumsum(d)  # int64 math wraps, as in `delta_decode`
    c -= np.repeat(c[starts] - d[starts], lens)
    rel[pos] = c
    edges = np.empty(2 * len(lo), dtype=slot.dtype)
    edges[0::2], edges[1::2] = starts, slot
    return (np.minimum.reduceat(c, edges)[0::2], np.maximum.reduceat(c, edges)[0::2],
            c[slot], len(c))


def _merge_windows(
    lo: np.ndarray, hi: np.ndarray, closed: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """One window per run of windows ``[lo, hi)`` that overlap or touch,
    sorted. A merged window is closed only if it is one closed window."""
    o = np.argsort(lo, kind="stable")
    lo, reach = lo[o], np.maximum.accumulate(hi[o])
    head = np.ones(len(lo), dtype=bool)
    np.greater(lo[1:], reach[:-1], out=head[1:])
    first = head.nonzero()[0]
    last = np.concatenate((first[1:], [len(lo)])) - 1
    return lo[first], reach[last], closed[o[first]] & (first == last)


def _close_windows(
    time_data: ByteAlignedData, off: np.ndarray, descents: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray, int]:
    """Closed windows covering every descent, from partial decodes only.

    Descent i opens ``[i - WINDOW_RADIUS, i]``; windows that overlap or
    touch merge. A window ``[lo, hi)`` is closed when the element before
    it is <= its minimum and the element after it >= its maximum; each
    round decodes the open windows with one element on each side
    (`_window_values`) and grows every failing side by ``WINDOW_GROWTH -
    1`` times the window's length, at worst to the whole series. Returns
    (lo, hi, rel, decoded): ``rel[lo_k:hi_k + 1]`` holds window k's values
    and then element hi_k's (when hi_k < n), relative to element
    ``lo_k - 1`` (absolute when ``lo_k == 0``), and ``decoded`` counts the
    elements decoded over all rounds. Element hi_k is in no window, so
    no other window's decode overwrites it."""
    n = time_data.count
    lo, hi, closed = _merge_windows(
        np.maximum(descents - WINDOW_RADIUS, 0), descents + 1,
        np.zeros(len(descents), dtype=bool))
    rel = np.empty(n, dtype=np.int64)
    decoded = 0
    while True:
        op = (~closed).nonzero()[0]
        olo, ohi = lo[op], hi[op]
        low, high, after, k = _window_values(time_data, off, olo, ohi, rel)
        decoded += k
        left = (olo == 0) | (low >= 0)
        right = (ohi == n) | (after >= high)
        closed[op] = left & right
        if closed.all():
            return lo, hi, rel, decoded
        grow = (ohi - olo) * (WINDOW_GROWTH - 1)
        lo[op] = np.where(left, olo, np.maximum(olo - grow, 0))
        hi[op] = np.where(right, ohi, np.minimum(ohi + grow, n))
        lo, hi, closed = _merge_windows(lo, hi, closed)


def compressed_sort(
    time_data: ByteAlignedData,
    value_data: ByteAlignedData,
    inversion_threshold: float = ROTATION_INVERSION_THRESHOLD,
) -> tuple[ByteAlignedData, ByteAlignedData, dict]:
    """Compressed-domain sort of a nearly-sorted series.

    Descents come from the sign bit of each stored delta: a zigzag code is
    odd exactly when its delta is negative, so counting them takes the
    time plane's offsets and one byte gather, no decode (`_signs_give_order`
    says when the sign is the order). Each descent opens a window that
    grows until the elements on both sides bound it (`_close_windows`);
    only the windows are decoded, relative to the element before each.
    With closed windows and no descent outside them, stable-sorting each
    window on its own equals the global stable sort: every element left
    of a window is <= the one just before it, which is <= the window's
    minimum, symmetrically on the right, and ties never cross a window
    edge out of arrival order. Every other element keeps its place.

    The sorted windows become runs of consecutive source elements; each
    run moves as one byte slice of both columns, with the canonical
    re-encode of the seam deltas (computed from the window values) spliced
    in (`delta_splice`, `move_runs`). When the signs cannot be trusted the
    whole series is decoded once and sorted as one window. Falls back to a
    wholesale re-encode when descents exceed ``inversion_threshold`` of the
    points (BackwardSort-style regime switch). The inputs are never
    modified; a sorted series is returned as is, any other as new objects.

    Returns (time, value, lineage), the per-partition sort lineage:

    - ``path``: ``noop``, ``rotate`` (run moves) or ``reencode``;
    - ``rotations``: on the rotate path, descents in the input, positions
      i with ``ts[i] < ts[i-1]`` (one per out-of-order run);
    - ``patched_codes``: on the rotate path, delta codes re-encoded, i.e.
      seams (the re-encode path rewrites every code);
    - ``moved_elements``: elements whose position changed;
    - ``decoded_elements``: time elements decoded, over every window round
      and the 8-byte deltas read by the sign check (the whole column on the
      re-encode path or when the signs cannot be trusted).
    """
    n = time_data.count
    lineage = {"path": "noop", "rotations": 0, "patched_codes": 0,
               "moved_elements": 0, "decoded_elements": 0}
    if n < 2:
        return time_data, value_data, lineage
    off = _offsets(time_data.codes)
    trusted, lineage["decoded_elements"] = _signs_give_order(time_data, off)
    if trusted:
        ts = None
        odd = np.take(time_data.vals, off[1:n]) & 1  # zigzag code odd: delta < 0
        descents = 1 + odd.view(bool).nonzero()[0]
    else:
        ts = delta_decode(time_data, off=off)
        lineage["decoded_elements"] = n
        descents = 1 + (ts[1:] < ts[:-1]).nonzero()[0]
    if len(descents) == 0:
        return time_data, value_data, lineage

    if len(descents) > max(1, n * inversion_threshold):
        if ts is None:
            ts = delta_decode(time_data, off=off)
        order = stable_sort_order(ts)
        lineage.update(path="reencode", moved_elements=_runs(order)[1], decoded_elements=n)
        return delta_encode(ts[order]), permute(value_data, order), lineage

    if ts is None:
        lo, hi, rel, decoded = _close_windows(time_data, off, descents)
        lineage["decoded_elements"] += decoded
    else:  # one window: the whole series, decoded from element 0
        lo, hi, rel = np.array([0]), np.array([n]), ts
    # each window's elements and then its element hi (when hi < n), back
    # to back; the stable sort keeps element hi last, as it is >= the window
    lens = hi - lo + (hi < n)
    starts = np.cumsum(lens) - lens
    pos = np.arange(int(lens.sum())) + np.repeat(lo - starts, lens)
    vals = rel[pos]
    key = vals
    if ts is None:  # stack the windows' value ranges so one sort keeps them apart
        lo_v, hi_v = np.minimum.reduceat(vals, starts), np.maximum.reduceat(vals, starts)
        span = hi_v - lo_v + 1
        key = vals + np.repeat(np.cumsum(span) - span - lo_v, lens)
    o = np.argsort(key, kind="stable")
    src, vals = pos[o], vals[o]
    # output position p starts a run when its source does not follow the
    # source before it; a window's first position has an unmoved element
    # before it (value 0 on the window's base)
    head = np.empty(len(pos), dtype=bool)
    np.not_equal(src[1:], src[:-1] + 1, out=head[1:])
    head[starts] = src[starts] != lo
    seam = np.empty(len(pos), dtype=np.int64)
    np.subtract(vals[1:], vals[:-1], out=seam[1:])
    seam[starts] = vals[starts]
    if lo[0] == 0:  # position 0 heads run 0 and takes its absolute value
        head[0] = True
        runs, run_src, first, deltas = pos[head], src[head], vals[0], seam[head][1:]
    else:
        runs = np.concatenate(([0], pos[head]))
        run_src = np.concatenate(([0], src[head]))
        first, deltas = time_data.vals[:8].view("<i8")[0], seam[head]
    lineage.update(
        path="rotate", rotations=len(descents),
        patched_codes=len(runs) - int(run_src[0] == 0),
        moved_elements=int(np.count_nonzero(src != pos)),
    )
    return (
        delta_splice(time_data, runs, first, deltas, run_src, off),
        move_runs(value_data, runs, run_src),
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
