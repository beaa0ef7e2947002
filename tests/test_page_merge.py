"""Compaction page-merge oracle, re-expressing CompactionSorterTest.testCorrect
(reference tsfile/.../sorter/CompactionSorterTest.java:30-90): build
overlapping sorted pages, merge, decoded result must equal the sorted union
of all pages with time/value lockstep; non-overlapping pairs take the
splice fast path and must be byte-identical to a canonical re-encode."""

import numpy as np
import pytest

from sorting_compressed_time_series_spark.codecs.bytealigned import (
    _SMALL,
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from sorting_compressed_time_series_spark.operators.page_merge import _SHORT, merge_pages


def _mk_pages(ts_pages, vs_pages):
    return (
        [delta_encode(np.asarray(t, dtype=np.int64)) for t in ts_pages],
        [varint_encode(np.asarray(v, dtype=np.int64)) for v in vs_pages],
    )


def _check(ts_pages, vs_pages, expect_path=None):
    tp, vp = _mk_pages(ts_pages, vs_pages)
    mt, mv, lineage = merge_pages(tp, vp)
    all_ts = np.concatenate([np.asarray(t, dtype=np.int64) for t in ts_pages] or [np.empty(0, np.int64)])
    all_vs = np.concatenate([np.asarray(v, dtype=np.int64) for v in vs_pages] or [np.empty(0, np.int64)])
    order = np.argsort(all_ts, kind="stable")
    assert np.array_equal(delta_decode(mt), all_ts[order])
    assert np.array_equal(varint_decode(mv), all_vs[order])
    # merged time plane must equal the canonical encode of the merged series
    canon = delta_encode(all_ts[order])
    assert mt.vals.tobytes() == canon.vals.tobytes()
    assert np.array_equal(mt.codes, canon.codes)
    if expect_path:
        assert lineage["path"] == expect_path
    return lineage


def test_empty():
    mt, mv, lineage = merge_pages([], [])
    assert mt.count == 0 and lineage["path"] == "empty"


def test_single_page():
    _check([[1, 2, 3]], [[7, 8, 9]], "single")


def test_disjoint_pages_splice():
    lineage = _check(
        [[0, 10, 20], [30, 40, 50], [60, 70]],
        [[1, 2, 3], [4, 5, 6], [7, 8]],
        "splice",
    )
    assert lineage["spliced_boundaries"] == 2


def test_disjoint_pages_splice_many_seams():
    # five seams: duplicate boundary timestamps, a 1 -> 8 byte delta at a
    # seam, and one-element pages whose every element is a seam
    lineage = _check(
        [[0, 1, 2], [2, 3], [3 + 2**40], [2**41, 2**41 + 1], [2**41 + 1], [2**62, 2**62 + 7]],
        [[1, 2, 3], [4, 5], [6], [7, 8], [9], [10, 11]],
        "splice",
    )
    assert lineage["spliced_boundaries"] == 5


def test_touching_pages_equal_boundary():
    # max of page k == min of page k+1: still no inversion, splice path
    _check([[0, 10], [10, 20]], [[1, 2], [3, 4]], "splice")


def test_overlapping_pages_kmerge():
    # reference regime: PAGE_SIZE=10 sliding overlapping pairs
    rng = np.random.default_rng(42)
    base = np.sort(rng.integers(0, 10**6, size=20).astype(np.int64))
    p1, p2 = base[::2], base[1::2]
    _check([p1, p2], [np.arange(10), np.arange(10, 20)], "kmerge")


def test_overlap_sweep():
    rng = np.random.default_rng(7)
    for rep in range(50):
        n1, n2 = rng.integers(1, 30, size=2)
        p1 = np.sort(rng.integers(-(10**4), 10**4, size=n1).astype(np.int64))
        p2 = np.sort(rng.integers(-(10**4), 10**4, size=n2).astype(np.int64))
        _check([p1, p2], [np.arange(n1), np.arange(100, 100 + n2)])


def test_duplicate_ts_across_pages_last_page_wins_order():
    # stability: page order preserved for equal timestamps
    tp, vp = _mk_pages([[5, 10], [10, 15]], [[1, 2], [3, 4]])
    mt, mv, _ = merge_pages(tp, vp)
    assert list(delta_decode(mt)) == [5, 10, 10, 15]
    assert list(varint_decode(mv)) == [1, 2, 3, 4]


def test_many_pages_mixed():
    rng = np.random.default_rng(13)
    start = 0
    ts_pages, vs_pages = [], []
    for k in range(20):
        n = int(rng.integers(5, 50))
        ts = start + np.cumsum(rng.integers(1, 10, size=n)).astype(np.int64)
        start = int(ts[-1]) + (int(rng.integers(0, 3)) - 1)  # sometimes overlap
        ts_pages.append(ts)
        vs_pages.append(rng.integers(-(10**4), 10**4, size=n).astype(np.int64))
    _check(ts_pages, vs_pages)


def _series(n_pages, page, overlap, seed):
    """``n_pages`` sorted pages of ``page`` points: consecutive slices of
    one series, or every ``n_pages``-th point of a jittered one."""
    rng = np.random.default_rng(seed)
    base = np.arange(n_pages * page, dtype=np.int64) * 1000
    if overlap:
        base = np.sort(base + rng.integers(-3000, 3000, base.size))
        ts = [base[k::n_pages] for k in range(n_pages)]
    else:
        ts = [base[page * k : page * (k + 1)] for k in range(n_pages)]
    return ts, [rng.integers(-(2**40), 2**40, page) for _ in ts]


@pytest.mark.parametrize("overlap, path", [(False, "splice"), (True, "kmerge")])
def test_stack_above_small_keeps_width_class_path(overlap, path):
    # stacks longer than _SMALL splice with delta_splice and permute by
    # width class; the bytes still equal the canonical encode
    ts, vs = _series(3, _SMALL // 3 + 1, overlap, seed=5)
    assert sum(map(len, ts)) > _SMALL
    _check(ts, vs, path)


def _planes(data):
    return data.vals.tobytes(), data.codes.tobytes(), data.count


# four pages of this many points: merged on Python ints (10, _SHORT // 4),
# by the numpy lane codec (_SHORT // 4 + 1) and by width class (_SMALL // 2)
@pytest.mark.parametrize("page", [10, _SHORT // 4, _SHORT // 4 + 1, _SMALL // 2])
@pytest.mark.parametrize("overlap, path", [(False, "splice"), (True, "kmerge")])
def test_inputs_unchanged_and_outputs_fresh(overlap, path, page):
    # the small splice patches the decoded codes and classes in place: the
    # caller's page planes must not change, and no output may alias them
    tp, vp = _mk_pages(*_series(4, page, overlap, seed=page))
    before = [_planes(d) for d in tp + vp]
    mt, mv, lineage = merge_pages(tp, vp)
    assert lineage["path"] == path
    assert [_planes(d) for d in tp + vp] == before
    for out in (mt, mv):
        assert out.vals.flags.writeable and out.codes.flags.writeable
        assert out.vals.dtype == out.codes.dtype == np.uint8
        for inp in tp + vp:
            assert out is not inp
            assert not np.shares_memory(out.vals, inp.vals)
            assert not np.shares_memory(out.codes, inp.codes)
