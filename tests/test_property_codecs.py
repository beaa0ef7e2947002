"""Property-based oracles (hypothesis) for the round-4 kernels: random
row shapes and value regimes must round-trip exactly and, for the sorters,
end byte-identical to a canonical encode of the stable-sorted series.
Deterministic profile (no deadline flakes on a steal-noisy host)."""

from unittest import mock

import numpy as np
from hypothesis import HealthCheck, example, given, settings, strategies as st

from sorting_compressed_time_series_spark.codecs.batched import (
    decode_chunk_rows,
    encode_chunk_rows,
)
from sorting_compressed_time_series_spark.codecs.bytealigned import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from sorting_compressed_time_series_spark.codecs import (
    CODEC_DELTA,
    CODEC_DOD,
    CODEC_TS2DIFF,
    CODEC_VARINT,
    encode_chunk,
)
from sorting_compressed_time_series_spark.operators.compressed_sort import (
    ROTATION_INVERSION_THRESHOLD,
    bounded_ooo_sort,
    compressed_sort,
    ts_delta_sort_dc,
)
from sorting_compressed_time_series_spark.operators import page_merge
from sorting_compressed_time_series_spark.operators.page_merge import _SHORT, merge_pages
from test_compressed_sort import _lineage_from_values
from test_page_merge import _planes

SETTINGS = settings(
    max_examples=40, deadline=None,
    suppress_health_check=[HealthCheck.too_slow],
)

# rows: 0-8 rows of 0-200 values, magnitudes spanning the width classes
row_lists = st.lists(
    st.lists(
        st.integers(min_value=-(2**50), max_value=2**50), min_size=0, max_size=200
    ),
    min_size=0,
    max_size=8,
)


def _pack(rows):
    flat = (
        np.concatenate([np.asarray(r, np.int64) for r in rows])
        if any(len(r) for r in rows)
        else np.empty(0, np.int64)
    )
    splits = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    return flat, splits


@given(rows=row_lists, codec=st.sampled_from([CODEC_DELTA, CODEC_VARINT,
                                              CODEC_DOD, CODEC_TS2DIFF]))
@SETTINGS
def test_batched_chunk_rows_roundtrip_and_scalar_parity(rows, codec):
    """Row independence: each row of a batch is its one-row blob."""
    flat, splits = _pack(rows)
    buf, bsp = encode_chunk_rows(flat, splits, codec)
    for i, r in enumerate(rows):
        assert buf[bsp[i]:bsp[i + 1]].tobytes() == encode_chunk(
            np.asarray(r, np.int64), codec
        )
    back, back_sp = decode_chunk_rows(buf, bsp)
    assert np.array_equal(back_sp, splits)
    assert np.array_equal(back, flat)


ts_arrays = st.lists(
    st.integers(min_value=-(2**40), max_value=2**40), min_size=0, max_size=400
)

# timestamps for nearly sorted series: small values (1-byte deltas and
# duplicates), int64 extremes (deltas that wrap) and anything in between
# (deltas of every width class, 1 <-> 8 bytes across one seam)
_ts_values = st.one_of(
    st.integers(min_value=-300, max_value=300),
    st.sampled_from([-(2**63), -(2**63) + 1, -1, 255, 256, 2**40, 2**63 - 2, 2**63 - 1]),
    st.integers(min_value=-(2**63), max_value=2**63 - 1),
)


@st.composite
def nearly_sorted_arrays(draw):
    """A sorted series with a few elements moved, element 0 included."""
    ts = sorted(draw(st.lists(_ts_values, min_size=1, max_size=300)))
    positions = st.integers(min_value=0, max_value=len(ts) - 1)
    for src, dst in draw(st.lists(st.tuples(positions, positions), max_size=5)):
        ts.insert(dst, ts.pop(src))
    return ts


@given(ts=st.one_of(ts_arrays, nearly_sorted_arrays()), l=st.sampled_from([1, 3, 50, 10**6]))
@example(ts=[40, 10, 20, 30], l=3)  # element 0 displaced
@example(ts=[10, 20, 20, 30, 20, 20, 40], l=3)  # duplicates straddling seams
@example(ts=[0, 1, 2**40, 2, 2**40 + 1], l=3)  # seam deltas switch 1 <-> 8 bytes
@example(ts=[-(2**63), 2**63 - 1, 0, -(2**63) + 5, -1], l=3)  # deltas wrap
@example(ts=list(range(0, 1000, 10)) + [5], l=3)  # descent at the last element, far back
@example(ts=[0] * 60 + [1] * 60 + [0], l=3)  # ties run across window edges
@example(ts=[0, 2**40] + list(range(2**40, 2**40 + 80)) + [2**40 - 1], l=3)  # 8-byte delta
@SETTINGS
def test_sorters_agree_on_canonical_bytes(ts, l):
    ts = np.asarray(ts, np.int64)
    vs = np.arange(len(ts), dtype=np.int64)
    want = delta_encode(ts[np.argsort(ts, kind="stable")])
    outs = [
        compressed_sort(delta_encode(ts), varint_encode(vs)),
        compressed_sort(delta_encode(ts), varint_encode(vs), inversion_threshold=1.0),
        ts_delta_sort_dc(delta_encode(ts), varint_encode(vs), block_threshold=37),
        bounded_ooo_sort(delta_encode(ts), varint_encode(vs), l=l),
    ]
    for (_, _, lineage), threshold in zip(outs, (ROTATION_INVERSION_THRESHOLD, 1.0)):
        del lineage["decoded_elements"]
        assert lineage == _lineage_from_values(ts, threshold)
    for td, vd, _ in outs:
        assert td.vals.tobytes() == want.vals.tobytes()
        assert np.array_equal(td.codes, want.codes)
        # value plane permuted in lockstep (stability: ties keep arrival order)
        assert np.array_equal(
            varint_decode(vd), vs[np.argsort(ts, kind="stable")]
        )


@st.composite
def tiny_page_sets(draw):
    """1-20 sorted pages of 0-12 points, empty pages included. Disjoint
    sets cut one sorted series into consecutive pages (splice path, seams
    may repeat a timestamp or change width class); the others sort each
    page on its own, so pages overlap (k-way merge path)."""
    sizes = draw(st.lists(st.integers(min_value=0, max_value=12), min_size=1, max_size=20))
    if draw(st.booleans()):
        ts = sorted(draw(st.lists(_ts_values, min_size=sum(sizes), max_size=sum(sizes))))
        cuts = np.cumsum(sizes)[:-1]
        return [list(p) for p in np.split(np.asarray(ts, np.int64), cuts)]
    return [sorted(draw(st.lists(_ts_values, min_size=k, max_size=k))) for k in sizes]


# disjoint, then overlapping stacks of _SHORT points (the longest merged on
# Python ints) and _SHORT + 1 points (the shortest merged by numpy)
_HALF = _SHORT // 2
_EDGE_STACKS = [
    [list(range(_HALF)), list(range(_HALF, n))] for n in (_SHORT, _SHORT + 1)
] + [[list(range(_HALF)), list(range(n - _HALF))] for n in (_SHORT, _SHORT + 1)]


@given(pages=tiny_page_sets())
@example(pages=[[0, 1, 2], [2, 2**40], [], [2**40, 2**40 + 1]])  # splice: dup seams, 1 <-> 8 bytes
@example(pages=[[-(2**63), 0], [2**63 - 1]])  # splice: a seam delta that wraps
@example(pages=[[-(2**63)], [0, 2**63 - 1]])  # splice: a seam delta of 2**63 wraps to -2**63
@example(pages=[[5, 2**63 - 1], [], [-(2**63), 5, 5], [0]])  # kmerge: extremes, duplicates
@example(pages=[[], [2**40], [], [], [0, 2**40, 2**41], []])  # kmerge: one point among empty pages
@example(pages=[[], [7], [], [7, 9]])  # splice: one point among empty pages
@example(pages=[[3, 3], [3], [3, 3, 3], [3]])  # splice: one timestamp in every page
@example(pages=_EDGE_STACKS[0])  # splice, _SHORT points
@example(pages=_EDGE_STACKS[1])  # splice, _SHORT + 1 points
@example(pages=_EDGE_STACKS[2])  # kmerge, _SHORT points
@example(pages=_EDGE_STACKS[3])  # kmerge, _SHORT + 1 points
@SETTINGS
def test_tiny_merges_equal_canonical_encode(pages):
    ts_pages = [np.asarray(p, np.int64) for p in pages]
    vs_pages, start = [], 0
    for p in ts_pages:
        vs_pages.append(np.arange(start, start + len(p), dtype=np.int64) * 7 - 50)
        start += len(p)
    mt, mv, lineage = merge_pages(
        [delta_encode(t) for t in ts_pages], [varint_encode(v) for v in vs_pages]
    )
    full = [t for t in ts_pages if len(t)]
    disjoint = all(a[-1] <= b[0] for a, b in zip(full, full[1:]))
    if len(full) > 1:
        assert lineage["path"] == ("splice" if disjoint else "kmerge")
    all_ts = np.concatenate(ts_pages)
    order = np.argsort(all_ts, kind="stable")
    for got, want in ((mt, delta_encode(all_ts[order])),
                      (mv, varint_encode(np.concatenate(vs_pages)[order]))):
        assert got.count == want.count
        assert got.vals.tobytes() == want.vals.tobytes()
        assert np.array_equal(got.codes, want.codes)


@given(pages=tiny_page_sets(), values=st.lists(_ts_values, min_size=240, max_size=240))
@example(pages=[[-(2**63)], [0, 2**63 - 1]], values=[2**63 - 1, -(2**63), 0] + [0] * 237)
@example(pages=[[5, 2**63 - 1], [], [-(2**63), 5, 5], [0]], values=[-(2**63)] * 240)
@SETTINGS
def test_short_and_numpy_merges_agree(pages, values):
    # the same stack through the Python-int kernel and the numpy kernels:
    # equal planes and equal lineage, on both paths
    sizes = np.cumsum([len(p) for p in pages])[:-1]
    tp = [delta_encode(np.asarray(p, np.int64)) for p in pages]
    vp = [varint_encode(v) for v in np.split(np.asarray(values[:sum(map(len, pages))], np.int64), sizes)]
    outs = []
    for short in (10**9, 0):
        with mock.patch.object(page_merge, "_SHORT", short):
            mt, mv, lineage = merge_pages(tp, vp)
        outs.append((_planes(mt), _planes(mv), lineage))
    assert outs[0] == outs[1]
