"""Compressed-domain sort oracles.

Re-expresses the reference's sorter correctness tests
(MemtableSortTest.testSortCorrect — decode(sort(encode(x))) equals a stable
sort of the (ts, value) pairs by ts; CompressedSeriesTest fixed/random/file
variants). Additionally asserts the rotation path produces byte-identical
blobs to a fresh encode of the sorted arrays — a stronger invariant our
deterministic encoder makes possible.
"""

import numpy as np
import pytest

from sorting_compressed_time_series_spark.codecs import bytealigned
from sorting_compressed_time_series_spark.codecs.bytealigned import (
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from sorting_compressed_time_series_spark.operators import compressed_sort as cs
from sorting_compressed_time_series_spark.operators.compressed_sort import (
    ROTATION_INVERSION_THRESHOLD,
    WINDOW_RADIUS,
    compressed_sort,
    sort_reencode,
    stable_sort_order,
)


def _oracle(ts, vs):
    order = np.argsort(ts, kind="stable")
    return ts[order], vs[order]


def _run(ts, vs):
    ts = np.asarray(ts, dtype=np.int64)
    vs = np.asarray(vs, dtype=np.int64)
    td, vd, lineage = compressed_sort(delta_encode(ts), varint_encode(vs))
    got_ts = delta_decode(td)
    got_vs = varint_decode(vd)
    want_ts, want_vs = _oracle(ts, vs)
    assert np.array_equal(got_ts, want_ts)
    assert np.array_equal(got_vs, want_vs)
    # byte-identity with canonical encode of the sorted arrays
    canon_t = delta_encode(want_ts)
    canon_v = varint_encode(want_vs)
    assert td.vals.tobytes() == canon_t.vals.tobytes()
    assert np.array_equal(td.codes, canon_t.codes)
    assert vd.vals.tobytes() == canon_v.vals.tobytes()
    assert np.array_equal(vd.codes, canon_v.codes)
    return lineage


def test_already_sorted_noop():
    ts = np.arange(100, dtype=np.int64) * 17
    vs = np.arange(100, dtype=np.int64)
    lineage = _run(ts, vs)
    assert lineage["path"] == "noop"


def test_single_displaced_point():
    ts = np.arange(50, dtype=np.int64) * 10
    ts[30] = 151  # belongs between idx 15 and 16
    vs = np.arange(50, dtype=np.int64)
    lineage = _run(ts, vs)
    assert lineage["path"] == "rotate"
    assert lineage["rotations"] == 1


def test_ooo_run():
    # a sorted run displaced backwards — the reference's core regime
    ts = np.arange(200, dtype=np.int64) * 10
    ts[100:105] -= 500
    vs = np.arange(200, dtype=np.int64) * 3
    lineage = _run(ts, vs)
    assert lineage["path"] == "rotate"


def test_duplicate_timestamps_stability():
    ts = np.array([10, 20, 20, 30, 15, 15, 40], dtype=np.int64)
    vs = np.array([1, 2, 3, 4, 5, 6, 7], dtype=np.int64)
    _run(ts, vs)


@pytest.mark.parametrize(
    "p, n",
    [(0.001, 20_000), (0.004, 20_000), (0.02, 20_000), (0.002, 100_000)],
    ids=["0.001", "0.004", "0.02", "100k-0.002"],
)
def test_nearly_sorted_sweep(p, n):
    rng = np.random.default_rng(int(p * 10000))
    ts = np.cumsum(rng.integers(1, 3000, size=n)).astype(np.int64)
    k = max(1, int(n * p))
    idx = rng.integers(1, n, size=k)
    ts[idx] -= rng.integers(1, 100_000, size=k)
    vs = rng.integers(-(10**4), 10**4, size=n).astype(np.int64)
    lineage = _run(ts, vs)
    descents = int((ts[1:] < ts[:-1]).sum())
    rotate = descents <= n * ROTATION_INVERSION_THRESHOLD
    assert lineage["path"] == ("rotate" if rotate else "reencode")
    if lineage["path"] == "rotate":
        assert lineage["rotations"] == descents
        assert 0 < lineage["patched_codes"] <= 3 * descents
        assert descents <= lineage["moved_elements"] < n


def _planes(data):
    return data.vals.tobytes(), data.codes.tobytes(), data.count


@pytest.mark.parametrize("threshold, path", [(1.0, "rotate"), (0.0, "reencode")])
def test_inputs_unchanged_and_outputs_fresh(threshold, path):
    ts = np.arange(300, dtype=np.int64) * 1000
    ts[[0, 40, 41, 200]] = [150_000, 3, 7_000, -(2**40)]
    td, vd = delta_encode(ts), varint_encode(np.arange(300, dtype=np.int64) - 150)
    before = _planes(td), _planes(vd)
    t2, v2, lineage = compressed_sort(td, vd, inversion_threshold=threshold)
    assert lineage["path"] == path
    assert (_planes(td), _planes(vd)) == before
    for out, inp in ((t2, td), (v2, vd)):
        assert out is not inp
        assert not np.shares_memory(out.vals, inp.vals)
        assert not np.shares_memory(out.codes, inp.codes)


def test_heavily_shuffled_falls_back():
    rng = np.random.default_rng(99)
    ts = rng.integers(-(10**4), 10**4, size=5000).astype(np.int64)
    vs = rng.integers(-(10**4), 10**4, size=5000).astype(np.int64)
    lineage = _run(ts, vs)
    assert lineage["path"] == "reencode"


def test_max_tail_precondition_regime():
    # MemtableSortTest forces the final element to max+3000 (:36-37); the
    # sorter must handle that shape and everything else
    rng = np.random.default_rng(5)
    ts = np.cumsum(rng.integers(1, 100, size=1000)).astype(np.int64)
    ts[500:520] -= 3000
    ts[-1] = ts.max() + 3000
    vs = rng.integers(-(10**4), 10**4, size=1000).astype(np.int64)
    _run(ts, vs)


def test_sort_reencode_matches_rotation_output():
    rng = np.random.default_rng(21)
    ts = np.cumsum(rng.integers(1, 50, size=3000)).astype(np.int64)
    idx = rng.integers(1, 3000, size=20)
    ts[idx] -= rng.integers(1, 5000, size=20)
    vs = rng.integers(-(10**6), 10**6, size=3000).astype(np.int64)
    td1, vd1, _ = compressed_sort(delta_encode(ts), varint_encode(vs))
    td2, vd2, _ = sort_reencode(delta_encode(ts), varint_encode(vs))
    assert td1.vals.tobytes() == td2.vals.tobytes()
    assert vd1.vals.tobytes() == vd2.vals.tobytes()


def _lineage_from_values(ts, threshold=ROTATION_INVERSION_THRESHOLD):
    """The sort lineage worked out on the decoded series with one global
    stable argsort: descents, run heads of the permutation (seams) and
    elements out of place. The windowed sort must report exactly this."""
    n = len(ts)
    lineage = {"path": "noop", "rotations": 0, "patched_codes": 0, "moved_elements": 0}
    descents = int(np.count_nonzero(ts[1:] < ts[:-1])) if n > 1 else 0
    if descents == 0:
        return lineage
    order = np.argsort(ts, kind="stable")
    moved = int(np.count_nonzero(order != np.arange(n)))
    if descents > max(1, n * threshold):
        return {**lineage, "path": "reencode", "moved_elements": moved}
    runs = 1 + int(np.count_nonzero(np.diff(order) != 1))
    return {"path": "rotate", "rotations": descents,
            "patched_codes": runs - int(order[0] == 0), "moved_elements": moved}


def _window_case(name):
    """Series whose disorder windows hit one edge of `compressed_sort`."""
    r = WINDOW_RADIUS
    ts = np.arange(20_000, dtype=np.int64) * 10
    if name == "displaced_1e4":  # several growth rounds to close
        ts[15_000] = ts[5_000] - 5
    elif name == "windows_touch":  # [i - r, i] and [i + 1, i + r + 1] merge
        ts[300] = ts[299] - 1
        ts[300 + r + 1] = ts[300 + r] - 1
    elif name == "element_0_far":
        ts[0] = ts[12_000] + 3
    elif name == "element_0_near":
        ts[0] = ts[2] + 1
    elif name == "last_element":
        ts[-1] = ts[-3] - 1
    elif name == "duplicates_at_edges":  # runs of ties cut by window edges
        ts = np.repeat(np.arange(2_000, dtype=np.int64), 10)
        ts[500] = ts[500 - r - 1]  # ties the element before its window
        ts[900], ts[901] = ts[800], ts[899]  # the element after ties the max
    elif name == "wide_delta":  # an 8-byte delta, spans stay far below 2^63
        ts[10_000:] += 2**40
        ts[10_020] = ts[9_990]
    elif name == "span_past_int64":  # signs untrusted: one whole-series window
        ts = np.linspace(-(2**62) * 1.5, 2**62 * 1.5, 5_000).astype(np.int64)
        ts[2_000] = ts[1_990]
    return ts


WINDOW_CASES = ["displaced_1e4", "windows_touch", "element_0_far", "element_0_near",
                "last_element", "duplicates_at_edges", "wide_delta", "span_past_int64"]


@pytest.mark.parametrize("name", WINDOW_CASES)
def test_window_edge_cases_match_reencode_and_lineage(name):
    ts = _window_case(name)
    n = len(ts)
    vs = np.arange(n, dtype=np.int64) * 7 - 1000
    td, vd, lineage = compressed_sort(delta_encode(ts), varint_encode(vs), inversion_threshold=1.0)
    rt, rv, _ = sort_reencode(delta_encode(ts), varint_encode(vs))
    assert _planes(td) == _planes(rt) and _planes(vd) == _planes(rv)
    decoded = lineage.pop("decoded_elements")
    assert lineage == _lineage_from_values(ts, 1.0)
    assert lineage["path"] == "rotate"
    if name == "span_past_int64":
        assert decoded == n
    elif name not in ("displaced_1e4", "element_0_far"):  # those grow far
        assert decoded < n // 10


def test_sort_decodes_only_disorder_windows(monkeypatch):
    """No whole-column decode on the rotate path: with `delta_decode` and
    the whole-column payload gather raising, a sorted 100k page is a noop
    and a 100k page at 0.1% disorder still equals `sort_reencode`."""
    rng = np.random.default_rng(13)
    n = 100_000
    ts = np.arange(n, dtype=np.int64) * 100_000 + rng.integers(0, 50_000, n)
    sorted_t = delta_encode(ts)
    idx = rng.choice(np.arange(1, n), n // 1000, replace=False)
    ts[idx] -= rng.integers(1, 4_000_000, len(idx))
    vs = rng.integers(-10_000, 10_001, n).astype(np.int64)
    t, v = delta_encode(ts), varint_encode(vs)
    want = sort_reencode(t, v)

    def whole_column(*args, **kwargs):
        raise AssertionError("whole-column decode")

    monkeypatch.setattr(cs, "delta_decode", whole_column)
    monkeypatch.setattr(bytealigned, "_gather_payload", whole_column)
    t0, v0, lineage = compressed_sort(sorted_t, v)
    assert lineage["path"] == "noop" and lineage["decoded_elements"] == 0
    assert t0 is sorted_t and v0 is v
    t1, v1, lineage = compressed_sort(t, v)
    assert lineage["path"] == "rotate"
    assert (_planes(t1), _planes(v1)) == (_planes(want[0]), _planes(want[1]))
    assert 0 < lineage["decoded_elements"] < n // 10


def test_empty_and_single_point_series():
    for ts in ([], [5]):
        ts = np.asarray(ts, dtype=np.int64)
        t, v = delta_encode(ts), varint_encode(ts)
        assert compressed_sort(t, v)[2]["path"] == "noop"
        assert sort_reencode(t, v)[2] == 0


def test_stable_sort_order_is_stable():
    ts = np.array([5, 1, 5, 1, 5], dtype=np.int64)
    order = stable_sort_order(ts)
    assert list(order) == [1, 3, 0, 2, 4]


def test_inversion_threshold_is_a_config_knob():
    """Sort-algorithm selection (reference BackwardSort.INVERSION_RATIOS_
    THRESHOLD as a config): the regime switch is a per-call parameter, not
    a baked-in constant — 0 forces the reencode path, 1 forces rotations,
    both produce the identical canonical sorted encoding."""
    from sorting_compressed_time_series_spark.codecs.bytealigned import (
        delta_decode as _dd,
        varint_decode as _vd,
    )

    ts = (np.arange(200, dtype=np.int64) * 10)
    ts[50] = 471   # two displaced points (the reencode switch needs
    ts[120] = 1171  # inversions > max(1, n*threshold))
    vs = np.arange(200, dtype=np.int64)
    t_lo, v_lo, lin_lo = compressed_sort(
        delta_encode(ts), varint_encode(vs), inversion_threshold=0.0
    )
    t_hi, v_hi, lin_hi = compressed_sort(
        delta_encode(ts), varint_encode(vs), inversion_threshold=1.0
    )
    assert lin_lo["path"] == "reencode"
    assert lin_hi["path"] == "rotate"
    assert np.array_equal(_dd(t_lo), _dd(t_hi))
    assert np.array_equal(_vd(v_lo), _vd(v_hi))
    assert t_lo.vals.tobytes() == t_hi.vals.tobytes()


def _run_dc(ts, vs, block_threshold=300):
    from sorting_compressed_time_series_spark.operators.compressed_sort import (
        ts_delta_sort_dc,
    )

    ts = np.asarray(ts, dtype=np.int64)
    vs = np.asarray(vs, dtype=np.int64)
    td, vd, lineage = ts_delta_sort_dc(
        delta_encode(ts), varint_encode(vs), block_threshold=block_threshold
    )
    want_ts, want_vs = _oracle(ts, vs)
    assert np.array_equal(delta_decode(td), want_ts)
    assert np.array_equal(varint_decode(vd), want_vs)
    canon_t = delta_encode(want_ts)
    canon_v = varint_encode(want_vs)
    assert td.vals.tobytes() == canon_t.vals.tobytes()
    assert np.array_equal(td.codes, canon_t.codes)
    assert vd.vals.tobytes() == canon_v.vals.tobytes()
    assert np.array_equal(vd.codes, canon_v.codes)
    return lineage


@pytest.mark.parametrize("p", [0.004, 0.05, 0.3])
def test_dc_sort_byte_identical_across_disorder(p):
    rng = np.random.default_rng(int(p * 1000) + 7)
    n = 5_000
    ts = np.cumsum(rng.integers(1, 3000, size=n)).astype(np.int64)
    k = max(1, int(n * p))
    idx = rng.integers(1, n, size=k)
    ts[idx] -= rng.integers(1, 500_000, size=k)
    vs = rng.integers(-(10**4), 10**4, size=n).astype(np.int64)
    lineage = _run_dc(ts, vs)
    assert lineage["path"] == "dc" and lineage["splits"] >= 1


def test_dc_sort_tiny_and_threshold_sizes():
    rng = np.random.default_rng(23)
    for n in (0, 1, 2, 3, 299, 300, 301, 601):
        ts = rng.permutation(np.arange(n) * 17).astype(np.int64)
        vs = np.arange(n, dtype=np.int64)
        _run_dc(ts, vs)


def test_dc_sort_duplicates_stable():
    ts = np.array([10, 20, 20, 5, 20, 5, 30] * 80, dtype=np.int64)
    vs = np.arange(len(ts), dtype=np.int64)
    _run_dc(ts, vs, block_threshold=50)


def test_dc_equals_blocksort_output():
    """D&C and the flat blockSort are interchangeable paths to the same
    canonical bytes (the reference benchmarks them against each other,
    MemtableSortTest.java)."""
    rng = np.random.default_rng(31)
    n = 3_000
    ts = np.cumsum(rng.integers(1, 100, size=n)).astype(np.int64)
    idx = rng.integers(1, n, size=30)
    ts[idx] -= rng.integers(1, 5_000, size=30)
    vs = rng.integers(0, 100, size=n).astype(np.int64)
    ta, va, _ = compressed_sort(delta_encode(ts), varint_encode(vs))
    tb, vb, _ = __import__(
        "sorting_compressed_time_series_spark.operators.compressed_sort",
        fromlist=["ts_delta_sort_dc"],
    ).ts_delta_sort_dc(delta_encode(ts), varint_encode(vs))
    assert ta.vals.tobytes() == tb.vals.tobytes()
    assert np.array_equal(ta.codes, tb.codes)
    assert va.vals.tobytes() == vb.vals.tobytes()


def _run_bounded(ts, vs, l):
    from sorting_compressed_time_series_spark.operators.compressed_sort import (
        bounded_ooo_sort,
    )

    ts = np.asarray(ts, dtype=np.int64)
    vs = np.asarray(vs, dtype=np.int64)
    td, vd, lineage = bounded_ooo_sort(delta_encode(ts), varint_encode(vs), l=l)
    want_ts, want_vs = _oracle(ts, vs)
    assert np.array_equal(delta_decode(td), want_ts)
    assert np.array_equal(varint_decode(vd), want_vs)
    canon_t = delta_encode(want_ts)
    assert td.vals.tobytes() == canon_t.vals.tobytes()
    assert np.array_equal(td.codes, canon_t.codes)
    return lineage


@pytest.mark.parametrize("l", [1, 7, 64, 100000])
def test_bounded_ooo_sort_equals_stable_sort(l):
    rng = np.random.default_rng(l)
    n = 3_000
    ts = np.cumsum(rng.integers(1, 3000, size=n)).astype(np.int64)
    idx = rng.integers(1, n, size=60)
    ts[idx] -= rng.integers(1, 300_000, size=60)
    vs = rng.integers(-(10**4), 10**4, size=n).astype(np.int64)
    lineage = _run_bounded(ts, vs, l)
    assert lineage["path"].startswith("bounded_ooo")
    if l >= 60:
        # one pass when the side list holds every OOO point
        assert lineage["passes"] == 1


def test_bounded_ooo_sort_multipass_and_duplicates():
    ts = np.array([50, 10, 50, 10, 60, 5, 60, 5, 70] * 40, dtype=np.int64)
    vs = np.arange(len(ts), dtype=np.int64)
    lineage = _run_bounded(ts, vs, l=3)
    assert lineage["passes"] > 1
    assert lineage["extracted"] >= (ts[1:] < np.maximum.accumulate(ts)[:-1]).sum()


def test_bounded_ooo_sort_sorted_noop():
    ts = np.arange(100, dtype=np.int64) * 3
    vs = np.arange(100, dtype=np.int64)
    lineage = _run_bounded(ts, vs, l=8)
    assert lineage["path"] == "noop" and lineage["passes"] == 0
