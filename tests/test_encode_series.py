"""Property test of the one series encoder (``encode_series_batch``): random
batches of rows, empty rows and duplicate timestamps among them, int32 and
int64 values up to both int64 extremes. The decoded planes are the stable
sort of each row by time, and every statistic and the inversion count
equal a numpy recompute; the examples put every varint width class and
both int64 extremes at both ends of a row (``first_v``/``last_v``)."""

import numpy as np
import pyarrow as pa
from hypothesis import HealthCheck, example, given, settings, strategies as st

from sorting_compressed_time_series_spark.codecs.batched import decode_rows
from sorting_compressed_time_series_spark.operators.ingest import (
    CHUNK_ARROW,
    encode_series_batch,
)
from sorting_compressed_time_series_spark.operators.rollup import _blob_np

SETTINGS = settings(max_examples=60, deadline=None, derandomize=True,
                    suppress_health_check=[HealthCheck.too_slow])

# timestamps: a narrow range (duplicates and ties) or a wide one (rows past
# the composite sort key's 2^33 span take the lexsort fallback)
_ts = st.one_of(st.integers(0, 12), st.integers(-(2**45), 2**45))
# values: in the int32 range, or anywhere in the int64 range (the int32
# case takes them modulo 2^32)
_val = st.one_of(st.integers(-(2**31), 2**31 - 1), st.integers(-(2**63), 2**63 - 1))
_row = st.lists(st.tuples(_ts, _val), max_size=40)
# zigzag widths of 1, 2, 4 and 8 bytes, and both int64 extremes
_WIDTHS = [-1, 256, -(2**31), 2**40, 2**63 - 1, -(2**63)]
_rows = st.lists(_row, min_size=1, max_size=10)

_STATS = ("count", "min_ts", "max_ts", "min_v", "max_v", "first_v", "last_v",
          "sum_v", "n_inversions")


def _expected(ts: np.ndarray, vals: np.ndarray) -> dict[str, int]:
    if len(ts) == 0:
        return dict.fromkeys(_STATS, 0)
    order = np.argsort(ts, kind="stable")
    s, v = ts[order], vals[order].astype(np.int64)
    return {"count": len(ts), "min_ts": s[0], "max_ts": s[-1], "min_v": v.min(),
            "max_v": v.max(), "first_v": v[0], "last_v": v[-1], "sum_v": v.sum(),
            "n_inversions": int((ts[1:] < ts[:-1]).sum())}


@given(rows=_rows, int64_vals=st.booleans())
@example(rows=[[], [(5, 1), (3, 2), (5, 3), (3, 4)], []], int64_vals=False)
@example(rows=[[], [(0, 0)], [(0, -(2**63))], [(2, -(2**63)), (0, 2**63 - 1), (1, 5)],
               [(0, -1), (1, 2**40), (2, 255), (3, 256), (4, -(2**31))]], int64_vals=True)
@example(rows=[[(1, 0), (0, a), (2, b)] for a, b in zip(_WIDTHS, _WIDTHS[::-1])],
         int64_vals=True)
@example(rows=[[(0, -(2**31)), (1, 2**31 - 1)], [(3, 2**31 - 1), (3, -(2**31)), (2, -1)]],
         int64_vals=False)
@SETTINGS
def test_encode_series_batch_sorts_encodes_and_counts(rows, int64_vals):
    dtype = np.int64 if int64_vals else np.int32
    splits = np.zeros(len(rows) + 1, np.int64)
    np.cumsum([len(r) for r in rows], out=splits[1:])
    ts = np.array([t for r in rows for t, _ in r], np.int64)
    vals = np.array([v for r in rows for _, v in r], np.int64).astype(dtype)
    doc = pa.array([f"d{i}" for i in range(len(rows))])
    src = pa.array(["s"] * len(rows))

    out = list(encode_series_batch(doc, src, ts, vals, splits))
    chunks = pa.Table.from_batches([c for c, *_ in out], schema=CHUNK_ARROW)
    assert chunks.column("doc_id").to_pylist() == doc.to_pylist()
    d_ts, d_sp = decode_rows(*_blob_np(chunks.column("time_blob")))
    d_v, v_sp = decode_rows(*_blob_np(chunks.column("value_blob")))
    assert np.array_equal(d_sp, splits) and np.array_equal(v_sp, splits)
    got = chunks.to_pydict()
    for i in range(len(rows)):
        r_ts, r_v = ts[splits[i]:splits[i + 1]], vals[splits[i]:splits[i + 1]]
        order = np.argsort(r_ts, kind="stable")
        assert np.array_equal(d_ts[splits[i]:splits[i + 1]], r_ts[order]), i
        assert np.array_equal(d_v[splits[i]:splits[i + 1]], r_v[order]), i
        want = _expected(r_ts, r_v)
        assert {k: got[k][i] for k in _STATS} == want, i
        assert got["sorted_input"][i] == (want["n_inversions"] == 0)
    # the points handed on (to the flush's tier reduce) are the decoded ones
    assert np.array_equal(np.concatenate([p[1] for p in out]), d_ts)
    assert np.array_equal(np.concatenate([p[2] for p in out]), d_v)
    assert all(p[2].dtype == dtype for p in out)
