"""Compaction: merge a series' accumulated chunks into one sorted chunk.

The Spark expression of the reference's compaction stage (SURVEY.md §3.4,
ReadChunkCompactionPerformer / PersistUncompressingSorter): multiple
flushes leave multiple (possibly time-overlapping) chunks per series;
compaction merges them per series with the page-merge kernel — splice
fast path when chunk time ranges do not overlap (one patched boundary
delta per seam, interiors untouched), stable k-way merge otherwise.

Physical shape: one whole-bucket kernel job (``Pipeline.compact``). The
chunk table is bucketed by doc_id in its file names, so task ``b`` reads
bucket ``b``'s chunk files itself, sorted by ``COMPACT_ORDER`` — every
chunk of a doc adjacent, in time order, ties in commit order — and
``compact_kernel`` passes single-chunk docs' rows through and merges the
rest; the task writes bucket ``b``'s files of the new snapshot. No scan,
no exchange, no per-group Python call.
"""

from __future__ import annotations

from collections.abc import Generator, Iterator

import numpy as np
import pyarrow as pa

from ..codecs.bytealigned import CLASS_WIDTH, ByteAlignedData, unpack_plane
from ..codecs.chunk import (
    CODEC_DELTA,
    CODEC_VARINT,
    deserialize_bytealigned,
    serialize_bytealigned,
    _body,
)
from .ingest import CHUNK_ARROW, WINDOW_1H_US
from .page_merge import merge_pages
from .rollup import _run_starts

# the order in which a task's chunks reach the kernel: a doc's chunks
# adjacent, earliest first (the flush order of a series)
COMPACT_ORDER = ("doc_id", "min_ts", "max_ts")


def compact_kernel(batches: Iterator[pa.RecordBatch]) -> Generator[pa.RecordBatch, None, int]:
    """Over ``CHUNK_ARROW`` rows in ``COMPACT_ORDER``: the rows of a doc
    with one chunk as they are, and ONE merged chunk per doc with two or
    more. A doc whose chunks straddle batches is carried into the next
    batch. Returns the number of docs merged."""
    merged, carry = 0, None  # carry: the last doc of the batch before
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
        last = int(np.flatnonzero(_run_starts(batch.column("doc_id")))[-1])
        carry = batch.slice(last)
        if last:
            merged += yield from _compact(batch.slice(0, last))
    if carry is not None:
        merged += yield from _compact(carry)
    return merged


def _compact(rows: pa.RecordBatch) -> Generator[pa.RecordBatch, None, int]:
    """``compact_kernel`` over rows that hold whole docs."""
    starts = np.flatnonzero(_run_starts(rows.column("doc_id")))
    sizes = np.diff(np.append(starts, rows.num_rows))
    multi = sizes > 1
    if not multi.any():
        yield rows
        return 0
    in_multi = np.repeat(multi, sizes)
    yield rows.filter(pa.array(~in_multi))
    yield _merge_docs(rows.filter(pa.array(in_multi)), np.cumsum(sizes[multi]) - sizes[multi])
    return int(multi.sum())


def _end_values(data: ByteAlignedData) -> tuple[int, int]:
    """First and last element of a varint column (0, 0 when empty), read
    from their payload bytes alone: element 0 is the plane's first
    ``width(codes[0])`` bytes, the last element its final
    ``width(codes[-1])``."""
    if data.count == 0:
        return 0, 0
    codes = bytes(data.codes[[0, -1]])
    ends = (data.vals[:CLASS_WIDTH[codes[0]]], data.vals[-CLASS_WIDTH[codes[1]]:])
    z0, z1 = unpack_plane(b"".join(ends), codes)
    return (z0 >> 1) ^ -(z0 & 1), (z1 >> 1) ^ -(z1 & 1)


def _merge_docs(rows: pa.RecordBatch, starts: np.ndarray) -> pa.RecordBatch:
    """One chunk per doc run ``rows[starts[i]:starts[i + 1]]`` (each of two
    or more rows): the pages merged by ``merge_pages`` in the run's order,
    and the stats folded from the run's rows."""
    ends = np.append(starts[1:], rows.num_rows)

    def fold(ufunc, col):
        return ufunc.reduceat(rows.column(col).to_numpy(zero_copy_only=False), starts)

    t_blobs, v_blobs, firsts, lasts = [], [], [], []
    tcol, vcol = rows.column("time_blob"), rows.column("value_blob")
    for s, e in zip(starts, ends):
        tpages = [deserialize_bytealigned(_body(tcol[i].as_py())[1]) for i in range(s, e)]
        vpages = [deserialize_bytealigned(_body(vcol[i].as_py())[1]) for i in range(s, e)]
        mt, mv, _ = merge_pages(tpages, vpages)
        t_blobs.append(serialize_bytealigned(mt, CODEC_DELTA))
        v_blobs.append(serialize_bytealigned(mv, CODEC_VARINT))
        v0, v1 = _end_values(mv)
        firsts.append(v0)
        lasts.append(v1)
    first = pa.array(starts)
    min_ts = fold(np.minimum, "min_ts")
    cols = {
        "doc_id": rows.column("doc_id").take(first),
        "source": rows.column("source").take(first),
        "tier": np.zeros(len(starts), np.int32),
        "window_start": min_ts // WINDOW_1H_US * WINDOW_1H_US,
        "count": fold(np.add, "count"),
        "min_ts": min_ts,
        "max_ts": fold(np.maximum, "max_ts"),
        "min_v": fold(np.minimum, "min_v"),
        "max_v": fold(np.maximum, "max_v"),
        "first_v": firsts,
        "last_v": lasts,
        "sum_v": fold(np.add, "sum_v"),
        "n_inversions": fold(np.add, "n_inversions"),
        "sorted_input": fold(np.logical_and, "sorted_input"),
        "bytes_raw": fold(np.add, "bytes_raw"),
        "bytes_time": [len(b) for b in t_blobs],
        "bytes_value": [len(b) for b in v_blobs],
        "time_blob": t_blobs,
        "value_blob": v_blobs,
        "encode_ns": fold(np.add, "encode_ns"),
    }
    return pa.RecordBatch.from_arrays(
        [c.cast(f.type) if isinstance(c := cols[f.name], pa.Array) else pa.array(c, f.type)
         for f in CHUNK_ARROW], schema=CHUNK_ARROW)
