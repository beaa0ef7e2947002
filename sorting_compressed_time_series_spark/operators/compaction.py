"""Compaction: merge a series' accumulated chunks into one sorted chunk.

The Spark expression of the reference's compaction stage (SURVEY.md §3.4,
ReadChunkCompactionPerformer / PersistUncompressingSorter): multiple
flushes leave multiple (possibly time-overlapping) chunks per series
``(doc_id, source)``; compaction merges them per series with the kernels
of the flush and the rollup. A batch's multi-chunk series are decoded in
one batched pass per plane (the rollup's ``_decoded``), a series' chunks
are one slice of the points, and the one series encoder
(``encode_series_batch``) sorts each slice stably by time and encodes it:
ties keep the chunks' order, the flush order of the series.

Physical shape: one whole-bucket kernel job (``Pipeline.compact``). The
chunk table is bucketed by doc_id in its file names, so task ``b`` reads
bucket ``b``'s chunk files itself, sorted by ``COMPACT_ORDER`` — every
chunk of a series adjacent, in time order, ties in commit order — and
``compact_kernel`` passes single-chunk series' rows through and merges the
rest; the task writes bucket ``b``'s files of the new snapshot. No scan,
no exchange, no per-group Python call.
"""

from __future__ import annotations

from collections.abc import Generator, Iterator

import numpy as np
import pyarrow as pa

from .ingest import CHUNK_ARROW, encode_series_batch
from .rollup import DOC_ORDER, _decoded, _run_starts

# the order in which a task's chunks reach the kernel: a series' chunks
# adjacent, earliest first (the flush order of a series)
COMPACT_ORDER = (*DOC_ORDER, "min_ts", "max_ts")
# the chunk columns that keep their meaning across a merge, folded from
# the merged rows: the disorder the flushes sorted (not the descents at
# the chunk seams the encoder would count) and the flushes' encode time
_FOLDS = {"n_inversions": np.add, "sorted_input": np.logical_and, "encode_ns": np.add}


def compact_kernel(batches: Iterator[pa.RecordBatch]) -> Generator[pa.RecordBatch, None, int]:
    """Over ``CHUNK_ARROW`` rows in ``COMPACT_ORDER``: the rows of a series
    with one chunk as they are, and ONE merged chunk per series with two or
    more. A series whose chunks straddle batches is carried into the next
    batch. Returns the number of series merged."""
    merged, carry = 0, None  # carry: the last series of the batch before
    for batch in batches:
        if batch.num_rows == 0:
            continue
        if carry is not None:
            batch = pa.Table.from_batches([carry, batch]).combine_chunks().to_batches()[0]
        last = int(np.flatnonzero(_series_starts(batch))[-1])
        carry = batch.slice(last)
        if last:
            merged += yield from _compact(batch.slice(0, last))
    if carry is not None:
        merged += yield from _compact(carry)
    return merged


def _series_starts(rows: pa.RecordBatch) -> np.ndarray:
    return _run_starts(*(rows.column(c) for c in DOC_ORDER))


def _compact(rows: pa.RecordBatch) -> Generator[pa.RecordBatch, None, int]:
    """``compact_kernel`` over rows that hold whole series."""
    starts = np.flatnonzero(_series_starts(rows))
    sizes = np.diff(np.append(starts, rows.num_rows))
    multi = sizes > 1
    if not multi.any():
        yield rows
        return 0
    in_multi = np.repeat(multi, sizes)
    yield rows.filter(pa.array(~in_multi))
    yield from _merge_docs(rows.filter(pa.array(in_multi)), np.cumsum(sizes[multi]) - sizes[multi])
    return int(multi.sum())


def _merge_docs(rows: pa.RecordBatch, starts: np.ndarray) -> Iterator[pa.RecordBatch]:
    """One chunk per series run ``rows[starts[i]:starts[i + 1]]`` (each of
    two or more rows, in time order): the runs' points are consecutive
    slices of the batch's decoded planes, encoded by ``encode_series_batch``
    as one row each; ``_FOLDS`` come from the run's rows."""
    first = pa.array(starts)
    folds = {c: f.reduceat(rows.column(c).to_numpy(zero_copy_only=False), starts)
             for c, f in _FOLDS.items()}
    doc, source, ts, vals, splits = next(_decoded([rows]))
    merged = encode_series_batch(doc.take(first), source.take(first), ts, vals,
                                 splits[np.append(starts, rows.num_rows)])
    del ts, vals  # the encoder's sort then frees the unsorted planes
    r0 = 0
    for chunks, *_ in merged:
        r1 = r0 + chunks.num_rows
        for c, v in folds.items():
            f = CHUNK_ARROW.field(c)
            chunks = chunks.set_column(CHUNK_ARROW.get_field_index(c), f, pa.array(v[r0:r1], f.type))
        yield chunks
        r0 = r1
