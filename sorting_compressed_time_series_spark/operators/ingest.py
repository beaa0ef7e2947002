"""Ingest + flush: tokens table → sorted, compressed tier-0 chunk table.

The Spark expression of the reference's write path (SURVEY.md §3.2-3.3):
memtable append + flush-sort + encode + chunk write collapse into ONE
distributed map over Arrow batches —

    input → repartition(hash(doc_id)) → mapInArrow(flush_kernel) → chunks

Inside the kernel everything is whole-batch vectorized numpy:
seriesization, per-row inversion counting, stable per-row sort (the
semantic of the reference flush-sort ``CompressedTVList.convertAndSort2``,
reference datanode/.../CompressedTVList.java:616-716), batched encode
(``codecs.batched``), per-row statistics via ``np.*.reduceat``, and blob
assembly straight into Arrow buffers.  Per-partition lineage + metrics
(inversions, sorted flag, raw/compressed bytes, encode wall time) ride
along as chunk columns — they feed both the metrics rollup and the
Gorilla-GB/s number in bench.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..codecs.batched import encode_rows
from ..codecs.chunk import CODEC_DELTA, CODEC_VARINT
from ..sources.seriesize import doc_index_from_id, doc_t0, synth_timestamps

CHUNK_SCHEMA = (
    "doc_id string, source string, tier int, window_start bigint, "
    "count int, min_ts bigint, max_ts bigint, min_v bigint, max_v bigint, "
    "first_v bigint, last_v bigint, sum_v bigint, "
    "n_inversions int, sorted_input boolean, "
    "bytes_raw bigint, bytes_time int, bytes_value int, "
    "time_blob binary, value_blob binary, encode_ns bigint"
)

CHUNK_ARROW = pa.schema(
    [
        ("doc_id", pa.string()),
        ("source", pa.string()),
        ("tier", pa.int32()),
        ("window_start", pa.int64()),
        ("count", pa.int32()),
        ("min_ts", pa.int64()),
        ("max_ts", pa.int64()),
        ("min_v", pa.int64()),
        ("max_v", pa.int64()),
        ("first_v", pa.int64()),
        ("last_v", pa.int64()),
        ("sum_v", pa.int64()),
        ("n_inversions", pa.int32()),
        ("sorted_input", pa.bool_()),
        ("bytes_raw", pa.int64()),
        ("bytes_time", pa.int32()),
        ("bytes_value", pa.int32()),
        ("time_blob", pa.binary()),
        ("value_blob", pa.binary()),
        ("encode_ns", pa.int64()),
    ]
)

WINDOW_1H_US = 3_600_000_000
# Arrow ``binary`` offsets are int32: one array addresses at most this many bytes
BINARY_MAX_BYTES = 2**31 - 1


def _binary_from_buffers(buf: np.ndarray, splits: np.ndarray) -> pa.Array:
    """Arrow ``binary`` array over ``buf`` cut at ``splits``, without copying
    the bytes. Refuses a plane past the int32 offset range: the cast below
    would wrap silently."""
    if len(splits) and splits[-1] > BINARY_MAX_BYTES:
        raise OverflowError(
            f"binary column of {len(splits) - 1} rows holds {int(splits[-1])} bytes, "
            f"past the {BINARY_MAX_BYTES}-byte limit of int32 Arrow offsets; lower "
            "spark.sql.execution.arrow.maxRecordsPerBatch so each batch fits")
    return pa.Array.from_buffers(
        pa.binary(),
        len(splits) - 1,
        [None, pa.py_buffer(splits.astype(np.int32)), pa.py_buffer(buf)],
    )


def _segmented_stable_sort(flat_ts, splits, counts):
    """Stable per-row sort order in ONE argsort via a composite key:
    row_id in the high bits, row-relative ts below (fits: relative spans
    < 2^33 by construction of the seriesizer)."""
    row_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    row_min = np.repeat(
        np.minimum.reduceat(flat_ts, splits[:-1])
        if len(flat_ts)
        else np.empty(0, np.int64),
        counts,
    )
    rel = flat_ts - row_min  # >= 0; < 2^33 for seriesized token rows
    if len(rel) and int(rel.max()) >= (1 << 33):
        return np.lexsort((flat_ts, row_of))  # generic fallback
    composite = (row_of << np.int64(33)) | rel
    return np.argsort(composite, kind="stable")


def flush_kernel_batches(
    batches: Iterator[pa.RecordBatch], seed: int = 42
) -> Iterator[pa.RecordBatch]:
    """One pass per batch: each input row becomes one sorted, encoded
    tier-0 chunk row (``CHUNK_ARROW``)."""
    for batch in batches:
        t_start = time.perf_counter_ns()
        n = batch.num_rows
        if n == 0:
            continue
        doc_id = batch.column("doc_id")
        source = batch.column("source")
        doc_index = doc_index_from_id(doc_id)
        tok = batch.column("tokens")
        if isinstance(tok, pa.ChunkedArray):
            tok = tok.combine_chunks()
        # keep tokens in their native int32: halves traffic through the
        # sort gather and the varint plane (bandwidth-bound kernels)
        flat = tok.flatten().to_numpy(zero_copy_only=False)
        offs = tok.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
        # list offsets may not start at 0 after slicing; normalize
        splits = offs - offs[0]
        counts = np.diff(splits)
        row_starts = splits[:-1]
        row_ends = splits[1:]

        # --- seriesize ------------------------------------------------
        positions = np.arange(len(flat), dtype=np.int64) - np.repeat(row_starts, counts)
        flat_doc = np.repeat(doc_index, counts)
        t0 = np.repeat(doc_t0(doc_index, seed), counts)
        ts = synth_timestamps(flat_doc, positions, seed, t0=t0)

        # --- lineage: inversions in arrival order ----------------------
        inv = np.zeros(len(flat), dtype=np.int64)
        if len(flat) > 1:
            inv[1:] = ts[1:] < ts[:-1]
        inv[row_starts[counts > 0]] = 0  # row boundaries are not inversions
        inv_cum = np.concatenate([[0], np.cumsum(inv)])
        n_inv = (inv_cum[row_ends] - inv_cum[row_starts]).astype(np.int32)

        # --- flush sort (stable by ts within each row) -----------------
        if n_inv.sum() > 0:
            order = _segmented_stable_sort(ts, splits, counts)
            ts = ts[order]
            vals = flat[order]
        else:
            vals = flat

        # --- encode (batched, both planes) -----------------------------
        t_buf, t_splits = encode_rows(ts, splits, CODEC_DELTA)
        v_buf, v_splits = encode_rows(vals, splits, CODEC_VARINT)

        # --- per-row statistics (sorted order: min/max ts positional) --
        nz = counts > 0
        min_ts = np.zeros(n, np.int64)
        max_ts = np.zeros(n, np.int64)
        first_v = np.zeros(n, np.int64)
        last_v = np.zeros(n, np.int64)
        min_v = np.zeros(n, np.int64)
        max_v = np.zeros(n, np.int64)
        sum_v = np.zeros(n, np.int64)
        if nz.any():
            s_nz = row_starts[nz]
            e_nz = row_ends[nz] - 1
            min_ts[nz] = ts[s_nz]
            max_ts[nz] = ts[e_nz]
            first_v[nz] = vals[s_nz]
            last_v[nz] = vals[e_nz]
            min_v[nz] = np.minimum.reduceat(vals, s_nz)
            max_v[nz] = np.maximum.reduceat(vals, s_nz)
            sum_v[nz] = np.add.reduceat(vals, s_nz, dtype=np.int64)
        encode_ns = time.perf_counter_ns() - t_start

        arrays = [
            doc_id,
            source,
            pa.array(np.full(n, 0, dtype=np.int32)),
            pa.array((min_ts // WINDOW_1H_US) * WINDOW_1H_US),
            pa.array(counts.astype(np.int32)),
            pa.array(min_ts),
            pa.array(max_ts),
            pa.array(min_v),
            pa.array(max_v),
            pa.array(first_v),
            pa.array(last_v),
            pa.array(sum_v),
            pa.array(n_inv),
            pa.array(n_inv == 0),
            pa.array(counts * 16),  # raw bytes: 8B ts + 8B value per point
            pa.array(np.diff(t_splits).astype(np.int32)),
            pa.array(np.diff(v_splits).astype(np.int32)),
            _binary_from_buffers(t_buf, t_splits),
            _binary_from_buffers(v_buf, v_splits),
            pa.array(np.full(n, encode_ns // max(n, 1), dtype=np.int64)),
        ]
        yield pa.RecordBatch.from_arrays(arrays, schema=CHUNK_ARROW)


def flush(tokens_df: DataFrame, seed: int = 42, partitions: int | None = None) -> DataFrame:
    """tokens → tier-0 chunks. Repartition by doc hash for even spread
    (the source column is skewed; doc_id is not — hashing on it avoids the
    hot-source problem without salting at this stage; salted paths are used
    in the source-level metric rollups, see operators/rollup.py)."""
    df = tokens_df
    if partitions:
        df = df.repartition(partitions, "doc_id")

    def kern(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return flush_kernel_batches(it, seed)

    return df.mapInArrow(kern, schema=CHUNK_SCHEMA)
