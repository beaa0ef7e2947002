"""Ingest + flush: tokens table → sorted, compressed tier-0 chunk table.

The Spark expression of the reference's write path (SURVEY.md §3.2-3.3):
memtable append + flush-sort + encode + chunk write collapse into ONE
distributed map over Arrow batches, whose tasks read their own input and
write their own chunk files (``Pipeline.ingest``, ``Warehouse.kernel_writer``):

    token files → mapInArrow(pyarrow read + flush kernel + parquet writer)
                → chunk files

A token frame that is not exactly a scan of local parquet files reaches
the same kernel as Arrow batches from Spark's scan (``Pipeline._input_stage``).

Inside the kernel everything is whole-batch vectorized numpy:
seriesization, per-row inversion counting, stable per-row sort (the
semantic of the reference flush-sort ``CompressedTVList.convertAndSort2``,
reference datanode/.../CompressedTVList.java:616-716), batched encode
(``codecs.batched``), per-row statistics via ``np.*.reduceat``, and blob
assembly straight into Arrow buffers (a batch whose planes pass the int32
Arrow offset range leaves as several chunk batches).  Per-partition
lineage + metrics (inversions, sorted flag, raw/compressed bytes, encode
wall time) ride along as chunk columns — they feed both the metrics
rollup and the Gorilla-GB/s number in bench.

On a fresh warehouse the same task also rolls the sorted points it holds
up into every tier (``flush_rollup_kernel``), as IoTDB computes chunk
statistics at flush from the values in hand (§3.3): the rollup's reduce
runs on arrays the flush already has, with no decode and no second job.
"""

from __future__ import annotations

import time
from collections.abc import Iterator

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame

from ..codecs.batched import encode_rows
from ..codecs.chunk import CODEC_DELTA, CODEC_VARINT
from .rollup import TierReduce, tiers_kernel
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
    would wrap silently. The flush cuts its batches into row slices that
    fit (``_row_slices``), so only a single row past the limit gets here,
    and no batch size helps it."""
    if len(splits) and splits[-1] > BINARY_MAX_BYTES:
        raise OverflowError(
            f"a chunk row's blob plane holds {int(np.diff(splits).max())} bytes, past "
            f"the {BINARY_MAX_BYTES}-byte limit of int32 Arrow offsets; a row is never "
            "split, so ingest the doc's tokens as several rows")
    return pa.Array.from_buffers(
        pa.binary(),
        len(splits) - 1,
        [None, pa.py_buffer(splits.astype(np.int32)), pa.py_buffer(buf)],
    )


def _segmented_stable_sort(flat_ts, splits, counts):
    """Stable per-row sort order in ONE argsort via a composite key:
    row_id in the high bits, row-relative ts below. The key fits while
    every row spans under 2^33 µs (~2.4 h), as a seriesized token row
    does; a batch with a longer row (a real series can span days) takes
    the generic ``lexsort``."""
    row_of = np.repeat(np.arange(len(counts), dtype=np.int64), counts)
    # reduceat over the non-empty rows only: a trailing empty row's start
    # is past the end of ``flat_ts``
    nz = counts > 0
    row_min = np.zeros(len(counts), np.int64)
    if nz.any():
        row_min[nz] = np.minimum.reduceat(flat_ts, splits[:-1][nz])
    row_min = np.repeat(row_min, counts)
    rel = flat_ts - row_min  # >= 0
    if len(rel) and int(rel.max()) >= (1 << 33):
        return np.lexsort((flat_ts, row_of))  # generic fallback
    composite = (row_of << np.int64(33)) | rel
    return np.argsort(composite, kind="stable")


def _row_slices(*splits: np.ndarray) -> Iterator[tuple[int, int]]:
    """``[r0, r1)`` row ranges, in order and covering every row, over which
    each plane's bytes (``splits``: its row offsets) fit int32 Arrow
    offsets (``BINARY_MAX_BYTES``). One range when the whole batch fits;
    a single row past the limit stays a range of its own (and is refused
    by ``_binary_from_buffers``)."""
    n = len(splits[0]) - 1
    r0 = 0
    while r0 < n:
        r1 = min(int(np.searchsorted(sp, sp[r0] + BINARY_MAX_BYTES, side="right")) - 1
                 for sp in splits)
        r1 = min(max(r1, r0 + 1), n)
        yield r0, r1
        r0 = r1


def encode_series_batch(doc_id: pa.Array, source: pa.Array, ts: np.ndarray,
                        vals: np.ndarray, splits: np.ndarray):
    """The one encoder of sorted series: row ``i`` of a batch is the series
    ``(doc_id[i], source[i])`` with points ``[splits[i], splits[i+1])`` of
    ``ts``/``vals`` (int64 timestamps in arrival order; int32 or int64
    values). Counts each row's inversions, sorts each row stably by time
    (skipped when no row has an inversion), encodes the time plane (DELTA)
    and the value plane (VARINT), and computes the chunk statistics. Yields
    ``(chunks, ts, vals, splits)``: the ``CHUNK_ARROW`` rows and the points
    they encode, sorted by time within each row; rows whose blob planes
    pass the int32 Arrow offset range leave as several chunk batches of
    consecutive rows."""
    t_start = time.perf_counter_ns()
    n = len(splits) - 1
    counts = np.diff(splits)
    row_starts = splits[:-1]
    row_ends = splits[1:]

    # --- lineage: inversions in arrival order ----------------------
    nz = counts > 0
    inv = np.zeros(len(ts), dtype=bool)
    if len(ts) > 1:
        inv[1:] = ts[1:] < ts[:-1]
    inv[row_starts[nz]] = False  # row boundaries are not inversions
    n_inv = np.zeros(n, np.int32)
    if nz.any():
        n_inv[nz] = np.add.reduceat(inv, row_starts[nz], dtype=np.int64)
    del inv  # freed before the sort and the encode, where the peak is

    # --- flush sort (stable by ts within each row) -----------------
    if n_inv.any():
        order = _segmented_stable_sort(ts, splits, counts)
        ts = ts[order]
        vals = vals[order]
        del order

    # --- encode (batched, both planes) -----------------------------
    t_buf, t_splits = encode_rows(ts, splits, CODEC_DELTA)
    v_buf, v_splits = encode_rows(vals, splits, CODEC_VARINT)

    # --- per-row statistics (sorted order: min/max ts positional) --
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

    columns = [
        np.full(n, 0, dtype=np.int32),
        (min_ts // WINDOW_1H_US) * WINDOW_1H_US,
        counts.astype(np.int32),
        min_ts, max_ts, min_v, max_v, first_v, last_v, sum_v,
        n_inv,
        n_inv == 0,
        counts * 16,  # raw bytes: 8B ts + 8B value per point
        np.diff(t_splits).astype(np.int32),
        np.diff(v_splits).astype(np.int32),
    ]
    for r0, r1 in _row_slices(t_splits, v_splits):
        t_sp, v_sp, sp = t_splits[r0:r1 + 1], v_splits[r0:r1 + 1], splits[r0:r1 + 1]
        arrays = (
            [doc_id.slice(r0, r1 - r0), source.slice(r0, r1 - r0)]
            + [pa.array(c[r0:r1]) for c in columns]
            + [_binary_from_buffers(t_buf[t_sp[0]:t_sp[-1]], t_sp - t_sp[0]),
               _binary_from_buffers(v_buf[v_sp[0]:v_sp[-1]], v_sp - v_sp[0]),
               pa.array(np.full(r1 - r0, encode_ns // max(n, 1), dtype=np.int64))])
        yield (pa.RecordBatch.from_arrays(arrays, schema=CHUNK_ARROW),
               ts[sp[0]:sp[-1]], vals[sp[0]:sp[-1]], sp - sp[0])


def _flush_batches(batches: Iterator[pa.RecordBatch], seed: int):
    """The flush: seriesize each token batch (``vals`` in the tokens' own
    int32), then ``encode_series_batch``; yields what it yields."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        doc_id = batch.column("doc_id")
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
        positions = np.arange(len(flat), dtype=np.int64) - np.repeat(splits[:-1], counts)
        flat_doc = np.repeat(doc_index, counts)
        t0 = np.repeat(doc_t0(doc_index, seed), counts)
        ts = synth_timestamps(flat_doc, positions, seed, t0=t0)
        yield from encode_series_batch(doc_id, batch.column("source"), ts, flat, splits)


def flush_kernel_batches(
    batches: Iterator[pa.RecordBatch], seed: int = 42
) -> Iterator[pa.RecordBatch]:
    """One pass per batch: each input row becomes one sorted, encoded
    tier-0 chunk row (``CHUNK_ARROW``)."""
    for chunks, *_ in _flush_batches(batches, seed):
        yield chunks


def flush_rollup_kernel(windows_us: list[int], seed: int = 42):
    """The flush whose task also rolls the points it holds up into every
    tier, with the rollup's own reduce (``TierReduce``): no decode, no
    second pass over the chunks. The kernel of a ``KernelWriter`` with a
    side writer: it yields ``(False, chunks)`` for the chunk files and
    ``(True, tier rows)`` (``tier`` = index into ``windows_us``) for the
    side, and returns the key of each doc run it reduced. A doc's tier
    rows are final only when the doc is one run of one task; the keys let
    the driver check that."""
    tiers_kernel(windows_us)  # refuses windows that do not nest
    windows_us = list(windows_us)

    def kern(batches: Iterator[pa.RecordBatch]):
        tiers = TierReduce(windows_us)
        for chunks, ts, vals, splits in _flush_batches(batches, seed):
            yield False, chunks
            for rows in tiers.feed(chunks.column("doc_id"), chunks.column("source"),
                                   ts, vals, splits):
                yield True, rows
        for rows in tiers.close():
            yield True, rows
        return tiers.run_keys()

    return kern


def flush(tokens_df: DataFrame, seed: int = 42) -> DataFrame:
    """tokens → tier-0 chunk rows as a frame (tests and ``bench.py``; the
    engine writes them through ``Pipeline.ingest``)."""

    def kern(it: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return flush_kernel_batches(it, seed)

    return tokens_df.mapInArrow(kern, schema=CHUNK_SCHEMA)
