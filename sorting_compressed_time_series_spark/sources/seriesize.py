"""Seriesization: deterministic event-time synthesis for token sequences.

The input table has no timestamps (it is a corpus of pre-tokenized
sequences); the engine interprets each row as one series with
``value[i] = tokens[i]`` and a synthetic, *mostly ordered* event time

    ts[i] = t0(doc) + i*STEP + jitter(doc,i) - ooo_displacement(doc,i)

mirroring the reference's out-of-order regime (FIXTURES.md F2
``nearly_sorted``: a controlled fraction of points displaced backwards).
Pure function of (seed, doc index, position): identical at any
parallelism. All vectorized over the flat token stream of a batch.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from ..functions.hashing import hash2

EPOCH0 = 1_700_000_000_000_000  # µs, fixed engine epoch
STEP_US = 100_000  # nominal inter-point step (0.1 s): a 1024-token doc
# spans ~100 s -> ~100 tier-1 (1 s) windows, ~2 tier-2 (1 m) windows
OOO_RATE = 50  # 1-in-50 points displaced (2%, FIXTURES nearly_sorted regime)
OOO_MAX_DISP = 4_000_000  # ≤ 40 steps backwards


def doc_t0(doc_index: np.ndarray, seed: int = 42) -> np.ndarray:
    """Per-doc series start time (hash over the per-doc array, not per point)."""
    return (
        hash2(np.asarray(doc_index, dtype=np.uint64), 3, seed)
        % np.uint64(86_400_000_000)
    ).astype(np.int64) + EPOCH0


def synth_timestamps(
    doc_index: np.ndarray, positions: np.ndarray, seed: int = 42,
    t0: np.ndarray | None = None,
) -> np.ndarray:
    """Event time for each (doc, position) pair (flat arrays).

    One hash per point; jitter / OOO-flag / displacement come from disjoint
    bit fields of the same 64-bit hash (the kernels are memory-bandwidth
    bound at full parallelism — every avoided pass is throughput).
    Pass ``t0`` (flat, from `doc_t0` repeated per point) to skip the
    per-point t0 hash."""
    doc_index = np.asarray(doc_index, dtype=np.uint64)
    positions = np.asarray(positions, dtype=np.int64)
    if t0 is None:
        t0 = doc_t0(doc_index, seed)
    h = hash2(doc_index << np.uint64(20), positions, seed + 9)
    jitter = ((h & np.uint64(0xFFFF)) % np.uint64(STEP_US // 2)).astype(np.int64)
    ts = t0 + positions * STEP_US + jitter
    ooo = ((h >> np.uint64(16)) % np.uint64(OOO_RATE)) == 0
    ooo &= positions > 0
    # displacement only materialized on the ~2% displaced subset (the
    # full-size modulo+cast passes were ~1/3 of this kernel's traffic)
    idx = np.flatnonzero(ooo)
    if len(idx):
        disp = ((h[idx] >> np.uint64(32)) % np.uint64(OOO_MAX_DISP)).astype(np.int64) + 1
        ts[idx] -= disp
    return ts


# the ids whose digits are their series key (the synthetic corpus'
# ``doc0000000123`` -> 123, which the ``tokens_*`` oracles regenerate)
SYNTHETIC_ID = "^doc[0-9]{1,18}$"


def doc_index_from_id(doc_id: pa.Array) -> np.ndarray:
    """The series key (uint64) of each doc id: the digits of a synthetic
    id (``SYNTHETIC_ID``), else a 64-bit hash of the id's UTF-8 bytes, so
    any string keys a series (null and empty ids share one key)."""
    if isinstance(doc_id, pa.ChunkedArray):
        doc_id = doc_id.combine_chunks()
    doc_id = doc_id.cast(pa.string())
    synthetic = pc.fill_null(pc.match_substring_regex(doc_id, SYNTHETIC_ID), False)
    synthetic = synthetic.to_numpy(zero_copy_only=False)
    out = np.empty(len(doc_id), dtype=np.uint64)
    if synthetic.any():
        digits = pc.utf8_slice_codeunits(doc_id.filter(pa.array(synthetic)), 3, 99)
        out[synthetic] = pc.cast(digits, pa.int64()).to_numpy().astype(np.uint64)
    if not synthetic.all():
        out[~synthetic] = _bytes_hash(doc_id.filter(pa.array(~synthetic)))
    return out


def _bytes_hash(strings: pa.Array) -> np.ndarray:
    """64-bit hash of each string's UTF-8 bytes, over the whole Arrow data
    buffer at once: the wrapping sum of one ``hash2(position, byte)`` per
    byte, mixed with the length."""
    bufs = strings.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[
        strings.offset: strings.offset + len(strings) + 1].astype(np.int64)
    data = (np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None
            else np.empty(0, np.uint8))[offsets[0]:offsets[-1]]
    lengths = np.diff(offsets)
    starts = offsets[:-1] - offsets[0]
    pos = np.arange(len(data), dtype=np.int64) - np.repeat(starts, lengths)
    per_byte = hash2(pos.astype(np.uint64), data.astype(np.uint64), 11)
    sums = np.zeros(len(strings), dtype=np.uint64)
    nz = lengths > 0
    if nz.any():
        sums[nz] = np.add.reduceat(per_byte, starts[nz])
    return hash2(sums, lengths.astype(np.uint64), 13)
