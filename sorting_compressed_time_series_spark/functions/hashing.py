"""Deterministic counter-based hashing (splitmix64) used for synthetic data
generation and seriesization.  Counter-based means every value is a pure
function of (seed, index) — identical output at any partitioning or
parallelism level, which is what makes the N-vs-4N scaling run's outputs
byte-comparable. splitmix64 is the public-domain mixer from Steele et al.,
"Fast Splittable Pseudorandom Number Generators" (OOPSLA 2014).

Also Spark's own ``hash()`` of a string column in numpy (``spark_hash``),
so a task that reads its input itself puts rows in the buckets Spark's
``pmod(hash(col), n)`` would.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa

_U = np.uint64


def splitmix64(x: np.ndarray) -> np.ndarray:
    z = x.astype(np.uint64, copy=True)
    z += _U(0x9E3779B97F4A7C15)
    z = (z ^ (z >> _U(30))) * _U(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> _U(27))) * _U(0x94D049BB133111EB)
    return z ^ (z >> _U(31))


def hash2(a: np.ndarray, b: np.ndarray | int, seed: int = 0) -> np.ndarray:
    """Mix two counters and a seed into one uint64 stream."""
    a = np.asarray(a, dtype=np.uint64)
    bb = np.asarray(b, dtype=np.uint64)
    return splitmix64(splitmix64(a ^ _U(seed * 0x9E3779B97F4A7C15 & 0xFFFFFFFFFFFFFFFF)) ^ bb)


def uniform_int(h: np.ndarray, lo: int, hi: int) -> np.ndarray:
    """Map hashes to integers in [lo, hi] (inclusive), small-bias modulo."""
    span = np.uint64(hi - lo + 1)
    return (h % span).astype(np.int64) + lo


_U32 = np.uint32


def _rotl(x: np.ndarray, r: int) -> np.ndarray:
    return (x << _U32(r)) | (x >> _U32(32 - r))


def _mix(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    """Murmur3_x86_32's ``mixK1`` then ``mixH1`` (uint32, wrapping)."""
    k = _rotl(k * _U32(0xCC9E2D51), 15) * _U32(0x1B873593)
    return _rotl(h ^ k, 13) * _U32(5) + _U32(0xE6546B64)


def spark_hash(col: pa.Array | pa.ChunkedArray, seed: int = 42) -> np.ndarray:
    """Spark's ``hash(col)`` of a string column, as int32: Murmur3_x86_32
    ``hashUnsafeBytes`` over each value's UTF-8 bytes with ``seed`` (Spark's
    42) — whole 4-byte little-endian words, then each tail byte on its own,
    sign-extended, as Spark's legacy variant does — and ``seed`` for null.
    ``spark_hash(col) % n`` is Spark's ``pmod(hash(col), n)``.

    Vectorized across rows: one pass per word position, over the rows that
    still have a word there (longest first, so each pass is a prefix)."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if pa.types.is_large_string(col.type) or pa.types.is_large_binary(col.type):
        offs = np.frombuffer(col.buffers()[1], np.int64, len(col) + 1, col.offset * 8)
    else:
        offs = np.frombuffer(col.buffers()[1], np.int32, len(col) + 1, col.offset * 4)
    data = np.frombuffer(col.buffers()[2] or b"", np.uint8)
    start = offs[:-1].astype(np.int64)
    length = np.diff(offs).astype(np.int64)
    h = np.full(len(col), seed, _U32)
    words = length // 4
    order = np.argsort(-words, kind="stable")
    fewer = -words[order]  # ascending
    for j in range(int(words.max(initial=0))):
        rows = order[:np.searchsorted(fewer, -j, "left")]  # the rows with a word j
        pos = start[rows] + 4 * j
        word = (data[pos].astype(_U32) | data[pos + 1].astype(_U32) << _U32(8)
                | data[pos + 2].astype(_U32) << _U32(16) | data[pos + 3].astype(_U32) << _U32(24))
        h[rows] = _mix(h[rows], word)
    tail = start + 4 * words
    for t in range(3):
        rows = np.flatnonzero(length - 4 * words > t)
        byte = data[tail[rows] + t].view(np.int8).astype(np.int32).view(_U32)
        h[rows] = _mix(h[rows], byte)
    h ^= length.astype(_U32)
    h ^= h >> _U32(16)
    h *= _U32(0x85EBCA6B)
    h ^= h >> _U32(13)
    h *= _U32(0xC2B2AE35)
    h ^= h >> _U32(16)
    if col.null_count:
        h[np.asarray(col.is_null())] = seed
    return h.view(np.int32)
