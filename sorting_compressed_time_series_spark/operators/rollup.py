"""Continuous aggregates: tier-0 chunks → tumbling-window rollup tiers.

Semantics follow IoTDB ``GROUP BY ([t1,t2), interval)`` — left-closed
right-open windows aligned to the epoch (reference window iterator
``AggrWindowIterator``, datanode/.../aggregation/timerangeiterator/
AggrWindowIterator.java:30-33) — with the accumulator set
count/sum/min/max/avg/first/last (reference execution/aggregation/*).

Physical design (the SeriesAggregationScanOperator idea made structural,
SURVEY.md §2.5): every tier comes from ONE pass over the points, through
one reduce (``TierReduce``). The finest tier's partials are computed per
(chunk, window) via ``np.*.reduceat`` on the time-sorted points, the
chunks of a doc are merged, and each coarser (nested) tier is cascaded
from the finer tier's rows: every aggregate composes (sum of sums, min of
mins, first by earliest first_ts, ...), so coarser tiers never touch
points again. Two inputs feed the reduce: the promotion kernel
(``tiers_kernel``) decodes chunk blobs, and the fresh ingest's flush task
(``operators.ingest.flush_rollup_kernel``) hands it the points it has just
sorted and encoded. Every chunk of a doc reaches the reduce as one run
(a task holds whole docs, sorted by doc), so the reduce merges the doc's
chunks itself and its rows are final: no plan has a shuffle.

Windows fully covered by a chunk can be answered from chunk statistics
alone (`rollup_from_stats`) without decoding any blob.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame, functions as F

from ..codecs.batched import decode_rows
from ..functions.hashing import hash2
from ..sources.seriesize import doc_index_from_id

WINDOW_1M_US = 60_000_000
WINDOW_1H_US = 3_600_000_000

TIER_PARTIAL_SCHEMA = (
    "doc_id string, source string, window_start bigint, cnt bigint, "
    "sum_v bigint, min_v bigint, max_v bigint, "
    "first_ts bigint, first_v bigint, last_ts bigint, last_v bigint"
)
TIER_PARTIAL_ARROW = pa.schema(
    [("doc_id", pa.string()), ("source", pa.string())]
    + [(c, pa.int64()) for c in ("window_start", "cnt", "sum_v", "min_v", "max_v",
                                 "first_ts", "first_v", "last_ts", "last_v")])


def _blob_np(col: pa.Array) -> tuple[np.ndarray, np.ndarray]:
    """Binary array -> (data uint8, splits int64) without per-row copies."""
    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    bufs = col.buffers()
    offsets = np.frombuffer(bufs[1], dtype=np.int32)[
        col.offset : col.offset + len(col) + 1
    ].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8) if bufs[2] is not None else np.empty(0, np.uint8)
    return data, offsets


def decode_points(chunks_df: DataFrame) -> DataFrame:
    """chunks → (doc_id, source, ts, value) point rows, batched decode."""

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for doc_id, source, ts, vals, splits in _decoded(batches):
            idx = pa.array(np.repeat(np.arange(len(doc_id)), np.diff(splits)))
            yield pa.RecordBatch.from_arrays(
                [doc_id.take(idx), source.take(idx), pa.array(ts), pa.array(vals)],
                names=["doc_id", "source", "ts", "value"],
            )

    return chunks_df.select("doc_id", "source", "time_blob", "value_blob").mapInArrow(
        kern, schema="doc_id string, source string, ts bigint, value bigint"
    )


def with_avg(tier_df: DataFrame) -> DataFrame:
    return tier_df.withColumn("avg_v", F.col("sum_v") / F.col("cnt"))


def rollup_from_stats(chunks_df: DataFrame) -> DataFrame:
    """Aggregate directly from chunk statistics — valid when the query
    window fully covers each chunk (here: per-doc totals). This is the
    reference's statistics-based aggregation scan: zero blob reads; the
    parquet scan prunes to the stats columns only."""
    return chunks_df.groupBy("doc_id", "source").agg(
        F.sum("count").alias("cnt"),
        F.sum("sum_v").alias("sum_v"),
        F.min("min_v").alias("min_v"),
        F.max("max_v").alias("max_v"),
        F.min("min_ts").alias("min_ts"),
        F.max("max_ts").alias("max_ts"),
    )


# ---------------------------------------------------------------------------
# fused multi-tier rollup: every tier from ONE decode pass, ONE job
# ---------------------------------------------------------------------------

TIERS_PARTIAL_SCHEMA = "tier int, " + TIER_PARTIAL_SCHEMA
# a partial: its doc run (index into the batch's run keys), window start,
# then the aggregates in TIER_PARTIAL_SCHEMA order
_PARTIAL_KEYS = ("run", "win", "cnt", "sum", "min", "max", "fts", "fv", "lts", "lv")


def _groups(run: np.ndarray, win: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ends) of the stretches of equal ``(run, win)``."""
    change = np.empty(len(win), dtype=bool)
    change[0] = True
    np.logical_or(win[1:] != win[:-1], run[1:] != run[:-1], out=change[1:])
    starts = np.flatnonzero(change)
    return starts, np.append(starts[1:], len(win))


def _reduce(p: dict, win, s, e, first, last) -> dict:
    """One partial per group ``[s, e)`` of ``p``; first_*/last_* come from
    the rows ``first``/``last``."""
    return {
        "run": p["run"][s], "win": win[s],
        "cnt": np.add.reduceat(p["cnt"], s), "sum": np.add.reduceat(p["sum"], s),
        "min": np.minimum.reduceat(p["min"], s), "max": np.maximum.reduceat(p["max"], s),
        "fts": p["fts"][first], "fv": p["fv"][first],
        "lts": p["lts"][last], "lv": p["lv"][last],
    }


def _point_partials(ts, vals, row_of, run_of_row, window_us: int) -> dict:
    """Per-(chunk row, window) partials of time-sorted points, keyed by the
    row's doc run. Sums accumulate in int64 whatever the values' width (the
    flush holds tokens as int32)."""
    if len(ts) == 0:
        return {k: np.empty(0, np.int64) for k in _PARTIAL_KEYS}
    win = ts // window_us * window_us
    s, e = _groups(row_of, win)
    return {
        "run": run_of_row[row_of[s]], "win": win[s], "cnt": e - s,
        "sum": np.add.reduceat(vals, s, dtype=np.int64), "min": np.minimum.reduceat(vals, s),
        "max": np.maximum.reduceat(vals, s),
        "fts": ts[s], "fv": vals[s], "lts": ts[e - 1], "lv": vals[e - 1],
    }


def _merge_chunks(p: dict) -> dict:
    """Merge the partials of one (run, window) that came from different
    chunks: cnt/sum/min/max by ``reduceat``, first_* from the earliest
    first_ts and last_* from the latest last_ts (the earlier, resp. later,
    chunk on a tie — arrival order, as the flush sort)."""
    run, win = p["run"], p["win"]
    if not np.any((run[1:] == run[:-1]) & (win[1:] <= win[:-1])):
        return p  # one chunk per (run, window) already, in order
    order = np.lexsort((win, run))  # stable: chunk order within a window
    p = {k: v[order] for k, v in p.items()}
    s, e = _groups(p["run"], p["win"])
    seg = np.repeat(np.arange(len(s)), e - s)
    hit = np.flatnonzero(p["fts"] == np.minimum.reduceat(p["fts"], s)[seg])
    first = hit[np.searchsorted(hit, s)]
    hit = np.flatnonzero(p["lts"] == np.maximum.reduceat(p["lts"], s)[seg])
    last = hit[np.searchsorted(hit, e) - 1]
    return _reduce(p, p["win"], s, e, first, last)


def _cascade(p: dict, window_us: int) -> dict:
    """Partials at a window that is a multiple of ``p``'s: ``p`` holds one
    row per (run, finer window) in window order, so a coarse window's first
    point is in its first row and its last point in its last."""
    win = p["win"] // window_us * window_us
    s, e = _groups(p["run"], win)
    return _reduce(p, win, s, e, s, e - 1)


def _run_starts(*cols: pa.Array) -> np.ndarray:
    """True at each row whose key (e.g. doc_id, source) differs from the
    row before (nulls equal nulls, as in a groupBy)."""
    n = len(cols[0])
    starts = np.ones(n, dtype=bool)
    if n > 1:
        same = np.ones(n - 1, dtype=bool)
        for col in cols:
            a, b = col.slice(1), col.slice(0, n - 1)
            eq = pc.coalesce(pc.equal(a, b), pc.and_(pc.is_null(a), pc.is_null(b)))
            same &= eq.to_numpy(zero_copy_only=False)
        starts[1:] = ~same
    return starts


class TierReduce:
    """Every tier's window rows from time-sorted points, fed one batch of
    chunk rows at a time: the finest tier by ``np.*.reduceat`` over the
    points (``_point_partials``), each coarser (nested) tier by cascading
    the finer tier's group arrays (``_cascade``), so the marginal price of
    a coarser tier is ~zero. The rollup kernel feeds it decoded chunks
    (``tiers_kernel``); the flush task feeds it the sorted points it has
    just encoded (``operators.ingest.flush_rollup_kernel``).

    Rows of one ``(doc_id, source)`` that arrive next to each other — a
    *doc run*, possibly straddling batches — are merged into ONE row per
    window (``_merge_chunks``): the last run of a batch stays open and
    merges with the next batch's. Every chunk of a doc must be adjacent in
    the input; the rows are then final, and memory holds one doc's
    partials. A doc fed as several runs gets one row per run and window;
    ``run_keys`` lets the caller see that (the fresh ingest then drops its
    staged tier rows). ``feed`` and ``close`` are generators: the state
    moves as they are consumed."""

    def __init__(self, windows_us: list[int]):
        self.windows_us = windows_us
        self.open_p = self.open_doc = self.open_src = None  # the last doc run, still open
        self.runs: list[tuple[pa.Array, pa.Array]] = []  # (doc_id, source) of closed runs

    def _emit(self, p: dict, doc: pa.Array, src: pa.Array) -> Iterator[pa.RecordBatch]:
        if len(p["run"]) == 0:
            return
        for t, window_us in enumerate(self.windows_us):
            if t:
                p = _cascade(p, window_us)
            idx = pa.array(p["run"])
            yield pa.RecordBatch.from_arrays(
                [pa.array(np.full(len(idx), t, dtype=np.int32)),
                 doc.take(idx), src.take(idx)]
                + [pa.array(p[k]) for k in _PARTIAL_KEYS[1:]],
                names=["tier", "doc_id", "source", "window_start", "cnt", "sum_v",
                       "min_v", "max_v", "first_ts", "first_v", "last_ts", "last_v"],
            )

    def feed(self, doc: pa.Array, src: pa.Array, ts: np.ndarray, vals: np.ndarray,
             splits: np.ndarray) -> Iterator[pa.RecordBatch]:
        """One batch of chunk rows: their keys, and their points sorted by
        time within each row (row ``i`` holds ``[splits[i], splits[i+1])``).
        Yields the rows of the doc runs the batch closes."""
        n = len(doc)
        if n == 0:
            return
        if self.open_doc is not None:
            # the open run goes first, as run 0; the batch's first row
            # joins it when it carries the same key
            doc = pa.concat_arrays([self.open_doc, doc])
            src = pa.concat_arrays([self.open_src, src])
        starts = _run_starts(doc, src)
        run_of = np.cumsum(starts) - 1
        first_rows = pa.array(np.flatnonzero(starts))
        run_doc, run_src = doc.take(first_rows), src.take(first_rows)
        if self.open_doc is not None:
            run_of = run_of[1:]
        row_of = np.repeat(np.arange(n, dtype=np.int64), np.diff(splits))
        p = _point_partials(ts, vals, row_of, run_of, self.windows_us[0])
        if self.open_p is not None:
            p = {k: np.concatenate([self.open_p[k], p[k]]) for k in _PARTIAL_KEYS}
        p = _merge_chunks(p)
        last = len(first_rows) - 1
        closed = p["run"] < last
        self.runs.append((run_doc.slice(0, last), run_src.slice(0, last)))
        yield from self._emit({k: v[closed] for k, v in p.items()}, run_doc, run_src)
        self.open_p = {k: v[~closed] for k, v in p.items()}
        self.open_p["run"][:] = 0
        self.open_doc, self.open_src = run_doc.slice(last, 1), run_src.slice(last, 1)

    def close(self) -> Iterator[pa.RecordBatch]:
        """Yields the rows of the run left open."""
        if self.open_p is not None:
            self.runs.append((self.open_doc, self.open_src))
            yield from self._emit(self.open_p, self.open_doc, self.open_src)
            self.open_p = self.open_doc = self.open_src = None

    def run_keys(self) -> np.ndarray:
        """A 64-bit key (int64) of each doc run seen, in order. Equal runs
        have equal keys; unequal runs share one only on a hash collision
        (null and empty strings key alike)."""
        if not self.runs:
            return np.empty(0, np.int64)
        doc = pa.concat_arrays([d for d, _ in self.runs])
        src = pa.concat_arrays([s for _, s in self.runs])
        return hash2(doc_index_from_id(doc), doc_index_from_id(src)).view(np.int64)


def _decoded(batches: Iterator[pa.RecordBatch]):
    """``ROLLUP_INPUT`` batches → ``TierReduce.feed`` arguments: both
    planes decoded, in one batched pass each."""
    for batch in batches:
        if batch.num_rows == 0:
            continue
        tbuf, tsp = _blob_np(batch.column("time_blob"))
        vbuf, vsp = _blob_np(batch.column("value_blob"))
        ts, splits = decode_rows(tbuf, tsp)
        vals, _ = decode_rows(vbuf, vsp)
        yield batch.column("doc_id"), batch.column("source"), ts, vals, splits


ROLLUP_INPUT = ("doc_id", "source", "time_blob", "value_blob")
# the order in which whole docs reach the kernel: each doc run adjacent
DOC_ORDER = ("doc_id", "source")


def _multi_window_partials_kernel(windows_us: list[int]):
    """Decode each ``ROLLUP_INPUT`` chunk ONCE and feed its points to one
    ``TierReduce``, which emits every tier's window rows from the same
    decoded arrays."""

    def kern(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        tiers = TierReduce(windows_us)
        for args in _decoded(batches):
            yield from tiers.feed(*args)
        yield from tiers.close()

    return kern


def tiers_kernel(windows_us: list[int]):
    """The fused rollup kernel over ``ROLLUP_INPUT`` rows: with every chunk
    of a doc adjacent (``DOC_ORDER``) it emits one final row per (tier,
    doc, window). Refuses tier windows that do not nest: each coarser tier
    is cascaded from the finer tier's rows."""
    for finer, coarser in zip(windows_us, windows_us[1:]):
        if coarser % finer:
            raise ValueError(f"tier windows must nest: {coarser} is not a multiple of {finer}")
    return _multi_window_partials_kernel(list(windows_us))


def rollup_tiers(chunks_df: DataFrame, windows_us: list[int]) -> DataFrame:
    """All retention tiers in ONE pass: rows carry ``tier`` = index into
    ``windows_us``, each window a multiple of the one before. Every tier
    equals a pandas recompute from the decoded points (pytest-asserted).

    Precondition: every chunk of a doc sits in one partition of
    ``chunks_df`` (one chunk per doc, as a flush of one-row-per-doc tokens
    or one chunk per user gives, or a frame partitioned by ``doc_id``).
    Each task sorts its rows by doc and the kernel merges every doc's
    chunks itself: the plan is a sort within partitions and the kernel,
    with no exchange."""
    kern = tiers_kernel(windows_us)
    return (chunks_df.select(*ROLLUP_INPUT).sortWithinPartitions(*DOC_ORDER)
            .mapInArrow(kern, schema=TIERS_PARTIAL_SCHEMA))
