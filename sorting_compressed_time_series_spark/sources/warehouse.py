"""Parquet-backed warehouse with manifest commits — Iceberg-shaped storage
without the Iceberg jars (not in this image; the layout and commit protocol
are designed so swapping `Warehouse` for an Iceberg catalog is a one-file
change: same table names, same partition columns, same snapshot semantics).

Commit protocol (atomic, resumable):
- writers land parquet under ``<table>/snap-<n>/`` (or ``seg-<n>/`` for an
  append): a Python kernel's tasks write their own files
  (``KernelWriter``) under ``_staging/`` and the driver moves the files
  the finished tasks reported
- ``_manifest.json`` names the ONE live snapshot dir, the appended segment
  dirs, watermark and lineage entries (each with the commit's rows, bytes,
  data files and write wall time; the rows as the writing tasks counted
  them when the live set is just what the commit landed, else read from
  parquet footers); readers only ever read the dirs the manifest names
- a snapshot write may also stage rows for other tables (a side writer in
  the same tasks: the fresh ingest's tier rows); the commit names them in
  its manifest's *prepared* record, and ``commit_prepared`` later commits
  them to their tables with a rename and a manifest swap
- a commit = write new snapshot dir, then atomically replace the manifest
  (os.replace). A crash before the manifest swap leaves the old snapshot
  live; re-running the (deterministic) job re-creates the same new
  snapshot — which is what makes tier promotion checkpoint-resumable.

Partitioning: chunk/tier tables carry a ``p_day`` column (UTC day of
window_start) used as the physical partition key — the analogue of
Iceberg ``days(window_start)`` — so TTL retention is a partition drop and
time-range queries prune at the directory level. The chunk table adds
``bucket(doc_id, N)`` in its file names (``_<bucket:05d>``, Spark's
bucket-file rule): its snapshot and every segment name their bucket, so a
task reads one bucket's files — all the chunks of its docs — with pyarrow
(``bucket_files``, ``bucket_reader``), and no read goes through a catalog.
"""

from __future__ import annotations

import dataclasses
import functools
import json
import os
import re
import shutil
import time
import uuid
from collections.abc import Callable, Iterator
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

US_PER_DAY = 86_400_000_000
# parquet row groups of ~4 MB keep blob-bearing snapshots SPLITTABLE: with
# the 128 MB default, a table written from k tasks caps every later scan at
# k tasks (one row group per file) — at high parallelism that is one
# unbalanced task wave. Small row groups cost ~nothing on stat/partial
# tables (they are smaller than one group anyway) and let decode scans
# split chunk files.
ROW_GROUP_BYTES = 4 << 20
# what a kernel's tasks return instead of its rows: one row per file written
# (with the task's partition id), plus each task's seconds blocked on input,
# in the kernel and writing, and the count or the doc-run keys its kernel
# returned (``KernelWriter.task``)
TASK_TIMERS = ("input_wait_s", "kernel_s", "write_s")
FILES_SCHEMA = ("task int, slice int, p_day bigint, bucket int, path string, rows bigint, "
                + ", ".join(f"{t} double" for t in TASK_TIMERS)
                + ", kernel_n bigint, run_keys binary")
_BUCKET = "_bucket"  # the input column carrying Spark's bucket id
_TASK = "_task"  # the input column carrying a task's id
# Spark's rule for the bucket id of a data file (``BucketingUtils.getBucketId``):
# the digits after the last ``_`` of the name, before its extension
_BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?")
HELD_PER_BYTE = 20  # a bucket task's peak RSS per footer byte of a pass (README)
DECODED_BYTES_PER_POINT = 88  # the bucket kernels' peak RSS per point of a batch (compaction's)


def p_day_of(window_start: np.ndarray) -> np.ndarray:
    """``with_p_day`` in numpy: the same double division and truncating
    cast, so a kernel's files land in the partitions Spark would pick."""
    return (window_start.astype(np.float64) / US_PER_DAY).astype(np.int64)


Kernel = Callable[[Iterator[pa.RecordBatch]], Iterator[pa.RecordBatch]]


@dataclass(frozen=True)
class KernelWriter:
    """The one parquet writer of kernel output: wraps a ``mapInArrow``
    kernel so that each task writes the kernel's rows itself, with pyarrow,
    and returns one ``FILES_SCHEMA`` row per file instead of the rows.

    Files land in ``<staging>/attempt-<taskAttemptId>/[<slice_col>=<v>/]
    p_day=<d>/part-<partition>-<uuid>[_<bucket>].c000.zstd.parquet``, where
    ``p_day`` comes from the rows' ``window_start`` and ``<v>`` from their
    ``slice_col`` column (dropped from the file). With ``bucket_by=(col,
    n)`` each file gets Spark's ``_<bucket:05d>`` suffix, so
    ``Warehouse.bucket_files`` maps it to its bucket (for
    ``bucket_reader``); ``_InputBuckets`` is the rule that picks a row's
    bucket. The file schema is ``schema``, in row groups of ~4 MB, each
    column encoded by its Arrow type (``_encoding``): integers
    ``DELTA_BINARY_PACKED``, strings dictionary pages (none in a sliced
    write), blobs PLAIN, all zstd level 1, min/max statistics on every
    column but the blobs.

    A writer may carry a ``side`` writer (``with_side``): the same tasks
    then write two sets of files from one kernel, e.g. the flush's chunks
    and the tier rows it rolled up from the same points."""

    staging: str
    schema: pa.Schema
    slice_col: str | None = None
    bucket_by: tuple[str, int] | None = None
    side: KernelWriter | None = None

    def with_side(self, schema: pa.Schema, slice_col: str) -> KernelWriter:
        """This writer with a side writer of ``schema`` rows sliced by
        ``slice_col``, staged in the same place."""
        return dataclasses.replace(self, side=KernelWriter(self.staging, schema, slice_col))

    def frame(self, src: DataFrame, kern: Kernel, read: Kernel | None = None) -> DataFrame:
        """``src`` → [``read`` →] ``kern`` → files: the frame
        ``Warehouse.write``, ``write_slices`` and ``append_segment`` commit.
        A bucketed write's kernel input carries each row's bucket id in
        ``_BUCKET``: ``read`` tags the rows it reads (``bucket_reader``,
        ``file_input.split_reader``), else ``src`` gets Spark's bucket of
        ``col``."""
        if self.bucket_by is not None and read is None:
            col, n = self.bucket_by
            # Spark's bucketed write assigns pmod(murmur3(col), n): the same
            # expression, so the files' suffixes agree with Spark's own
            src = src.withColumn(_BUCKET, F.pmod(F.hash(col), F.lit(n)))
        return src.mapInArrow(self.task(kern, read), FILES_SCHEMA)

    def spark_schema(self):
        """The table schema for the manifest: the file columns, then
        ``p_day``, as Spark reads them back."""
        from pyspark.sql.pandas.types import from_arrow_schema
        from pyspark.sql.types import LongType, StructField, StructType

        return StructType(from_arrow_schema(self.schema).fields
                          + [StructField("p_day", LongType(), True)])

    def task(self, kern: Kernel, read: Kernel | None = None) -> Kernel:
        """What each task runs: ``kern`` over the task's batches (turned
        into the kernel's input by ``read`` first, if given), its rows
        written to parquet; yields one ``FILES_SCHEMA`` row per file. The
        first row also carries the task's seconds blocked on input, in the
        kernel and writing (``close()`` included), and ``kernel_n``: what
        the kernel generator returned (compaction: the docs it merged), or
        0; a task that wrote no file yields one row with a null path to
        carry them.

        With a ``side`` writer the kernel yields ``(to_side, batch)``
        pairs and returns the key of each doc run it saw (int64), carried
        in ``run_keys``. The side's files follow the task's own, with the
        seconds spent producing and writing the side's batches on the
        first of them (none when it wrote nothing)."""

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt, part = ((ctx.taskAttemptId(), ctx.partitionId()) if ctx
                             else (uuid.uuid4().hex, 0))
            writers = [self] + ([self.side] if self.side is not None else [])
            files = [_TaskFiles(w, os.path.join(w.staging, f"attempt-{attempt}"), part)
                     for w in writers]
            # per writer: input wait, kernel + input wait, write
            clock = np.zeros((len(writers), 3))
            rows = read(batches) if read is not None else batches
            buckets = _InputBuckets() if self.bucket_by is not None else None
            rows = _timed(buckets.read(rows) if buckets is not None else rows, clock, (0, 0))
            ret = None

            def outputs():
                nonlocal ret
                ret = yield from kern(rows)

            paired = self.side is not None  # items are (to_side, batch)
            slot = (lambda item: (int(item[0]), 1)) if paired else (0, 1)
            for item in _timed(outputs(), clock, slot):
                w, out = (int(item[0]), item[1]) if paired else (0, item)
                if out.num_rows == 0:
                    continue
                t0 = time.perf_counter()
                files[w].add(out, buckets.of(out) if buckets is not None and w == 0 else None)
                clock[w, 2] += time.perf_counter() - t0
            written = []
            for w, f in enumerate(files):
                t0 = time.perf_counter()
                written.append(f.close())
                clock[w, 2] += time.perf_counter() - t0
            clock[0, 1] -= clock[0, 0]
            if paired:
                yield _files_batch(part, written[0], clock[0], 0,
                                   np.asarray(ret, dtype=np.int64))
                if written[1]:
                    yield _files_batch(part, written[1], clock[1], 0)
            else:
                yield _files_batch(part, written[0], clock[0], ret or 0)

        return run


class _InputBuckets:
    """The rule that puts a bucketed write's output rows in buckets, from
    the ``_BUCKET`` ids of the task's input as the kernel reads it (after
    ``read``). While every input row so far lies in one bucket (a
    whole-bucket stage's task reads one bucket), every output row is in
    that bucket, whatever the kernel emits. Otherwise the kernel must emit
    one row per row of the input batch it read last, in order, in one or
    more batches (the flush), and each row is in its input row's bucket."""

    def __init__(self):
        self.one, self.mixed, self.last, self.used = None, False, None, 0

    def read(self, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            if self.mixed and self.used != len(self.last):
                self._refuse()
            ids = batch.column(_BUCKET).to_numpy(zero_copy_only=False)
            if self.one is None:
                self.one = ids[0]
            self.mixed = self.mixed or bool((ids != self.one).any())
            self.last, self.used = ids, 0
            yield batch

    def of(self, out: pa.RecordBatch) -> np.ndarray:
        if self.one is not None and not self.mixed:
            return np.full(out.num_rows, self.one)
        n = out.num_rows
        if self.last is None or self.used + n > len(self.last):
            self._refuse()
        self.used += n
        return self.last[self.used - n:self.used]

    @staticmethod
    def _refuse():
        raise ValueError("a bucketed kernel write over rows of several buckets needs "
                         "one output row per input row")


def task_ids(spark: SparkSession, n: int) -> DataFrame:
    """The input of a job whose tasks read their own files: the ids
    ``0..n-1`` in ``_TASK``, task ``t`` holding id ``t`` alone."""
    return spark.range(n, numPartitions=n).withColumnRenamed("id", _TASK)


def bucket_reader(buckets: dict[int, list[str]], columns: tuple[str, ...], *,
                  filters: list[list[tuple]], sort_by: tuple[str, ...],
                  batch_rows: int, memory: int) -> Kernel:
    """Task ``b``'s input (``task_ids``): bucket ``b``'s chunk rows matching
    ``filters`` (pyarrow's OR of ANDs), ``columns`` (with ``count``) only,
    stably sorted by ``sort_by`` (led by ``doc_id``), tagged ``_BUCKET``, in
    the passes of ``_doc_passes`` under ``budget = memory // HELD_PER_BYTE``.
    A batch is its own ``take`` of ≤ ``batch_rows`` rows (if > 0) and, but
    for one row, ≤ ``budget // DECODED_BYTES_PER_POINT`` points."""
    budget = memory // HELD_PER_BYTE

    def read(ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.compute as pc

        for batch in ids:
            for b in batch.column(_TASK).to_numpy():
                data = _footed(buckets[int(b)])
                for where in _doc_passes(data, columns, filters, budget):
                    # one thread: the job's tasks already keep every core busy
                    # (pyarrow's own pool measured slower at 4 tasks on 4 cores)
                    table = data.to_table(columns=list(columns), filter=where,
                                          use_threads=False).combine_chunks()
                    order = pc.sort_indices(table, [(c, "ascending") for c in sort_by])
                    cum = np.cumsum(table["count"].to_numpy()[order.to_numpy()])
                    for lo, hi in _runs(cum, budget // DECODED_BYTES_PER_POINT,
                                        batch_rows if batch_rows > 0 else len(cum)):
                        rows = table.take(order[lo:hi]).to_batches()[0]
                        yield rows.append_column(
                            _BUCKET, pa.array(np.full(rows.num_rows, b, np.int32)))
                    table = None  # before the next pass's read

    return read


def _runs(cum: np.ndarray, cap: float, most: int) -> list[tuple[int, int]]:
    """``(lo, hi)`` of consecutive runs of 1 to ``most`` of the items whose
    running total is ``cum``, each within ``cap`` or of one item."""
    runs, lo = [], 0
    while lo < len(cum):
        hi = int(np.searchsorted(cum, (cum[lo - 1] if lo else 0) + cap, "right"))
        runs.append((lo, min(max(hi, lo + 1), lo + most)))
        lo = runs[-1][1]
    return runs


def _footed(paths: list[str]) -> pa.dataset.FileSystemDataset:
    """``paths`` as one ``pyarrow.dataset`` whose fragments hold their
    footers, each read once here: every later read of it prunes row groups
    by the cached statistics and opens no footer again (a
    ``pq.read_table(paths)`` re-reads every footer, per call)."""
    import pyarrow.dataset as ds
    from pyarrow import fs

    local, fmt = fs.LocalFileSystem(), ds.ParquetFileFormat()
    frags = [fmt.make_fragment(path, local) for path in paths]
    for frag in frags:
        frag.ensure_complete_metadata()
    return ds.FileSystemDataset(frags, frags[0].physical_schema if frags else pa.schema([]),
                                fmt, local)


def _doc_passes(data: pa.dataset.FileSystemDataset, columns: tuple[str, ...],
                filters: list[list[tuple]], budget: int) -> list:
    """``bucket_reader``'s pass filters over one bucket's files (``_footed``),
    as expressions: ``filters`` if the footers' uncompressed bytes of
    ``columns`` fit ``budget``; else, per contiguous range of sorted
    ``doc_id`` whose points × bytes per point fit it (or one doc),
    ``filters`` in the range; last, the null id."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    mds = [frag.metadata for frag in data.get_fragments()]
    nbytes = sum(md.row_group(g).column(j).total_uncompressed_size for md in mds
                 for g in range(md.num_row_groups) for j in range(md.num_columns)
                 if md.schema.column(j).path in columns)
    where = pq.filters_to_expression(filters)
    if nbytes <= budget:
        return [where] if mds else []
    keys = {c for conj in filters for c, _, _ in conj} | {"doc_id", "count"}
    rows = data.to_table(columns=sorted(keys), use_threads=False)
    per_point = nbytes / max(pc.sum(rows["count"]).as_py() or 0, 1)
    docs = rows.filter(where).group_by("doc_id").aggregate([("count", "sum")]).sort_by("doc_id")
    ids, doc = docs["doc_id"], pc.field("doc_id")
    n = len(ids) - ids.null_count
    cum = np.cumsum(docs["count_sum"].to_numpy(zero_copy_only=False)[:n] * per_point)
    return ([where & (doc >= ids[lo].as_py()) & (doc <= ids[hi - 1].as_py())
             for lo, hi in _runs(cum, budget, n)] + [where & doc.is_null()] * (n < len(ids)))


def _timed(it: Iterator, clock: np.ndarray, slot) -> Iterator:
    """``it``, adding the seconds spent producing each item to
    ``clock[slot]``, or to ``clock[slot(item)]`` when ``slot`` is a
    function (then the wait for the end of ``it`` counts for the last
    item's slot)."""
    it = iter(it)
    last = None if callable(slot) else slot
    while True:
        t0 = time.perf_counter()
        try:
            item = next(it)
        except StopIteration:
            if last is not None:
                clock[last] += time.perf_counter() - t0
            return
        last = slot(item) if callable(slot) else slot
        clock[last] += time.perf_counter() - t0
        yield item


def _summed(rows: list) -> dict[str, float]:
    """The ``TASK_TIMERS`` of ``FILES_SCHEMA`` rows, summed over tasks, and
    the number of tasks."""
    return {**{t: sum(r[t] for r in rows) for t in TASK_TIMERS},
            "tasks": len({r.task for r in rows})}


def _files_batch(task: int, written: list[tuple], clock: np.ndarray, kernel_n: int,
                 run_keys: np.ndarray | None = None) -> pa.RecordBatch:
    """The ``FILES_SCHEMA`` rows of one writer of task ``task``: its files,
    then its timers, ``kernel_n`` and ``run_keys`` on the first row (on a
    null-path row when it wrote none)."""
    written = written or [(None, None, None, None, 0)]
    cols = list(zip(*written))
    timers = np.zeros((3, len(written)))
    timers[:, 0] = clock
    counts = np.zeros(len(written), dtype=np.int64)
    counts[0] = kernel_n
    keys = [None] * len(written)
    if run_keys is not None:
        keys[0] = run_keys.tobytes()
    return pa.RecordBatch.from_arrays(
        [pa.array(np.full(len(written), task, np.int32)),
         pa.array(cols[0], pa.int32()), pa.array(cols[1], pa.int64()),
         pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.string()),
         pa.array(cols[4], pa.int64())] + [pa.array(t) for t in timers]
        + [pa.array(counts), pa.array(keys, pa.binary())],
        names=["task", "slice", "p_day", "bucket", "path", "rows", *TASK_TIMERS, "kernel_n",
               "run_keys"])


def _encoding(schema: pa.Schema, sliced: bool) -> dict:
    """The ``ParquetWriter`` options of a kernel file, from its columns'
    Arrow types: integers ``DELTA_BINARY_PACKED`` (the reference's TS_2DIFF
    frame: a min delta per block of 128 values, bit-packed miniblocks),
    strings dictionary pages unless the write is sliced, the rest (blobs,
    booleans) PLAIN; zstd level 1; min/max statistics on every column but the blobs
    (``footer_stats`` and ``_doc_passes`` read them)."""
    ints = [f.name for f in schema if pa.types.is_integer(f.type)]
    strings = [f.name for f in schema if pa.types.is_string(f.type)]
    return dict(compression="zstd", compression_level=1,
                use_dictionary=False if sliced else strings,
                column_encoding=dict.fromkeys(ints, "DELTA_BINARY_PACKED"),
                write_statistics=[f.name for f in schema if not pa.types.is_binary(f.type)])


@dataclass
class _OpenFile:
    path: str
    writer: object = None  # pq.ParquetWriter, opened at the first row group
    buffered: list[pa.RecordBatch] = field(default_factory=list)
    nbytes: int = 0  # of the buffered batches
    rows: int = 0  # written and buffered


class _TaskFiles:
    """The files of one task, one per (slice, p_day, bucket): batches are
    buffered per file and written as ~4 MB row groups."""

    def __init__(self, spec: KernelWriter, attempt_dir: str, part: int):
        self.spec, self.dir = spec, attempt_dir
        self.prefix = f"part-{part:05d}-{uuid.uuid4()}"
        self.files: dict[tuple[int, int, int], _OpenFile] = {}
        self.options = _encoding(spec.schema, sliced=spec.slice_col is not None)

    def add(self, batch: pa.RecordBatch, bucket: np.ndarray | None) -> None:
        n = batch.num_rows
        if n == 0:
            return
        spec = self.spec
        keys = np.zeros((3, n), dtype=np.int64)  # slice, p_day, bucket
        if spec.slice_col is not None:
            keys[0] = batch.column(spec.slice_col).to_numpy(zero_copy_only=False)
        keys[1] = p_day_of(batch.column("window_start").to_numpy(zero_copy_only=False))
        if bucket is not None:
            keys[2] = bucket
        rows = batch.select(spec.schema.names)
        if not rows.schema.equals(spec.schema):
            rows = rows.cast(spec.schema)
        if (keys == keys[:, :1]).all():
            self._buffer(tuple(keys[:, 0]), rows)
            return
        order = np.lexsort(keys[::-1])
        keys, rows = keys[:, order], rows.take(pa.array(order))
        starts = np.concatenate(
            [[0], np.flatnonzero((keys[:, 1:] != keys[:, :-1]).any(axis=0)) + 1, [n]])
        for s, e in zip(starts[:-1], starts[1:]):
            self._buffer(tuple(keys[:, s]), rows.slice(s, e - s))

    def _buffer(self, key: tuple[int, int, int], rows: pa.RecordBatch) -> None:
        f = self.files.get(key)
        if f is None:
            f = self.files[key] = _OpenFile(self._path(*key))
        f.buffered.append(rows)
        f.nbytes += rows.nbytes
        f.rows += rows.num_rows
        if f.nbytes >= ROW_GROUP_BYTES:
            self._write(f)

    def _path(self, slice_v: int, p_day: int, bucket: int) -> str:
        d = self.dir
        if self.spec.slice_col is not None:
            d = os.path.join(d, f"{self.spec.slice_col}={slice_v}")
        name = self.prefix + (f"_{bucket:05d}" if self.spec.bucket_by is not None else "")
        return os.path.join(d, f"p_day={p_day}", name + ".c000.zstd.parquet")

    def _write(self, f: _OpenFile) -> None:
        import pyarrow.parquet as pq

        if not f.buffered:
            return
        if f.writer is None:
            os.makedirs(os.path.dirname(f.path), exist_ok=True)
            f.writer = pq.ParquetWriter(f.path, self.spec.schema, **self.options)
        table = pa.Table.from_batches(f.buffered)
        f.writer.write_table(table, row_group_size=max(
            1, table.num_rows * ROW_GROUP_BYTES // max(f.nbytes, 1)))
        f.buffered, f.nbytes = [], 0

    def close(self) -> list[tuple]:
        """Write what is buffered, close every file, and describe them:
        ``(slice, p_day, bucket, path, rows)`` each."""
        spec, out = self.spec, []
        for (slice_v, p_day, bucket), f in self.files.items():
            self._write(f)
            f.writer.close()
            out.append((slice_v if spec.slice_col is not None else None, p_day,
                        bucket if spec.bucket_by is not None else None, f.path, f.rows))
        return out


class Warehouse:
    def __init__(self, root: str):
        self.root = root
        os.makedirs(root, exist_ok=True)

    # -- manifest ---------------------------------------------------------
    def _manifest_path(self, table: str) -> str:
        return os.path.join(self.root, table, "_manifest.json")

    def manifest(self, table: str) -> dict:
        p = self._manifest_path(table)
        if not os.path.exists(p):
            return {"snapshot": None, "version": 0, "watermark_us": None, "lineage": []}
        with open(p) as f:
            return json.load(f)

    def _swap_manifest(self, table: str, m: dict) -> None:
        tmp = self._manifest_path(table) + ".tmp"
        os.makedirs(os.path.dirname(tmp), exist_ok=True)
        with open(tmp, "w") as f:
            json.dump(m, f, indent=1)
        os.replace(tmp, self._manifest_path(table))  # the atomic commit point

    def _log(self, table: str, m: dict, entry: dict, rows: int | None = None) -> None:
        """Append a lineage entry to ``m`` (the last 50 are kept), with the
        rows, bytes and data files of the live set ``m`` names. ``rows``
        is given when the live set is exactly the files a commit just
        landed (their writers counted them); else it is read from the
        parquet footers. No Spark job either way."""
        files = self._data_files(table, m)
        if rows is None:
            rows, _ = self._footer_stats(files, ())
        entry = dict(entry, rows=rows, bytes=sum(os.path.getsize(f) for f in files),
                     files=len(files), ts=time.time(), version=m["version"])
        m["lineage"] = (m["lineage"] + [entry])[-50:]

    def _commit(self, table: str, snapshot_dir: str, watermark_us: int | None,
                lineage_entry: dict, schema_json: str | None = None,
                bucket_spec: list | None = None, rows: int | None = None,
                prepared: dict | None = None) -> None:
        """Make ``snapshot_dir`` (holding ``rows`` rows, if known) the
        table's one live dir. The table's prepared record (``write``) is
        replaced by ``prepared``: a new snapshot retires the old one."""
        m = self.manifest(table)
        old_dirs = self._live_dirs(table, m)
        old_prepared = m.pop("prepared", None)
        if prepared is not None:
            m["prepared"] = prepared
        m["snapshot"] = snapshot_dir
        m["segments"] = []
        m["pending_appends"] = []
        m["version"] += 1
        if watermark_us is not None:
            m["watermark_us"] = watermark_us
        if schema_json is not None:
            # persisted so a fully-expired table still reads as an EMPTY
            # frame with the right schema (retention is a partition drop
            # that can hollow out every live dir)
            m["schema"] = schema_json
        m["bucket_spec"] = bucket_spec  # [col, n_buckets] or None
        self._log(table, m, lineage_entry, rows)
        self._swap_manifest(table, m)
        for d in old_dirs:
            if d != snapshot_dir:
                shutil.rmtree(os.path.join(self.root, table, d), ignore_errors=True)
        if old_prepared is not None:
            shutil.rmtree(os.path.join(self.root, old_prepared["dir"]), ignore_errors=True)

    # -- io ----------------------------------------------------------------
    def kernel_writer(self, tables: str | list[str], schema: pa.Schema, *,
                      slice_col: str | None = None,
                      bucket_by: tuple[str, int] | None = None) -> KernelWriter:
        """The writer whose tasks stage the next commit of ``tables`` (one
        table; for ``write_slices`` one per slice) as files of ``schema``,
        under ``_staging/<table>.v<next version>[-…]``."""
        names = [tables] if isinstance(tables, str) else list(tables)
        commit = "-".join(f"{t}.v{self.manifest(t)['version'] + 1}" for t in names)
        return KernelWriter(os.path.join(os.path.abspath(self.root), "_staging", commit),
                            schema, slice_col, bucket_by)

    @staticmethod
    def _land(df: DataFrame, files: KernelWriter, dirs: dict) -> list:
        """Run a kernel's write job and move the files its finished tasks
        reported into ``dirs[slice]`` (the key is None without slices).
        A failed or speculative attempt's files are never reported, so they
        are never committed. Each dir is cleared first: a crash before the
        manifest swap leaves an orphan dir that the rerun replaces. Returns
        the tasks' ``FILES_SCHEMA`` rows."""
        shutil.rmtree(files.staging, ignore_errors=True)  # a crashed run's attempts
        rows = df.collect()
        for d in dirs.values():
            shutil.rmtree(d, ignore_errors=True)
            os.makedirs(d)
        for r in rows:
            if r.path is None:  # a task that wrote no file: timers only
                continue
            part = os.path.join(dirs[r.slice], f"p_day={r.p_day}")
            os.makedirs(part, exist_ok=True)
            os.replace(r.path, os.path.join(part, os.path.basename(r.path)))
        shutil.rmtree(files.staging, ignore_errors=True)  # what no finished task reported
        return rows

    def write(self, df: DataFrame, table: str, *, watermark_us: int | None = None,
              op: str | Callable[[int], str | None] = "overwrite",
              files: KernelWriter, stage: dict[int, str] | None = None,
              stage_meta: dict | None = None, lineage: dict | None = None) -> int:
        """Commit a new snapshot: ``df`` is the frame of a kernel that writes
        its own rows (``files.frame``). With ``files.bucket_by=(col, n)``
        the snapshot is hash-clustered by ``col`` into ``n`` buckets (the
        stand-in for Iceberg ``bucket(col, n)``), which ``bucket_files``
        maps. ``op`` names the commit in the lineage; as a function of the
        tasks' summed ``kernel_n`` it may return None, and then nothing is
        committed (a compaction that merged no doc). Returns that sum. The
        lineage entry also carries the tasks' summed timers, their count
        and ``lineage``.

        With a side writer (``files.side``, sliced), the files of slice
        ``v`` are staged for table ``stage[v]``'s next commit, and the
        commit records them as the table's *prepared* record (``prepared``,
        with ``stage_meta``): ``commit_prepared`` later commits them with
        no job. The side's rows are final per doc run, so they are kept
        only when no doc-run key repeats across the tasks (every doc one
        run of one task); otherwise they are deleted at once."""
        t0 = time.perf_counter()
        m = self.manifest(table)
        snap = f"snap-{m['version'] + 1}"
        path = os.path.join(self.root, table, snap)
        dirs = {None: path}
        if files.side is not None:
            staged = os.path.join("_staging", f"{table}.v{m['version'] + 1}.prepared")
            self._drop_staged(table, keep=m.get("prepared"))  # a crashed run's
            dirs.update({v: os.path.join(self.root, staged, name) for v, name in stage.items()})
        rows = self._land(df, files, dirs)
        own = [r for r in rows if r.slice is None]
        kernel_n = sum(r.kernel_n for r in own)
        if callable(op):
            op = op(kernel_n)
            if op is None:
                shutil.rmtree(path, ignore_errors=True)
                return kernel_n
        prepared = None
        if files.side is not None:
            keys = [np.frombuffer(r.run_keys, np.int64) for r in own if r.run_keys is not None]
            keys = np.concatenate(keys) if keys else np.empty(0, np.int64)
            if len(np.unique(keys)) == len(keys):
                side = [r for r in rows if r.slice is not None]
                timers = _summed(side)
                prepared = dict(stage_meta or {}, version=m["version"] + 1, dir=staged,
                                schema=files.side.spark_schema().json(), tables={
                                    name: dict(timers, rows=sum(r.rows for r in side
                                                                if r.slice == v))
                                    for v, name in stage.items()})
            else:
                shutil.rmtree(os.path.join(self.root, staged), ignore_errors=True)
        bucket_spec = list(files.bucket_by) if files.bucket_by is not None else None
        self._commit(table, snap, watermark_us,
                     {"op": op, "wall_s": time.perf_counter() - t0, **_summed(own),
                      **(lineage or {})},
                     schema_json=files.spark_schema().json(), bucket_spec=bucket_spec,
                     rows=sum(r.rows for r in own), prepared=prepared)
        return kernel_n

    def prepared(self, table: str) -> dict | None:
        """The table's prepared record: the side rows its last snapshot's
        write staged (``write``), under ``dir`` relative to the root, one
        subdir per table in ``tables`` with its rows and task seconds, and
        the snapshot ``version`` they belong to. None when there is none."""
        return self.manifest(table).get("prepared")

    def commit_prepared(self, source: str, table: str, *, watermark_us: int | None,
                        op: str) -> None:
        """Commit ``table``'s rows staged in ``source``'s prepared record as
        ``table``'s new snapshot, with ``watermark_us``: a directory move
        and a manifest swap, no Spark job and no footer read. The lineage
        entry carries the staging tasks' seconds and count and
        ``prepared_by``, the ``source`` version that computed the rows."""
        t0 = time.perf_counter()
        rec = self.prepared(source)
        snap = f"snap-{self.manifest(table)['version'] + 1}"
        dest = os.path.join(self.root, table, snap)
        shutil.rmtree(dest, ignore_errors=True)  # a crashed commit's orphan
        os.makedirs(os.path.dirname(dest), exist_ok=True)
        os.replace(os.path.join(self.root, rec["dir"], table), dest)
        info = rec["tables"][table]
        self._commit(table, snap, watermark_us,
                     {"op": op, "wall_s": time.perf_counter() - t0,
                      **{k: v for k, v in info.items() if k != "rows"},
                      "prepared_by": rec["version"]},
                     schema_json=rec["schema"], rows=info["rows"])

    def drop_prepared(self, table: str) -> None:
        """Retire ``table``'s prepared record, then delete what it staged
        (a record never names a half-deleted dir)."""
        m = self.manifest(table)
        if m.pop("prepared", None) is not None:
            self._swap_manifest(table, m)
        self._drop_staged(table)

    def _drop_staged(self, table: str, keep: dict | None = None) -> None:
        """Delete every dir ``table``'s prepared records staged, but
        ``keep``'s."""
        root = os.path.join(self.root, "_staging")
        prefix = f"{table}.v"
        for d in os.listdir(root) if os.path.isdir(root) else []:
            if (d.startswith(prefix) and d.endswith(".prepared")
                    and (keep is None or os.path.join("_staging", d) != keep["dir"])):
                shutil.rmtree(os.path.join(root, d), ignore_errors=True)

    def write_slices(self, df: DataFrame, slice_col: str,
                     tables: dict[int, str], *,
                     watermarks: dict[int, int] | None = None,
                     op: str = "promote", files: KernelWriter) -> None:
        """ONE Spark job commits MANY tables.

        ``df`` is the frame of a kernel that writes its own rows
        (``files.frame``, sliced by ``slice_col``): each task writes one
        file per ``(slice_col, p_day)`` it meets, and the files of slice
        ``v`` are then moved into table ``tables[v]``'s next snapshot and
        committed with that table's own manifest + watermark. Filesystem
        moves plus per-table atomic manifest swaps — no extra jobs, no
        read-backs (the Iceberg analogue: one data write, N table commits).
        A crash between the per-table commits leaves earlier tables live
        and later ones unpromoted; a rerun of the promotion goes through
        the same plan, with the committed tables as ``noop`` tiers, and
        finishes the others. A slice with zero rows commits a
        hollow snapshot that reads back as an empty frame via the
        persisted schema."""
        assert files.slice_col == slice_col
        t0 = time.perf_counter()
        snaps = {val: f"snap-{self.manifest(tbl)['version'] + 1}" for val, tbl in tables.items()}
        rows = self._land(df, files, {val: os.path.join(self.root, tables[val], snap)
                                      for val, snap in snaps.items()})
        wall_s = time.perf_counter() - t0  # the one write all tables share
        timers = _summed(rows)
        schema_json = files.spark_schema().json()
        for val, tbl in tables.items():
            self._commit(tbl, snaps[val], (watermarks or {}).get(val),
                         {"op": op, "wall_s": wall_s, **timers},
                         schema_json=schema_json, bucket_spec=None,
                         rows=sum(r.rows for r in rows if r.slice == val))

    def append_segment(self, df: DataFrame, table: str, *, op: str = "append",
                       files: KernelWriter, lineage: dict | None = None) -> str:
        """Append-only commit: land the new rows as an extra SEGMENT dir and
        add it to the manifest — the existing snapshot is untouched (no
        table rewrite; Iceberg's append = manifest-add is exactly this).
        ``df``, ``files`` and ``lineage`` as in ``write``; the segment's
        bucket spec must be the table's, so ``bucket_files`` still maps
        the table. The segment is also recorded under ``pending_appends``
        so the next promotion can MERGE just the affected keys instead of
        recomputing every tier. A crash before the manifest swap leaves an
        orphan dir the manifest never names; the rerun overwrites it."""
        t0 = time.perf_counter()
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no base snapshot to append to")
        if (list(files.bucket_by) if files.bucket_by else None) != m.get("bucket_spec"):
            raise ValueError(f"segment buckets {files.bucket_by} are not the table's "
                             f"{m.get('bucket_spec')}")
        seg = f"seg-{m['version'] + 1}"
        rows = self._land(df, files, {None: os.path.join(self.root, table, seg)})
        m["segments"] = m.get("segments", []) + [seg]
        m["pending_appends"] = m.get("pending_appends", []) + [seg]
        m["version"] += 1
        self._log(table, m, {"op": op, "segment": seg, "wall_s": time.perf_counter() - t0,
                             **_summed(rows), **(lineage or {})})
        self._swap_manifest(table, m)
        return seg

    def _live_dirs(self, table: str, m: dict | None = None) -> list[str]:
        m = m or self.manifest(table)
        return ([m["snapshot"]] if m["snapshot"] else []) + m.get("segments", [])

    def _data_files(self, table: str, m: dict | None = None) -> list[str]:
        """Parquet files of the live snapshot and segments. Like Spark's
        file listing, skips every file or directory named ``_*`` or ``.*``
        (_SUCCESS, checksums, _temporary)."""
        return [f for d in self._live_dirs(table, m) for f in self._dir_files(table, d)]

    def _dir_files(self, table: str, d: str) -> list[str]:
        """Parquet files under one snapshot or segment dir ``d``, sorted."""
        files = []
        for dp, dirs, fs in os.walk(os.path.join(self.root, table, d)):
            dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
            files += [os.path.join(dp, f) for f in fs if not f.startswith(("_", "."))]
        return sorted(files)

    @staticmethod
    def _footer_stats(files: list[str], columns) -> tuple[int, dict]:
        import pyarrow.parquet as pq

        rows, lo, hi = 0, {}, {}
        for path in files:
            md = pq.read_metadata(path)
            rows += md.num_rows
            idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
            for col in columns:
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[col]).statistics if col in idx else None
                    if st is None or not st.has_min_max:
                        raise ValueError(f"{path}: row group {g} has no min/max "
                                         f"statistics on {col}")
                    lo[col] = min(lo.get(col, st.min), st.min)
                    hi[col] = max(hi.get(col, st.max), st.max)
        return rows, {c: (lo[c], hi[c]) if c in lo else None for c in columns}

    def footer_stats(self, table: str, columns=()) -> tuple[int, dict]:
        """``(rows, {col: (min, max) | None})`` of the live table, read from
        the parquet footers with pyarrow — no Spark job. A column is None
        when the table holds no row; a row group without min/max statistics
        for it (or a file that does not store it) raises ``ValueError``
        naming the file."""
        return self._footer_stats(self._data_files(table), columns)

    @staticmethod
    def _is_hollow(path: str) -> bool:
        """True if the dir has no data entries (retention can drop every
        partition of a snapshot/segment, leaving only _SUCCESS)."""
        return not (os.path.isdir(path)
                    and any(not e.startswith("_") for e in os.listdir(path)))

    def bucket_files(self, table: str) -> dict[int, list[str]]:
        """``{bucket: [absolute file path]}`` of the live snapshot and
        segments — snapshot files first, then each segment's in commit
        order — every bucket id of the table's spec present: all rows with
        one value of the bucket column lie in one bucket's files, each
        named by Spark's rule (``_BUCKET_ID``), else ``ValueError``."""
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        spec = m.get("bucket_spec")
        n = spec[1] if spec else 0
        out: dict[int, list[str]] = {b: [] for b in range(n)}
        for path in self._data_files(table, m):
            hit = _BUCKET_ID.fullmatch(os.path.basename(path))
            if hit is None or int(hit.group(1)) >= n:
                raise ValueError(f"{path} names no bucket of {table}'s spec {spec}")
            out[int(hit.group(1))].append(os.path.abspath(path))
        return out

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """The live table as plain parquet: the snapshot and segments, with
        the schema the manifest stores, so it runs no Spark job (only a
        manifest written before schemas were stored is inferred)."""
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no committed snapshot")
        paths = [os.path.join(self.root, table, d) for d in self._live_dirs(table, m)]
        # retention can hollow out every live dir: then the persisted schema
        # still reads as an EMPTY frame
        live = [p for p in paths if not self._is_hollow(p)]
        if not m.get("schema"):
            reader = spark.read
            live = live or paths[:1]
        else:
            from pyspark.sql.types import StructType

            schema = StructType.fromJson(json.loads(m["schema"]))
            if not live:
                return spark.createDataFrame([], schema)
            reader = spark.read.schema(schema)
        # one read per dir: each is a partitioned root of its own
        return functools.reduce(DataFrame.unionByName, [reader.parquet(p) for p in live])

    def pending_keys(self, table: str, column: str) -> list:
        """The distinct non-null values of ``column`` in the pending appended
        segments, read on the driver with pyarrow (that column only, from
        the segments' files): no Spark job."""
        import pyarrow.compute as pc
        import pyarrow.parquet as pq

        files = [f for seg in self.pending_appends(table) for f in self._dir_files(table, seg)]
        if not files:
            return []
        col = pq.read_table(files, columns=[column], use_threads=False).column(column)
        return pc.unique(col.drop_null()).to_pylist()

    def pending_appends(self, table: str) -> list[str]:
        return self.manifest(table).get("pending_appends", [])

    def clear_pending(self, table: str) -> None:
        """Mark appended segments as promoted (they stay live data dirs)."""
        m = self.manifest(table)
        if m.get("pending_appends"):
            m["pending_appends"] = []
            self._swap_manifest(table, m)

    def exists(self, table: str) -> bool:
        return self.manifest(table)["snapshot"] is not None

    def partition_values(self, table: str, partition_col: str = "p_day") -> list[int]:
        """Partition values present in the live snapshot + segments
        (directory listing — the manifest-level partition index, no data
        scan)."""
        prefix = f"{partition_col}="
        vals: set[int] = set()
        for snap in self._live_dirs(table):
            base = os.path.join(self.root, table, snap)
            if not os.path.isdir(base):
                continue
            for d in os.listdir(base):
                if d.startswith(prefix):
                    try:
                        vals.add(int(d[len(prefix):]))
                    except ValueError:
                        continue
        return sorted(vals)

    def drop_partitions(self, table: str, partition_col: str, cutoff: int,
                        op: str = "retention") -> list[int]:
        """Metadata-level partition drop: remove whole ``<col>=<v>`` partition
        directories with ``v < cutoff`` from the live snapshot and record the
        op in the manifest — NO table rewrite, no Spark job (the Iceberg
        analogue is a metadata-only ``DELETE WHERE p_day < cutoff`` that
        drops data files wholesale; reference file-level expiry
        DataRegion.java:1623-1637). Returns the dropped partition values."""
        t0 = time.perf_counter()
        m = self.manifest(table)
        if m["snapshot"] is None:
            return []
        dropped = [v for v in self.partition_values(table, partition_col)
                   if v < cutoff]
        for snap in self._live_dirs(table):
            base = os.path.join(self.root, table, snap)
            for v in dropped:
                shutil.rmtree(os.path.join(base, f"{partition_col}={v}"),
                              ignore_errors=True)
        if dropped:
            m["version"] += 1
            self._log(table, m, {"op": op, "dropped": dropped,
                                 "wall_s": time.perf_counter() - t0})
            self._swap_manifest(table, m)
        return dropped

    def watermark(self, table: str) -> int | None:
        return self.manifest(table)["watermark_us"]


def with_p_day(df: DataFrame, ts_col: str = "window_start") -> DataFrame:
    return df.withColumn("p_day", (F.col(ts_col) / F.lit(US_PER_DAY)).cast("bigint"))
