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
  data files and write wall time, read from parquet footers); readers only
  ever read the dirs the manifest names
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
# what a kernel's tasks return instead of its rows: one row per file written,
# plus each task's seconds blocked on input, in the kernel and writing, and
# the count its kernel returned (``KernelWriter.task``)
TASK_TIMERS = ("input_wait_s", "kernel_s", "write_s")
FILES_SCHEMA = ("slice int, p_day bigint, bucket int, path string, rows bigint, "
                + ", ".join(f"{t} double" for t in TASK_TIMERS) + ", kernel_n bigint")
_BUCKET = "_bucket"  # the input column carrying Spark's bucket id
# Spark's rule for the bucket id of a data file (``BucketingUtils.getBucketId``):
# the digits after the last ``_`` of the name, before its extension
_BUCKET_ID = re.compile(r".*_(\d+)(?:\..*)?")


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
    bucket. The file schema is ``schema``: zstd level 3, row groups of
    ~4 MB, min/max statistics on every non-binary column, dictionary pages
    on none of the binary columns (and on no column of a sliced write)."""

    staging: str
    schema: pa.Schema
    slice_col: str | None = None
    bucket_by: tuple[str, int] | None = None

    def frame(self, src: DataFrame, kern: Kernel, read: Kernel | None = None) -> DataFrame:
        """``src`` → [``read`` →] ``kern`` → files: the frame
        ``Warehouse.write``, ``write_slices`` and ``append_segment`` commit.
        A bucketed write's input carries each row's bucket id in
        ``_BUCKET``: the bucket ids themselves for a whole-bucket stage
        (``bucket_ids``), else Spark's bucket of ``col``."""
        if self.bucket_by is not None and _BUCKET not in src.columns:
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
        carry them."""

        def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
            from pyspark import TaskContext

            ctx = TaskContext.get()
            attempt, part = ((ctx.taskAttemptId(), ctx.partitionId()) if ctx
                             else (uuid.uuid4().hex, 0))
            files = _TaskFiles(self, os.path.join(self.staging, f"attempt-{attempt}"), part)
            clock = np.zeros(3)  # input wait, kernel + input wait, write
            buckets = _InputBuckets() if self.bucket_by is not None else None
            rows = buckets.read(batches) if buckets is not None else batches
            rows = _timed(read(rows) if read is not None else rows, clock, 0)
            kernel_n = 0

            def outputs():
                nonlocal kernel_n
                kernel_n = (yield from kern(rows)) or 0

            for out in _timed(outputs(), clock, 1):
                if out.num_rows == 0:
                    continue
                t0 = time.perf_counter()
                files.add(out, buckets.of(out) if buckets is not None else None)
                clock[2] += time.perf_counter() - t0
            t0 = time.perf_counter()
            written = files.close()
            clock[2] += time.perf_counter() - t0
            clock[1] -= clock[0]
            yield _files_batch(written, clock, kernel_n)

        return run


class _InputBuckets:
    """The rule that puts a bucketed write's output rows in buckets, from
    the ``_BUCKET`` ids of the task's input as the kernel reads it. While
    every input row so far lies in one bucket (a whole-bucket stage's task
    reads one bucket id; a ``repartition(n, col)`` task holds one bucket),
    every output row is in that bucket, whatever the kernel emits.
    Otherwise the kernel must emit one row per row of the input batch it
    read last (the flush), and each row is in its input row's bucket."""

    def __init__(self):
        self.one, self.mixed, self.last = None, False, None

    def read(self, batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            if batch.num_rows == 0:
                continue
            ids = batch.column(_BUCKET).to_numpy(zero_copy_only=False)
            if self.one is None:
                self.one = ids[0]
            self.mixed = self.mixed or bool((ids != self.one).any())
            self.last = ids
            yield batch

    def of(self, out: pa.RecordBatch) -> np.ndarray:
        if self.one is not None and not self.mixed:
            return np.full(out.num_rows, self.one)
        if self.last is None or out.num_rows != len(self.last):
            raise ValueError("a bucketed kernel write over rows of several buckets needs "
                             "one output row per input row")
        return self.last


def bucket_ids(spark: SparkSession, n: int) -> DataFrame:
    """The input of a whole-bucket stage: the bucket ids ``0..n-1`` in
    ``_BUCKET``, task ``b`` holding id ``b`` alone."""
    return spark.range(n, numPartitions=n).withColumnRenamed("id", _BUCKET)


def bucket_reader(buckets: dict[int, list[str]], columns: tuple[str, ...], *,
                  filters: list[list[tuple]], sort_by: tuple[str, ...],
                  batch_rows: int) -> Kernel:
    """The input of a task that reads its own buckets (``Warehouse.
    bucket_files``): for each id in the task's input (``bucket_ids``), the
    bucket's files read with pyarrow — only ``columns``, only the rows
    matching ``filters`` (pyarrow's disjunctive normal form: OR of ANDs) —
    sorted by ``sort_by`` and cut into batches of ``batch_rows`` (none if
    ≤ 0, as Spark's ``maxRecordsPerBatch``). The sort is stable, so rows
    that tie keep the files' order. One bucket is in memory at a time."""

    def read(ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for batch in ids:
            for b in batch.column(_BUCKET).to_numpy():
                paths = buckets[int(b)]
                if not paths:
                    continue
                # one thread: the job's tasks already keep every core busy
                # (pyarrow's own pool measured slower at 4 tasks on 4 cores)
                table = pq.read_table(paths, columns=list(columns), filters=filters,
                                      use_threads=False)
                table = table.sort_by([(c, "ascending") for c in sort_by])
                yield from table.to_batches(batch_rows if batch_rows > 0 else None)

    return read


def _timed(it: Iterator, clock: np.ndarray, slot: int) -> Iterator:
    """``it``, adding the seconds spent producing each item to ``clock[slot]``."""
    it = iter(it)
    while True:
        t0 = time.perf_counter()
        try:
            item = next(it)
        except StopIteration:
            clock[slot] += time.perf_counter() - t0
            return
        clock[slot] += time.perf_counter() - t0
        yield item


def _files_batch(written: list[tuple], clock: np.ndarray, kernel_n: int) -> pa.RecordBatch:
    """The ``FILES_SCHEMA`` rows of one task: its files, then its timers
    and ``kernel_n`` on the first row (on a null-path row when it wrote
    none)."""
    written = written or [(None, None, None, None, 0)]
    cols = list(zip(*written))
    timers = np.zeros((3, len(written)))
    timers[:, 0] = clock
    counts = np.zeros(len(written), dtype=np.int64)
    counts[0] = kernel_n
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[0], pa.int32()), pa.array(cols[1], pa.int64()),
         pa.array(cols[2], pa.int32()), pa.array(cols[3], pa.string()),
         pa.array(cols[4], pa.int64())] + [pa.array(t) for t in timers] + [pa.array(counts)],
        names=["slice", "p_day", "bucket", "path", "rows", *TASK_TIMERS, "kernel_n"])


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
        plain = [f.name for f in spec.schema if not pa.types.is_binary(f.type)]
        self.dictionary = plain if spec.slice_col is None else False
        self.statistics = plain

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
            f.writer = pq.ParquetWriter(
                f.path, self.spec.schema, compression="zstd", compression_level=3,
                use_dictionary=self.dictionary, write_statistics=self.statistics)
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

    def _log(self, table: str, m: dict, entry: dict) -> None:
        """Append a lineage entry to ``m`` (the last 50 are kept), with the
        rows, bytes and data files of the live set ``m`` names — read from
        the parquet footers, no Spark job."""
        files = self._data_files(table, m)
        rows, _ = self._footer_stats(files, ())
        entry = dict(entry, rows=rows, bytes=sum(os.path.getsize(f) for f in files),
                     files=len(files), ts=time.time(), version=m["version"])
        m["lineage"] = (m["lineage"] + [entry])[-50:]

    def _commit(self, table: str, snapshot_dir: str, watermark_us: int | None,
                lineage_entry: dict, schema_json: str | None = None,
                bucket_spec: list | None = None) -> None:
        m = self.manifest(table)
        old_dirs = self._live_dirs(table, m)
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
        self._log(table, m, lineage_entry)
        self._swap_manifest(table, m)
        for d in old_dirs:
            if d != snapshot_dir:
                shutil.rmtree(os.path.join(self.root, table, d), ignore_errors=True)

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
    def _land(df: DataFrame, files: KernelWriter, dirs: dict) -> tuple[dict[str, float], int]:
        """Run a kernel's write job and move the files its finished tasks
        reported into ``dirs[slice]`` (the key is None without slices).
        A failed or speculative attempt's files are never reported, so they
        are never committed. Each dir is cleared first: a crash before the
        manifest swap leaves an orphan dir that the rerun replaces. Returns
        the tasks' ``TASK_TIMERS`` and ``kernel_n``, summed."""
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
        return {t: sum(r[t] for r in rows) for t in TASK_TIMERS}, sum(r.kernel_n for r in rows)

    def write(self, df: DataFrame, table: str, *, watermark_us: int | None = None,
              op: str | Callable[[int], str | None] = "overwrite",
              files: KernelWriter) -> int:
        """Commit a new snapshot: ``df`` is the frame of a kernel that writes
        its own rows (``files.frame``). With ``files.bucket_by=(col, n)``
        the snapshot is hash-clustered by ``col`` into ``n`` buckets (the
        stand-in for Iceberg ``bucket(col, n)``), which ``bucket_files``
        maps. ``op`` names the commit in the lineage; as a function of the
        tasks' summed ``kernel_n`` it may return None, and then nothing is
        committed (a compaction that merged no doc). Returns that sum."""
        t0 = time.perf_counter()
        m = self.manifest(table)
        snap = f"snap-{m['version'] + 1}"
        path = os.path.join(self.root, table, snap)
        timers, kernel_n = self._land(df, files, {None: path})
        if callable(op):
            op = op(kernel_n)
            if op is None:
                shutil.rmtree(path, ignore_errors=True)
                return kernel_n
        bucket_spec = list(files.bucket_by) if files.bucket_by is not None else None
        self._commit(table, snap, watermark_us,
                     {"op": op, "wall_s": time.perf_counter() - t0, **timers},
                     schema_json=files.spark_schema().json(), bucket_spec=bucket_spec)
        return kernel_n

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
        timers, _ = self._land(df, files, {val: os.path.join(self.root, tables[val], snap)
                                           for val, snap in snaps.items()})
        wall_s = time.perf_counter() - t0  # the one write all tables share
        schema_json = files.spark_schema().json()
        for val, tbl in tables.items():
            self._commit(tbl, snaps[val], (watermarks or {}).get(val),
                         {"op": op, "wall_s": wall_s, **timers},
                         schema_json=schema_json, bucket_spec=None)

    def append_segment(self, df: DataFrame, table: str, *, op: str = "append",
                       files: KernelWriter) -> str:
        """Append-only commit: land the new rows as an extra SEGMENT dir and
        add it to the manifest — the existing snapshot is untouched (no
        table rewrite; Iceberg's append = manifest-add is exactly this).
        ``df`` and ``files`` as in ``write``; a bucketed segment takes the
        table's buckets (``bucket_spec``), so ``bucket_files`` still maps
        the table. The segment is also recorded under ``pending_appends``
        so the next promotion can MERGE just the affected keys instead of
        recomputing every tier. A crash before the manifest swap leaves an
        orphan dir the manifest never names; the rerun overwrites it."""
        t0 = time.perf_counter()
        m = self.manifest(table)
        if m["snapshot"] is None:
            raise FileNotFoundError(f"table {table} has no base snapshot to append to")
        if files.bucket_by is not None and list(files.bucket_by) != m.get("bucket_spec"):
            raise ValueError(f"segment buckets {files.bucket_by} are not the table's "
                             f"{m.get('bucket_spec')}")
        seg = f"seg-{m['version'] + 1}"
        timers, _ = self._land(df, files, {None: os.path.join(self.root, table, seg)})
        m["segments"] = m.get("segments", []) + [seg]
        m["pending_appends"] = m.get("pending_appends", []) + [seg]
        m["version"] += 1
        self._log(table, m, {"op": op, "segment": seg, "wall_s": time.perf_counter() - t0,
                             **timers})
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

        rows, lo, hi, missing = 0, {}, {}, set()
        for path in files:
            md = pq.read_metadata(path)
            rows += md.num_rows
            idx = {md.schema.column(j).path: j for j in range(md.num_columns)}
            for col in columns:
                for g in range(md.num_row_groups):
                    st = md.row_group(g).column(idx[col]).statistics if col in idx else None
                    if st is None or not st.has_min_max:
                        missing.add(col)
                    elif col not in missing:
                        lo[col] = min(lo.get(col, st.min), st.min)
                        hi[col] = max(hi.get(col, st.max), st.max)
        return rows, {c: (lo[c], hi[c]) if c in lo and c not in missing else None
                      for c in columns}

    def footer_stats(self, table: str, columns=()) -> tuple[int, dict]:
        """``(rows, {col: (min, max) | None})`` of the live table, read from
        the parquet footers with pyarrow — no Spark job. A column is None
        when any row group lacks min/max statistics for it (or it is not
        stored in the files, e.g. a partition column)."""
        return self._footer_stats(self._data_files(table), columns)

    @staticmethod
    def _is_hollow(path: str) -> bool:
        """True if the dir has no data entries (retention can drop every
        partition of a snapshot/segment, leaving only _SUCCESS)."""
        return not (os.path.isdir(path)
                    and any(not e.startswith("_") for e in os.listdir(path)))

    def bucket_files(self, table: str) -> dict[int, list[str]] | None:
        """``{bucket: [absolute file path]}`` of the live snapshot and
        segments — snapshot files first, then each segment's in commit
        order — every bucket id of the table's spec present: all rows with
        one value of the bucket column lie in one bucket's files. None
        unless the table has a ``bucket_spec`` and every data file names
        its bucket by Spark's rule (``_BUCKET_ID``), as the kernel writer's
        ``_<bucket:05d>`` suffix does."""
        m = self.manifest(table)
        spec = m.get("bucket_spec")
        if not spec or m["snapshot"] is None:
            return None
        n = spec[1]
        out: dict[int, list[str]] = {b: [] for b in range(n)}
        for path in self._data_files(table, m):
            hit = _BUCKET_ID.fullmatch(os.path.basename(path))
            if hit is None or int(hit.group(1)) >= n:
                return None
            out[int(hit.group(1))].append(os.path.abspath(path))
        return out

    @staticmethod
    def uncompressed_bytes(files: list[str]) -> int:
        """Uncompressed bytes of ``files``' row groups, from their footers."""
        import pyarrow.parquet as pq

        total = 0
        for path in files:
            md = pq.read_metadata(path)
            total += sum(md.row_group(g).total_byte_size for g in range(md.num_row_groups))
        return total

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

    def reset_watermark(self, table: str) -> None:
        """Invalidate a tier's promotion watermark (e.g. after an append of
        data that may fall below it); the next promotion recomputes fully —
        deterministic and idempotent, so correctness is unaffected."""
        if not self.exists(table):
            return
        m = self.manifest(table)
        m["watermark_us"] = None
        self._swap_manifest(table, m)

    def watermark(self, table: str) -> int | None:
        return self.manifest(table)["watermark_us"]


def with_p_day(df: DataFrame, ts_col: str = "window_start") -> DataFrame:
    return df.withColumn("p_day", (F.col(ts_col) / F.lit(US_PER_DAY)).cast("bigint"))
