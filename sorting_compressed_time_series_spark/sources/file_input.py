"""Kernel input read by the tasks themselves from parquet files.

When a frame is exactly a scan of local parquet files, a kernel job need
not scan it in the JVM and ship its rows to Python as Arrow: each task
reads its share of the files with pyarrow (``split_reader``) over a
``spark.range`` of task ids (``warehouse.task_ids``). ``task_splits`` decides
whether a frame qualifies and cuts the files into tasks by Spark's own
split rule, so a task holds the rows it would have held in the scan.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from urllib.parse import unquote, urlparse

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame
from pyspark.sql.types import StringType

from ..functions.hashing import spark_hash
from .warehouse import _BUCKET, _TASK, Kernel

# a task's input: (file path, row group indexes) read in this order
Split = list[tuple[str, list[int]]]


def _local_files(uris) -> list[str] | None:
    """The local paths of ``file:`` URIs, or None if any is elsewhere."""
    paths = []
    for uri in uris:
        u = urlparse(uri)
        if u.scheme != "file":
            return None
        paths.append(unquote(u.path))
    return paths


def _row_group_mids(md) -> list[int]:
    """Each row group's midpoint in its file, as parquet-mr picks the row
    groups of a split (``filterFileMetaDataByMidpoint``): the first column
    chunk's first page offset plus half the group's compressed size."""
    mids = []
    for g in range(md.num_row_groups):
        rg = md.row_group(g)
        first = rg.column(0)
        start = first.data_page_offset
        if first.has_dictionary_page and first.dictionary_page_offset < start:
            start = first.dictionary_page_offset
        size = sum(rg.column(c).total_compressed_size for c in range(rg.num_columns))
        mids.append(start + size // 2)
    return mids


def task_splits(df: DataFrame, key: str) -> list[Split] | None:
    """The tasks of a job over ``df`` that read its parquet files
    themselves, or None when ``df`` is not exactly such a scan: its
    optimized plan must be a ``LogicalRelation`` over a ``HadoopFsRelation``
    in ``ParquetFileFormat`` with no partition columns and no buckets, on
    local ``file:`` paths whose every file holds every column of ``df``,
    and ``key`` must be a string column (the bucket hash, ``spark_hash``).

    The tasks follow Spark's split rule (``FilePartition``): split size
    ``min(maxPartitionBytes, max(openCostInBytes, total bytes / default
    parallelism))`` with each file charged ``openCostInBytes``; each file
    cut into splits of that size, the splits packed longest first (into
    at most ``maxPartitionNum`` tasks, if set); a row group belongs to the
    split holding its midpoint. So each task reads the rows, in the order,
    of the scan's task of the same index."""
    import pyarrow.parquet as pq

    if key not in df.columns or not isinstance(df.schema[key].dataType, StringType):
        return None
    plan = df._jdf.queryExecution().optimizedPlan()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            or rel.partitionSchema().length() or rel.bucketSpec().isDefined()):
        return None
    paths = _local_files(rel.location().inputFiles())
    if not paths:
        return None
    files = []
    for path in paths:
        size = os.path.getsize(path)
        if size == 0:  # Spark lists no empty file
            continue
        md = pq.read_metadata(path)
        if not set(df.columns) <= set(md.schema.to_arrow_schema().names):
            return None
        files.append((path, size, _row_group_mids(md)))
    if not files:
        return None

    jss = df.sparkSession._jsparkSession
    conf = jss.sessionState().conf()
    open_cost = conf.filesOpenCostInBytes()
    min_parts = conf.filesMinPartitionNum()
    n = min_parts.get() if min_parts.isDefined() else jss.leafNodeDefaultParallelism()
    per_core = sum(size + open_cost for _, size, _ in files) // n
    split = min(conf.filesMaxPartitionBytes(), max(open_cost, per_core))

    pieces = []  # (path, row groups, length)
    for path, size, mids in files:
        for start in range(0, size, split):
            length = min(split, size - start)
            pieces.append((path, [g for g, m in enumerate(mids) if start <= m < start + length],
                           length))
    pieces.sort(key=lambda p: -p[2])  # stable, as Spark's sortBy(length).reverse
    tasks = _packed(pieces, split, open_cost)
    max_parts = conf.filesMaxPartitionNum()
    if max_parts.isDefined() and len(tasks) > max_parts.get():
        # Spark re-packs the same splits into at most maxPartitionNum tasks
        total = sum(length + open_cost for *_, length in pieces)
        tasks = _packed(pieces, -(-total // max_parts.get()), open_cost)
    return [[(path, groups) for path, groups, _ in t if groups] for t in tasks]


def _packed(pieces: list, split: int, open_cost: int) -> list[list]:
    """Spark's ``FilePartition.getFilePartitions``: the splits, in order,
    into tasks of at most ``split`` bytes each, every split charged
    ``open_cost`` more (a split larger than ``split`` gets a task alone)."""
    tasks, cur, used = [], [], 0
    for piece in pieces:
        if cur and used + piece[2] > split:
            tasks.append(cur)
            cur, used = [], 0
        used += piece[2] + open_cost
        cur.append(piece)
    return tasks + [cur]


def arrow_schema(df: DataFrame) -> pa.Schema:
    """The Arrow schema in which Spark hands ``df``'s rows to a Python
    kernel."""
    from pyspark.sql.pandas.types import to_arrow_schema

    large = df.sparkSession.conf.get("spark.sql.execution.arrow.useLargeVarTypes", "false")
    return to_arrow_schema(df.schema, prefers_large_types=large == "true")


def split_reader(splits: list[Split], schema: pa.Schema, *, batch_rows: int,
                 bucket_by: tuple[str, int] | None = None) -> Kernel:
    """The input of a task that reads its own files: for each id in the
    task's input (``task_ids``), its split's row groups read with pyarrow in
    batches of ``batch_rows`` (whole row groups if ≤ 0, as Spark's
    ``maxRecordsPerBatch``), cast to ``schema``. With ``bucket_by=(col,
    n)`` each row is tagged with its bucket in ``_BUCKET``: Spark's
    ``pmod(hash(col), n)``, in numpy."""

    def read(ids: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        import pyarrow.parquet as pq

        for batch in ids:
            for t in batch.column(_TASK).to_numpy():
                for path, groups in splits[int(t)]:
                    f = pq.ParquetFile(path)
                    size = (batch_rows if batch_rows > 0 else
                            max(1, sum(f.metadata.row_group(g).num_rows for g in groups)))
                    # one thread: the job's tasks already keep every core busy
                    for b in f.iter_batches(batch_size=size, row_groups=groups,
                                            columns=schema.names, use_threads=False):
                        if b.num_rows == 0:
                            continue
                        b = b.cast(schema)
                        if bucket_by is not None:
                            col, n = bucket_by
                            b = b.append_column(_BUCKET, pa.array(
                                spark_hash(b.column(col)).astype(np.int64) % n, pa.int32()))
                        yield b

    return read
