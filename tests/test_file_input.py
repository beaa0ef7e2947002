"""An ingest whose frame is exactly a scan of local parquet files has its
tasks read the files themselves (``sources/file_input.py``); any other
frame reaches the flush through Spark's scan. Both give one table:

- ``spark_hash`` is Spark's ``hash()`` of a string column, so a row read
  by a task lands in the bucket Spark's ``pmod(hash(doc_id), n)`` picks;
- the tasks of the file path hold the rows, in order, of the scan's tasks
  (Spark's split rule over multi-row-group files and a file cut into
  several splits);
- a fresh load and an append through either path give byte-identical
  chunk blobs in the same buckets, a kept prepared record and equal tier
  tables, and the lineage names the path and the task count;
- an in-memory frame, a filtered frame, a ``p=``-partitioned dataset and
  an integer ``doc_id`` take the scan path.
"""

import os
import re

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings, strategies as st

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.functions.hashing import spark_hash
from sorting_compressed_time_series_spark.plans import pipeline
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline
from sorting_compressed_time_series_spark.sources import file_input
from sorting_compressed_time_series_spark.sources.synth import _gen_batch
from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

from perfbench.oracle import TIER_COLS, TIER_WINDOWS, read_table

from test_kernel_writes import ODD_IDS

BUCKET_SUFFIX = re.compile(r"_(\d{5})\.c000\.zstd\.parquet$")
MODULI = (1, 2, 3, 4, 7, 64)

EDGE_STRINGS = (
    ODD_IDS
    + [None, "", "a", "ab", "abc", "abcd", "abcde", "x" * 1001, "y" * 1024]
    # tails of 1-3 bytes ≥ 0x80 (sign-extended one at a time by Spark)
    + ["abcdé", "abcd€", "abcd\U0001f600", "é", "€", "abÿ", "日本語テキスト"]
    + ["ü" * k for k in range(1, 9)]
)


def _spark_hashes(spark, values: list) -> pd.DataFrame:
    """Spark's ``hash`` and ``pmod(hash, n)`` of ``values``, in order."""
    df = spark.createDataFrame([(i, v) for i, v in enumerate(values)], "i int, s string")
    cols = [F.hash("s").alias("h")] + [F.pmod(F.hash("s"), F.lit(n)).alias(f"m{n}")
                                       for n in MODULI]
    return df.select("i", *cols).toPandas().sort_values("i").reset_index(drop=True)


def _check_hashes(spark, values: list) -> None:
    want = _spark_hashes(spark, values)
    got = spark_hash(pa.array(values, pa.string()))
    assert got.dtype == np.int32
    assert got.tolist() == want.h.tolist()
    for n in MODULI:
        assert (got.astype(np.int64) % n).tolist() == want[f"m{n}"].tolist(), n


def test_spark_hash_edge_strings(spark):
    """Unicode, empty, null, 1 kB strings, high-byte tails and the odd doc
    ids hash and bucket as Spark does; sliced and chunked arrays too."""
    _check_hashes(spark, EDGE_STRINGS)
    arr = pa.array(EDGE_STRINGS, pa.string())
    whole = spark_hash(arr)
    assert spark_hash(arr.slice(3, 10)).tolist() == whole[3:13].tolist()
    chunked = pa.chunked_array([arr.slice(0, 5), arr.slice(5)])
    assert spark_hash(chunked).tolist() == whole.tolist()
    assert spark_hash(arr.cast(pa.large_string())).tolist() == whole.tolist()
    assert len(spark_hash(pa.array([], pa.string()))) == 0


@settings(max_examples=15, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(st.none(), st.text(max_size=40)), min_size=1, max_size=60))
def test_spark_hash_is_sparks_hash(spark, values):
    _check_hashes(spark, values)


# ---------------------------------------------------------------------------
# the two input paths
# ---------------------------------------------------------------------------

def _write_files(path, parts: list[tuple[int, int, int]]) -> None:
    """One parquet file per ``(first doc, docs, row group rows)``, in the
    engine's input shape."""
    os.makedirs(path, exist_ok=True)
    for k, (first, n, group) in enumerate(parts):
        batch = _gen_batch(np.arange(first, first + n, dtype=np.uint64), 42)
        pq.write_table(pa.Table.from_batches([batch]), os.path.join(path, f"part-{k}.parquet"),
                       row_group_size=group)


@pytest.fixture
def small_splits(spark):
    """Splits of at most 48 kB, each file charged 4 kB: the corpus' large
    file is cut into several splits, and small files share a task."""
    keys = {"spark.sql.files.maxPartitionBytes": "49152",
            "spark.sql.files.openCostInBytes": "4096"}
    prev = {k: spark.conf.get(k) for k in keys}
    for k, v in keys.items():
        spark.conf.set(k, v)
    yield
    for k, v in prev.items():
        spark.conf.set(k, v)


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """A base of four files: multi-row-group files, files past the split
    size (``small_splits``), a small one and a single-row one; and an
    append batch of two files with new docs and re-delivered ones."""
    root = tmp_path_factory.mktemp("file_input")
    base, batch = str(root / "base"), str(root / "batch")
    _write_files(base, [(0, 160, 16), (160, 400, 25), (560, 10, 10), (570, 1, 1)])
    _write_files(batch, [(571, 40, 8), (10, 12, 5)])
    return base, batch


def _task_docs(spark, df) -> list[list[str]]:
    """The doc ids of each of the scan's tasks, in order."""
    rows = df.select("doc_id", F.spark_partition_id().alias("p")).collect()
    out = [[] for _ in range(df.rdd.getNumPartitions())]
    for r in rows:
        out[r.p].append(r.doc_id)
    return out


@pytest.mark.parametrize("max_parts", [None, 5])
def test_file_tasks_hold_the_scan_tasks_rows(spark, corpus, small_splits, max_parts):
    """Each task of the file path reads the rows of the scan's task of the
    same index, in the same order, with Spark's bucket of each doc; also
    when ``maxPartitionNum`` makes Spark re-pack the splits."""
    key = "spark.sql.files.maxPartitionNum"
    if max_parts is not None:
        spark.conf.set(key, str(max_parts))
    try:
        df = spark.read.parquet(corpus[0])
        splits = file_input.task_splits(df, "doc_id")
        want = _task_docs(spark, df)
    finally:
        spark.conf.unset(key)
    assert splits is not None and len(splits) == len(want)
    assert len(splits) > 4 if max_parts is None else len(splits) <= max_parts
    assert any(len(s) > 1 for s in splits)  # small files share a task
    big = [g for s in splits for path, g in s if path.endswith("part-1.parquet")]
    assert len(big) > 1  # the large file is cut into several splits
    read = file_input.split_reader(splits, file_input.arrow_schema(df), batch_rows=7,
                                   bucket_by=("doc_id", 4))
    got = []
    for t in range(len(splits)):
        ids = pa.RecordBatch.from_pydict({file_input._TASK: [t]})
        batches = list(read(iter([ids])))
        assert all(b.num_rows <= 7 for b in batches)
        docs = [d for b in batches for d in b.column("doc_id").to_pylist()]
        buckets = [x for b in batches for x in b.column("_bucket").to_pylist()]
        assert buckets == [int(h) % 4 for h in spark_hash(pa.array(docs, pa.string()))]
        got.append(docs)
    assert got == want


def _doc_buckets(root: str) -> dict[str, int]:
    """doc_id -> the bucket of the chunk files holding it."""
    out = {}
    m = Warehouse(root).manifest("chunks_tier0")
    for d in [m["snapshot"]] + m.get("segments", []):
        for dp, _, fs in os.walk(os.path.join(root, "chunks_tier0", d)):
            for f in fs:
                if f.endswith(".parquet"):
                    bucket = int(BUCKET_SUFFIX.search(f).group(1))
                    for doc in pq.read_table(os.path.join(dp, f),
                                             columns=["doc_id"]).column("doc_id").to_pylist():
                        assert out.setdefault(doc, bucket) == bucket, doc
    return out


def _chunks(root: str) -> pd.DataFrame:
    t = read_table(root, "chunks_tier0").drop(columns=["encode_ns"])
    return t.sort_values(["doc_id", "min_ts", "count"]).reset_index(drop=True)


def _tiers(root: str) -> dict[str, pd.DataFrame]:
    key = ["doc_id", "window_start"]
    return {name: read_table(root, name)[TIER_COLS].sort_values(key).reset_index(drop=True)
            for name in TIER_WINDOWS}


def _load(spark, root: str, corpus, scan: bool, monkeypatch):
    """A fresh ingest of the base, a promote, an append of the batch and a
    promote, forcing the scan path with ``scan``; returns the two ingest
    lineage entries, then the chunks, doc buckets and tiers after the fresh
    load and after the append."""
    with monkeypatch.context() as m:
        if scan:
            m.setattr(pipeline, "task_splits", lambda *a: None)
        p = Pipeline(spark, Warehouse(root))
        first = p.ingest(spark.read.parquet(corpus[0]))
        assert p.warehouse.prepared("chunks_tier0") is not None  # every doc one run
        fresh = (_chunks(root), _doc_buckets(root))
        p.promote_all()
        fresh += (_tiers(root),)
        second = p.ingest(spark.read.parquet(corpus[1]), append=True)
        p.promote_all()
    return (first, second), fresh, (_chunks(root), _doc_buckets(root), _tiers(root))


def test_file_input_equals_scan_input(spark, corpus, small_splits, small_batches,
                                      tmp_path, monkeypatch):
    """A fresh load and an append read by the tasks themselves equal the
    same loads through Spark's scan: the same doc buckets, byte-identical
    chunk blobs (every column but the encode wall time), the prepared
    record kept, equal tier tables. The lineage names each path and its
    task count: the scan's task count, one per split."""
    files = _load(spark, str(tmp_path / "files"), corpus, False, monkeypatch)
    scan = _load(spark, str(tmp_path / "scan"), corpus, True, monkeypatch)
    (f_first, f_second), *f_tables = files
    (s_first, s_second), *s_tables = scan
    assert [f_first["input"], f_second["input"]] == ["files", "files"]
    assert [s_first["input"], s_second["input"]] == ["scan", "scan"]
    for path, f, s in ((corpus[0], f_first, s_first), (corpus[1], f_second, s_second)):
        df = spark.read.parquet(path)
        n = df.rdd.getNumPartitions()
        assert f["tasks"] == s["tasks"] == n == len(file_input.task_splits(df, "doc_id"))
        assert f["rows"] == s["rows"]
    for got, want in zip(f_tables, s_tables):  # the fresh load, then after the append
        pd.testing.assert_frame_equal(got[0], want[0])
        assert got[1] == want[1]
        for name in TIER_WINDOWS:
            pd.testing.assert_frame_equal(got[2][name], want[2][name])
    assert len(set(f_tables[1][1].values())) == 4
    # the re-delivered docs have two chunks after the append
    assert (f_tables[1][0].groupby("doc_id").size() == 2).sum() == 12


def _partitioned(root) -> str:
    path = str(root / "partitioned")
    _write_files(os.path.join(path, "p=0"), [(0, 20, 20)])
    _write_files(os.path.join(path, "p=1"), [(20, 20, 20)])
    return path


def _int_ids(root) -> str:
    path = str(root / "int_ids")
    os.makedirs(path)
    batch = _gen_batch(np.arange(20, dtype=np.uint64), 42)
    table = pa.Table.from_batches([batch]).set_column(
        0, "doc_id", pa.array(np.arange(20, dtype=np.int64)))
    pq.write_table(table, os.path.join(path, "part-0.parquet"))
    return path


@pytest.mark.parametrize("case", ["in_memory", "filtered", "partitioned", "int_doc_id"])
def test_other_frames_take_the_scan_path(spark, corpus, tmp_path, case):
    """Only a frame that is exactly a scan of parquet files with a string
    ``doc_id`` is read by the tasks; these are not."""
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    files = spark.read.parquet(corpus[1])
    if case == "in_memory":
        df = spark.createDataFrame(files.toPandas(), files.schema)
    elif case == "filtered":
        df = files.filter(F.col("n_tok") > 16)
    elif case == "partitioned":
        df = spark.read.parquet(_partitioned(tmp_path))
    else:
        df = spark.read.parquet(_int_ids(tmp_path))
    assert p._input_stage(files, ("doc_id", 4))[1] is not None
    assert p._input_stage(df, ("doc_id", 4))[1] is None
    if case != "int_doc_id":
        entry = p.ingest(df)
        assert entry["input"] == "scan" and entry["rows"] == df.count()
