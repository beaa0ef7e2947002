"""The one-job fused promote: each task reads one doc bucket's chunk files
itself and the rollup kernel merges each doc's chunks, so promotion plans
no scan and no exchange.

- kernel: docs with many chunks, split across Arrow batches at every
  offset, equal a pandas recomputation from the points;
- plan audit: the fused promote over a bucketed snapshot plans neither an
  Exchange nor a file scan (a ``Range`` of bucket ids under the kernel),
  runs one job, and its tier tables equal the pandas recomputation from
  ``decode_points`` (perfbench's oracle);
- bounded bucket read: ``bucket_reader``'s doc-range passes give the rows
  of one pass, row for row (ties, a doc over the budget, a null id); a
  bucket past ``spark.python.worker.memory`` is read in ≥ 3 passes by the
  same plan, and full, resumed and merge promotes give the one-pass
  tables; a task reads each of its files' footers once, whatever its
  passes; a chunk file without a bucket id is refused by name before any
  job or commit; the driver opens each chunk footer once per promote;
- crash between tier commits: a rerun finishes the job;
- one plan for every regime: a no-op promote runs no job, a merge over
  snapshot + bucketed segments reads their buckets in one job and equals a
  one-shot load, an append keeps the table's bucket count, a resume over the bucketed snapshot reads the buckets,
  a segment whose buckets are not the table's is refused,
  a one-tier pipeline takes the same plan, and tier windows that do not
  nest are refused when the pipeline is made;
- job descriptions: the engine labels its own actions.
"""

import collections
import contextlib
import io
import os
import re
import uuid
from functools import partial

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.fs as pafs
import pyarrow.parquet as pq
import pytest

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.codecs.batched import encode_rows
from sorting_compressed_time_series_spark.codecs.chunk import CODEC_DELTA, CODEC_VARINT
from sorting_compressed_time_series_spark.operators.ingest import (
    CHUNK_ARROW,
    _binary_from_buffers,
    flush,
)
from sorting_compressed_time_series_spark.operators.rollup import (
    ROLLUP_INPUT,
    _multi_window_partials_kernel,
    decode_points,
    rollup_tiers,
)
from sorting_compressed_time_series_spark.plans import pipeline
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import (
    HELD_PER_BYTE,
    Warehouse,
    _doc_passes,
    _footed,
    bucket_reader,
    with_p_day,
)

from perfbench.oracle import TIER_COLS, TIER_WINDOWS, check_tiers, expected_tiers, read_table

WINDOWS = list(TIER_WINDOWS.values())


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _expected(points: pd.DataFrame) -> dict[str, pd.DataFrame]:
    """perfbench's tier recompute over decoded points: ties on ts keep the
    points' order, and only equal values ever tie here."""
    return expected_tiers(points.rename(columns={"value": "token"}).assign(pos=0))


# ---------------------------------------------------------------------------
# kernel
# ---------------------------------------------------------------------------

def _chunk_rows(rng, n_docs: int) -> tuple[pa.Table, pd.DataFrame]:
    """Chunk rows sorted by doc, 1-4 chunks per doc (some empty), whose
    points interleave in time; every timestamp of a doc is distinct, so
    first/last are unambiguous."""
    docs, srcs, ts_parts, v_parts, points = [], [], [], [], []
    for d in range(n_docs):
        n_chunks = int(rng.integers(1, 5))
        sizes = rng.integers(0, 40, n_chunks)
        pool = rng.choice(20_000_000, int(sizes.sum()), replace=False) + 1_700_000_000_000_000
        for part in np.split(pool, np.cumsum(sizes)[:-1]):
            ts = np.sort(part).astype(np.int64)
            vals = rng.integers(-10_000, 10_000, len(ts)).astype(np.int64)
            docs.append(f"doc{d:04d}")
            srcs.append("web" if d % 3 else "code")
            ts_parts.append(ts)
            v_parts.append(vals)
            points.append(pd.DataFrame({"doc_id": docs[-1], "source": srcs[-1],
                                        "ts": ts, "value": vals}))
    splits = np.concatenate([[0], np.cumsum([len(t) for t in ts_parts])]).astype(np.int64)
    t_buf, t_sp = encode_rows(np.concatenate(ts_parts), splits, CODEC_DELTA)
    v_buf, v_sp = encode_rows(np.concatenate(v_parts), splits, CODEC_VARINT)
    table = pa.table({"doc_id": docs, "source": srcs,
                      "time_blob": _binary_from_buffers(t_buf, t_sp),
                      "value_blob": _binary_from_buffers(v_buf, v_sp)})
    return table, pd.concat(points, ignore_index=True)


def _finalize_pandas(rows: pd.DataFrame) -> pd.DataFrame:
    """Merges partial rows of one (tier, doc, window) by the rule they
    compose under: sums, min of mins, max of maxes, first by the earliest
    first_ts and last by the latest last_ts."""
    key = ["tier", "doc_id", "source", "window_start"]
    g = rows.groupby(key)
    out = g.agg(cnt=("cnt", "sum"), sum_v=("sum_v", "sum"), min_v=("min_v", "min"),
                max_v=("max_v", "max"), first_ts=("first_ts", "min"), last_ts=("last_ts", "max"))
    out["first_v"] = rows.loc[g["first_ts"].idxmin(), "first_v"].to_numpy()
    out["last_v"] = rows.loc[g["last_ts"].idxmax(), "last_v"].to_numpy()
    return out.reset_index()


@pytest.mark.parametrize("batch_rows", [1, 2, 3, 7, 1000])
@pytest.mark.parametrize("adjacent", [True, False])
def test_kernel_merges_doc_chunks_across_batches(batch_rows, adjacent):
    """With a doc's chunks adjacent the kernel's rows are final, one per
    (doc, window); interleaved, they are partials that compose: merging
    them by the partial-merge rule gives the final rows."""
    rng = np.random.default_rng(batch_rows)
    table, points = _chunk_rows(rng, 40)
    if not adjacent:
        table = table.take(np.argsort(np.arange(len(table)) % 2, kind="stable"))
    kern = _multi_window_partials_kernel(WINDOWS)
    out = pa.Table.from_batches(list(kern(iter(table.to_batches(batch_rows))))).to_pandas()
    key = ["tier", "doc_id", "window_start"]
    if adjacent:
        assert not out.duplicated(key).any()
    else:
        assert out.duplicated(key).any()
        out = _finalize_pandas(out)
    want = _expected(points)
    for t, name in enumerate(TIER_WINDOWS):
        got = out[out.tier == t][TIER_COLS].sort_values(key[1:]).reset_index(drop=True)
        pd.testing.assert_frame_equal(
            got, want[name].sort_values(key[1:]).reset_index(drop=True), check_dtype=False)


def test_rollup_tiers_refuses_windows_that_do_not_nest():
    """Coarser tiers cascade from the finer tier's rows, which needs each
    window to be a multiple of the one before."""
    with pytest.raises(ValueError, match="must nest"):
        rollup_tiers(None, [1_000_000, 1_500_000])


# ---------------------------------------------------------------------------
# pipeline
# ---------------------------------------------------------------------------

N_DOCS = 60
MOVED = 20  # docs N_DOCS-MOVED.. have their chunks relabelled as docs 0..


@pytest.fixture(scope="module")
def multi_chunk(spark):
    """Chunk rows of one flush in which docs have several chunks: docs
    0-19 are delivered twice in the same ingest (equal points), and the
    chunks of docs 40-59 are relabelled as docs 0-19 (other points, some
    on other days). Returns (chunks, tier recompute)."""
    tokens = generate_tokens_df(spark, N_DOCS).unionByName(generate_tokens_df(spark, MOVED))
    chunks = flush(tokens)
    idx = F.substring("doc_id", 4, 10).cast("int")
    target = F.when(idx >= N_DOCS - MOVED, F.format_string("doc%010d", idx - (N_DOCS - MOVED)))
    sources = chunks.select(F.col("doc_id").alias("target"),
                            F.col("source").alias("target_source")).distinct()
    chunks = (chunks.withColumn("target", F.coalesce(target, F.col("doc_id")))
              .join(sources, "target")
              .withColumn("doc_id", F.col("target")).withColumn("source", F.col("target_source"))
              .drop("target", "target_source"))
    chunks = with_p_day(chunks, "window_start").cache()
    days = chunks.groupBy("doc_id").agg(F.countDistinct("p_day").alias("d"), F.count("*").alias("n"))
    stats = days.agg(F.max("d"), F.min("n"), F.max("n")).collect()[0]
    assert stats[0] >= 2, "no doc has chunks in two p_day partitions"
    assert stats[2] >= 3 and stats[1] == 1
    return chunks, _expected(decode_points(chunks).toPandas())


def _warehouse(spark, root, chunks) -> Pipeline:
    """A pipeline whose chunk table is ``chunks``, written the way
    ``Pipeline.ingest`` writes it (bucketed by doc_id, one bucket per
    core)."""
    p = Pipeline(spark, Warehouse(str(root)))
    files = p.warehouse.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=p._bucket_by())
    p.warehouse.write(files.frame(chunks, iter), "chunks_tier0", op="ingest", files=files)
    return p


def _jobs(spark, fn, *args, **kwargs):
    """``(fn(*args, **kwargs), the number of Spark jobs it ran)``."""
    sc = spark.sparkContext
    group = f"promote-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the tracker is fed asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _promote_plan(spark, p: Pipeline, monkeypatch, **kwargs) -> tuple[str, int]:
    """promote_all(**kwargs), returning the plan of the frame its write
    lands and the number of Spark jobs it ran."""
    plans = []
    orig = Warehouse.write_slices

    def spy(self, df, *args, **kwargs):
        plans.append(plan_of(df))
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write_slices", spy)
    _, jobs = _jobs(spark, p.promote_all, **kwargs)
    monkeypatch.setattr(Warehouse, "write_slices", orig)
    assert len(plans) == 1
    return plans[0], jobs


def _assert_bucket_read(plan: str) -> None:
    """The promote's plan reads the buckets in its tasks: a Range of bucket
    ids under the kernel, no scan of the chunk table and no Exchange."""
    assert "Range" in plan and "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "Scan" not in plan, plan


def _assert_same_tiers(root: str, ref_root: str) -> None:
    key = ["doc_id", "window_start"]
    for name in TIER_WINDOWS:
        pd.testing.assert_frame_equal(
            read_table(root, name)[TIER_COLS].sort_values(key).reset_index(drop=True),
            read_table(ref_root, name)[TIER_COLS].sort_values(key).reset_index(drop=True))


def test_fused_promote_is_one_exchange_free_job(spark, tmp_path, multi_chunk,
                                                small_batches, passes_memory, monkeypatch):
    """Every file of the bucketed chunk snapshot names its bucket, each
    task reads one bucket, and the tier tables equal the recompute; with
    a memory bound that cuts every bucket into ≥ 3 doc-range passes, the
    plan and the tables stay the same."""
    chunks, want = multi_chunk
    p = _warehouse(spark, tmp_path / "wh", chunks)
    buckets = p.warehouse.bucket_files("chunks_tier0")
    assert sorted(buckets) == list(range(p._bucket_by()[1]))
    assert sorted(f for fs in buckets.values() for f in fs) == sorted(
        os.path.abspath(f) for f in p.warehouse._data_files("chunks_tier0"))
    plan, jobs = _promote_plan(spark, p, monkeypatch)
    _assert_bucket_read(plan)
    assert jobs == 1
    assert check_tiers(p.warehouse.root, want) == []

    ref = _warehouse(spark, tmp_path / "ref", chunks)
    memory = passes_memory(ref.warehouse, ROLLUP_INPUT)
    monkeypatch.setattr(pipeline, "_python_worker_memory", lambda spark: memory)
    plan, jobs = _promote_plan(spark, ref, monkeypatch)
    _assert_bucket_read(plan)
    assert jobs == 1
    _assert_same_tiers(p.warehouse.root, ref.warehouse.root)


READ_COLUMNS = ("doc_id", "source", "count", "seq", "blob")
READ_FILTERS = [[("tier", "=", 0)], [("tier", "=", 1), ("doc_id", "in", ["d01", "d15", "d20"])]]


def _bucket_rows(paths: list[str], memory: int, batch_rows: int) -> pa.Table:
    """What ``bucket_reader`` yields for one bucket of ``paths``."""
    read = bucket_reader({0: paths}, READ_COLUMNS, filters=READ_FILTERS,
                         sort_by=("doc_id", "source"), batch_rows=batch_rows, memory=memory)
    batches = list(read(iter([pa.record_batch({"_task": pa.array([0], pa.int32())})])))
    assert all(b.num_rows <= batch_rows for b in batches)
    return pa.Table.from_batches(batches).drop_columns(["_bucket"])


def test_bucket_reader_passes_equal_one_pass(tmp_path):
    """Three files of one bucket (a snapshot and two segments) whose docs
    repeat within and across files with equal sort keys, a doc over any
    budget and a null id: read in doc-range passes under ever smaller
    budgets, the rows equal one pass's, row for row (ties in file order),
    and the big doc is a pass of its own."""
    rng = np.random.default_rng(5)
    paths = []
    for f in range(3):
        n = 80
        docs = [f"d{int(x):02d}" for x in rng.integers(0, 30, n)]
        tier = rng.integers(0, 2, n)
        count = rng.integers(1, 20, n)
        docs[7], tier[7] = None, 0
        if f == 1:
            docs[0], tier[0], count[0] = "d15", 0, 5000
        paths.append(str(tmp_path / f"part-{f}_00000.parquet"))
        pq.write_table(pa.table({
            "doc_id": pa.array(docs, pa.string()), "source": ["web"] * n,
            "tier": pa.array(tier, pa.int32()), "count": pa.array(count, pa.int32()),
            "seq": np.arange(n) + 1000 * f, "blob": [bytes(int(c) * 8) for c in count]}),
            paths[-1], row_group_size=16)
    one = _bucket_rows(paths, 1 << 40, 1000)
    assert one.slice(len(one) - 3)["doc_id"].null_count == 3  # the null id sorts last
    assert len(_doc_passes(_footed(paths), READ_COLUMNS, READ_FILTERS, 1 << 40)) == 1
    counts = set()
    for memory in [1 << 16, 1 << 14, 1 << 12, 1]:
        passes = _doc_passes(_footed(paths), READ_COLUMNS, READ_FILTERS, memory // HELD_PER_BYTE)
        counts.add(len(passes))
        docs = [set(pq.read_table(paths, columns=["doc_id"], filters=w)["doc_id"].to_pylist())
                for w in passes]
        assert {"d15"} in docs and docs[-1] == {None}
        for batch_rows in (3, 1000):
            assert _bucket_rows(paths, memory, batch_rows).equals(one), (memory, batch_rows)
    assert min(counts) >= 3 and len(counts) >= 3


class _FooterReads(pafs.FileSystemHandler):
    """A read-only ``pyarrow.fs.PyFileSystem`` handler over the local disk
    that counts, per path, the reads that reach a file's last byte: a
    parquet reader's footer reads (column chunks end before the footer)."""

    def __init__(self):
        self.local, self.reads = pafs.LocalFileSystem(), collections.Counter()

    def __eq__(self, other):
        return self is other

    def __ne__(self, other):
        return self is not other

    def _read_only(self, *args):
        raise NotImplementedError

    create_dir = delete_dir = delete_dir_contents = delete_root_dir_contents = _read_only
    delete_file = move = copy_file = open_output_stream = open_append_stream = _read_only

    def get_type_name(self):
        return "footer-reads"

    def normalize_path(self, path):
        return path

    def get_file_info(self, paths):
        return self.local.get_file_info(paths)

    def get_file_info_selector(self, selector):
        return self.local.get_file_info(selector)

    def open_input_stream(self, path):
        return self.local.open_input_stream(path)

    def open_input_file(self, path):
        reads, size = self.reads, os.path.getsize(path)

        class Tail(io.FileIO):
            def read(self, n=-1):
                if n < 0 or self.tell() + n >= size:
                    reads[path] += 1
                return super().read(n)

        return pa.PythonFile(Tail(path), mode="r")


def test_bucket_reader_reads_each_footer_once(spark, tmp_path, multi_chunk, passes_memory,
                                              monkeypatch):
    """A task reading its bucket in ≥ 3 doc-range passes reads each file's
    footer once, and yields the rows of one pass."""
    chunks, _ = multi_chunk
    p = _warehouse(spark, tmp_path / "wh", chunks)
    columns = (*ROLLUP_INPUT, "count")
    buckets = p.warehouse.bucket_files("chunks_tier0")

    def task(b: int, memory: int) -> pa.Table:
        read = bucket_reader(buckets, columns, filters=[[("tier", "=", 0)]],
                             sort_by=("doc_id", "source"), batch_rows=1000, memory=memory)
        ids = pa.record_batch({"_task": pa.array([b], pa.int32())})
        return pa.Table.from_batches(list(read(iter([ids]))))

    one = {b: task(b, 1 << 40) for b in buckets}
    memory = passes_memory(p.warehouse, columns)
    footers = _FooterReads()
    counting = pafs.PyFileSystem(footers)

    class Local(pafs.LocalFileSystem):  # every local filesystem made from here on counts
        def __new__(cls, *args, **kwargs):
            return counting

    monkeypatch.setattr(pafs, "LocalFileSystem", Local)
    for name in ("read_metadata", "read_table"):
        monkeypatch.setattr(pq, name, partial(getattr(pq, name), filesystem=counting))
    for b, paths in buckets.items():
        footers.reads.clear()
        assert task(b, memory).equals(one[b]), b
        assert footers.reads == collections.Counter(paths), b


def test_file_without_bucket_id_is_refused(spark, tmp_path, multi_chunk):
    """One data file renamed without its ``_<bucket>`` suffix: the chunk
    table no longer maps to buckets, so ``promote_all`` and ``compact``
    refuse it by naming the file, before any job or commit."""
    chunks, _ = multi_chunk
    p = _warehouse(spark, tmp_path / "wh", chunks)
    wh = p.warehouse
    path = wh._data_files("chunks_tier0")[0]
    bare = re.sub(r"_\d+(\.[^_]*)$", r"\1", path)
    os.replace(path, bare)
    version = wh.manifest("chunks_tier0")["version"]

    for call in (p.promote_all, p.compact):
        def refused():
            with pytest.raises(ValueError, match=re.escape(bare)):
                call()

        assert _jobs(spark, refused)[1] == 0, call
    assert not any(wh.exists(name) for name in TIER_WINDOWS)
    assert wh.manifest("chunks_tier0")["version"] == version


def test_bucket_over_worker_memory_reads_in_passes(spark, tmp_path, small_batches,
                                                   passes_memory, monkeypatch):
    """A bound that cuts every bucket into ≥ 3 doc-range passes: a promote
    stopped at ``up_to_us`` and resumed, then a merge after an append of
    new and re-delivered docs, each run one job of the bucket plan (a
    ``Range``, no Exchange) and give the tables of the same calls in one
    pass."""
    base = generate_tokens_df(spark, 60)
    batch = generate_tokens_df(spark, 15, start=60).unionByName(
        generate_tokens_df(spark, 8, start=20))
    pipes = []
    for name in ("ref", "wh"):
        q = Pipeline(spark, Warehouse(str(tmp_path / name)))
        q.ingest(base)
        pipes.append(q)
    ref, p = pipes
    _, stats = ref.warehouse.footer_stats("chunks_tier0", ("min_ts", "max_ts"))
    half = (stats["min_ts"][0] + stats["max_ts"][1]) // 2
    ref.promote_all(up_to_us=half)
    ref.promote_all()
    ref.ingest(batch, append=True)
    ref.promote_all()

    memory = passes_memory(p.warehouse, ROLLUP_INPUT)
    monkeypatch.setattr(pipeline, "_python_worker_memory", lambda spark: memory)
    p.promote_all(up_to_us=half)
    # the resume and the merge scan the tier rows they keep; the chunks are not
    for ingest in (None, partial(p.ingest, batch, append=True)):
        if ingest is not None:
            ingest()
        plan, jobs = _promote_plan(spark, p, monkeypatch)
        assert "Range" in plan and "Exchange" not in plan and "chunks_tier0" not in plan, plan
        assert jobs == 1
    wh = p.warehouse
    assert [wh.manifest(name)["lineage"][-1]["op"] for name in TIER_WINDOWS] == [
        "promote:merge"] * len(TIER_WINDOWS)
    _assert_same_tiers(wh.root, ref.warehouse.root)
    for name in TIER_WINDOWS:
        assert wh.watermark(name) == ref.warehouse.watermark(name)


def test_merge_promote_opens_each_chunk_footer_once(spark, tmp_path, monkeypatch):
    """A merge promote plans from the chunk files' footers on the driver
    (``footer_stats``): each file is opened once, and no other parquet
    footer is read there (the bucket tasks read their own)."""
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 40))
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 10, start=35), append=True)
    files = p.warehouse._data_files("chunks_tier0")
    opened = []
    read_metadata = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata",
                        lambda path, *a, **k: opened.append(path) or read_metadata(path, *a, **k))
    assert {e["mode"] for e in p.promote_all()} == {"merge"}
    assert sorted(opened) == sorted(files)


def test_python_worker_memory_reads_the_session_key(spark):
    """The budget comes from the one ``spark.python.worker.memory`` key:
    Spark's default when nothing sets it, the builder's value when one
    does."""
    from pyspark.sql import SparkSession

    key = "spark.python.worker.memory"
    assert pipeline._python_worker_memory(spark) == 512 << 20
    try:
        assert SparkSession.builder.config(key, "300m").getOrCreate() is spark
        assert pipeline._python_worker_memory(spark) == 300 << 20
    finally:
        spark.conf.unset(key)
    assert pipeline._python_worker_memory(spark) == 512 << 20


def test_crash_between_tier_commits_rerun_finishes(spark, tmp_path, multi_chunk, monkeypatch):
    """write_slices fails after the first tier table's manifest swap; a
    promote_all rerun (the same plan, the committed tier a noop) then
    yields the tier tables and watermarks of an uninterrupted promotion."""
    chunks, want = multi_chunk
    ref = _warehouse(spark, tmp_path / "ref", chunks)
    ref.promote_all()
    p = _warehouse(spark, tmp_path / "wh", chunks)
    wh = p.warehouse
    commit = Warehouse._commit
    done = []

    def crash_after_first(self, table, *args, **kwargs):
        if done:
            raise RuntimeError("crash between tier commits")
        commit(self, table, *args, **kwargs)
        done.append(table)

    monkeypatch.setattr(Warehouse, "_commit", crash_after_first)
    with pytest.raises(RuntimeError, match="between tier commits"):
        p.promote_all()
    monkeypatch.setattr(Warehouse, "_commit", commit)
    assert done == ["tier1_1s"] and not wh.exists("tier2_1m")
    assert [e["mode"] for e in p.promote_all()] == ["noop", "full", "full"]
    assert check_tiers(wh.root, want) == []
    _assert_same_tiers(wh.root, ref.warehouse.root)
    for name in TIER_WINDOWS:
        assert wh.watermark(name) == ref.warehouse.watermark(name)


# ---------------------------------------------------------------------------
# one plan for every regime
# ---------------------------------------------------------------------------

def test_noop_promote_runs_no_job(spark, tmp_path, multi_chunk, monkeypatch):
    """Every tier up to date and nothing pending: promote_all reads no
    table and starts no Spark job."""
    chunks, _ = multi_chunk
    p = _warehouse(spark, tmp_path / "wh", chunks)
    p.promote_all()
    reads = []
    read = Warehouse.read
    monkeypatch.setattr(Warehouse, "read",
                        lambda self, *args, **kwargs: reads.append(args) or read(self, *args, **kwargs))
    summary, jobs = _jobs(spark, p.promote_all)
    assert [e["mode"] for e in summary] == ["noop"] * len(TIER_WINDOWS)
    assert jobs == 0 and reads == []


def test_merge_promote_is_one_plan_equal_to_oneshot(spark, tmp_path, small_batches,
                                                    monkeypatch):
    """An append of new and re-delivered docs over a promoted snapshot: the
    segment is written in the table's buckets, so the merge promote reads
    snapshot + segment by bucket in one job (a ``Range`` of bucket ids
    under the kernel, no Exchange, no scan of the chunk table), and its
    tier tables and watermarks equal a one-shot load of the same
    deliveries."""
    base = generate_tokens_df(spark, 60)
    batch = generate_tokens_df(spark, 15, start=60).unionByName(
        generate_tokens_df(spark, 8, start=20))
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(base)
    p.promote_all()
    p.ingest(batch, append=True)
    wh = p.warehouse
    buckets = wh.bucket_files("chunks_tier0")
    assert sorted(f for fs in buckets.values() for f in fs) == sorted(
        os.path.abspath(f) for f in wh._data_files("chunks_tier0"))
    plan, jobs = _promote_plan(spark, p, monkeypatch)
    # the kept tier rows are scanned; the chunks are not
    assert "Range" in plan and "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "chunks_tier0" not in plan, plan
    assert jobs == 1
    assert {wh.manifest(name)["lineage"][-1]["op"] for name in TIER_WINDOWS} == {"promote:merge"}
    assert wh.pending_appends("chunks_tier0") == []

    ref = Pipeline(spark, Warehouse(str(tmp_path / "ref")))
    ref.ingest(base.unionByName(batch))
    ref.promote_all()
    _assert_same_tiers(wh.root, ref.warehouse.root)
    for name in TIER_WINDOWS:
        assert wh.watermark(name) == ref.warehouse.watermark(name)


def test_append_keeps_the_tables_bucket_count(spark, tmp_path, monkeypatch):
    """The bucket count is fixed by the write that creates the snapshot: an
    append from a session with another parallelism writes the table's
    buckets, ``bucket_files`` still maps the table, and the merge promote
    equals the one of an append in the same session."""
    base, batch = generate_tokens_df(spark, 40), generate_tokens_df(spark, 10, start=35)
    ref = Pipeline(spark, Warehouse(str(tmp_path / "ref")))
    ref.ingest(base)
    ref.promote_all()
    ref.ingest(batch, append=True)
    ref.promote_all()

    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(base)
    p.promote_all()
    n = p._bucket_by()[1]
    monkeypatch.setattr(Pipeline, "_bucket_by", lambda self: ("doc_id", n + 3))
    p.ingest(batch, append=True)
    wh = p.warehouse
    assert wh.manifest("chunks_tier0")["bucket_spec"] == ["doc_id", n]
    buckets = wh.bucket_files("chunks_tier0")
    assert sorted(buckets) == list(range(n))
    assert sum(map(len, buckets.values())) == len(wh._data_files("chunks_tier0"))
    p.promote_all()
    _assert_same_tiers(wh.root, ref.warehouse.root)


def test_segment_in_other_buckets_is_refused(spark, tmp_path):
    """An append's segment must carry the table's bucket spec: a segment
    written without buckets over a bucketed table is refused before its
    files are landed, and the manifest is unchanged."""
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 20))
    wh = p.warehouse
    before = wh.manifest("chunks_tier0")
    files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW)
    frame = files.frame(flush(generate_tokens_df(spark, 5, start=20)), iter)
    with pytest.raises(ValueError, match="not the table's"):
        wh.append_segment(frame, "chunks_tier0", files=files)
    assert wh.manifest("chunks_tier0") == before


def test_resume_over_bucketed_snapshot_reads_buckets(spark, tmp_path, multi_chunk,
                                                     small_batches, monkeypatch):
    """A promote stopped at ``up_to_us`` and then resumed: the resume reads
    the chunk buckets in its tasks (a Range, no Exchange, no scan of the
    chunk table), runs one job, and its tables and watermarks equal a
    one-shot promote."""
    chunks, want = multi_chunk
    ref = _warehouse(spark, tmp_path / "ref", chunks)
    ref.promote_all()
    p = _warehouse(spark, tmp_path / "wh", chunks)
    wh = p.warehouse
    _, stats = wh.footer_stats("chunks_tier0", ("min_ts", "max_ts"))
    p.promote_all(up_to_us=(stats["min_ts"][0] + stats["max_ts"][1]) // 2)
    assert 0 < wh.manifest("tier1_1s")["lineage"][-1]["rows"] < len(want["tier1_1s"])
    plan, jobs = _promote_plan(spark, p, monkeypatch)
    assert "Range" in plan and "Exchange" not in plan and "chunks_tier0" not in plan, plan
    assert jobs == 1
    assert {wh.manifest(name)["lineage"][-1]["op"] for name in TIER_WINDOWS} == {
        "promote:incremental"}
    assert check_tiers(wh.root, want) == []
    _assert_same_tiers(wh.root, ref.warehouse.root)
    for name in TIER_WINDOWS:
        assert wh.watermark(name) == ref.warehouse.watermark(name)


def test_one_tier_pipeline_takes_the_same_plan(spark, tmp_path, multi_chunk, monkeypatch):
    """A pipeline of one tier promotes through the same plan: the fresh
    promote reads the buckets in one job, and a merge after an append of
    re-delivered docs gives the recompute of every chunk's points."""
    chunks, want = multi_chunk
    wh = _warehouse(spark, tmp_path / "wh", chunks).warehouse
    p = Pipeline(spark, wh, [TierSpec("tier1_1s", TIER_WINDOWS["tier1_1s"])])
    plan, jobs = _promote_plan(spark, p, monkeypatch)
    _assert_bucket_read(plan)
    assert jobs == 1
    assert check_tiers(wh.root, {"tier1_1s": want["tier1_1s"]}) == []
    p.ingest(generate_tokens_df(spark, 5), append=True)
    assert [e["mode"] for e in p.promote_all()] == ["merge"]
    points = decode_points(wh.read(spark, "chunks_tier0")).toPandas()
    assert check_tiers(wh.root, {"tier1_1s": _expected(points)["tier1_1s"]}) == []


def test_pipeline_refuses_windows_that_do_not_nest(tmp_path):
    """Tiers whose windows do not nest are refused when the pipeline is
    made, not at its first promote."""
    with pytest.raises(ValueError, match="must nest"):
        Pipeline(None, Warehouse(str(tmp_path)),
                 [TierSpec("a", 1_000_000), TierSpec("b", 1_500_000)])


def test_pipeline_stages_describe_their_jobs(spark, tmp_path, monkeypatch):
    """ingest, promote_all, compact and retain run their Spark actions
    under their own job description and hand the caller's back. The fresh
    ingest is exactly one labelled job, and the promote after it commits
    the ingest's staged tier rows with no job at all."""
    seen = []
    for method in ("write", "write_slices", "append_segment"):
        orig = getattr(Warehouse, method)

        def spy(self, *args, _orig=orig, **kwargs):
            seen.append(spark.sparkContext.getLocalProperty("spark.job.description"))
            return _orig(self, *args, **kwargs)

        monkeypatch.setattr(Warehouse, method, spy)
    sc = spark.sparkContext
    try:
        for i, caller in enumerate(("caller's label", None)):
            p = Pipeline(spark, Warehouse(str(tmp_path / f"wh{i}")))
            # (stage, call, args, labelled writes, jobs or None: not counted)
            for stage, fn, args, writes, jobs in [
                    ("ingest", p.ingest, (generate_tokens_df(spark, 20),), 1, 1),
                    ("promote_all", p.promote_all, (), 0, 0),
                    ("ingest", partial(p.ingest, append=True), (generate_tokens_df(spark, 5),),
                     1, None),
                    ("promote_all", p.promote_all, (), 1, None),
                    ("compact", p.compact, (), 1, None),
                    ("retain", p.retain, (1_800_000_000_000_000,), 0, None)]:
                sc.setJobDescription(caller)
                group = f"stage-{uuid.uuid4().hex}"
                sc.setLocalProperty("spark.jobGroup.id", group)
                del seen[:]
                fn(*args)
                sc.setLocalProperty("spark.jobGroup.id", None)
                assert seen == [f"tsrollup {stage}"] * writes, (stage, seen)
                assert sc.getLocalProperty("spark.job.description") == caller, stage
                if jobs is not None:
                    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
                    assert len(sc.statusTracker().getJobIdsForGroup(group)) == jobs, stage
    finally:
        sc.setLocalProperty("spark.job.description", None)
        sc.setLocalProperty("spark.jobGroup.id", None)
