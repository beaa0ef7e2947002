"""Kernel-written parquet: the flush and the fused rollup tasks write their
own files (``Warehouse.kernel_writer``) and return one row per file.

- parquet parity: file schema = manifest schema without ``p_day``, zstd,
  ~4 MB row groups, ``DELTA_BINARY_PACKED`` integers with no dictionary
  page, PLAIN blobs, no dictionary pages on tier slices, exact min/max
  statistics where ``footer_stats`` reads them;
- ingest is one Spark job with no Exchange and no Sort before the writer;
- bucket semantics: every file's ``_<bucket>`` suffix is the bucket Spark's
  own ``bucketBy`` write assigns, and the snapshot's buckets, read with
  pyarrow, hold the rows of a plain read, every doc in one bucket;
- a crash between the data write and the manifest swap keeps the previous
  snapshot live, and a rerun yields the tables of an uninterrupted run;
- a stray file under a staging attempt dir is never committed;
- ingest and promote register nothing in the session catalog, and their
  lineage entries record where the task time went;
- doc ids of any shape key a series: the flush and the promote give the
  input's points and their recomputed tiers;
- readers: the kernel's chunk and tier files read back alike through
  Spark, pyarrow and DuckDB; a table whose files carry the old writer
  settings (zstd 3, dictionary pages, PLAIN integers) takes a new append,
  a merge promote and a compaction like an all-new one.
"""

import contextlib
import io
import os
import re
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from sorting_compressed_time_series_spark.operators.ingest import (
    CHUNK_ARROW,
    flush,
    flush_kernel_batches,
)
from sorting_compressed_time_series_spark.operators.rollup import (
    TIER_PARTIAL_ARROW,
    decode_points,
)
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline
from sorting_compressed_time_series_spark.sources.seriesize import (
    doc_index_from_id,
    synth_timestamps,
)
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import (
    ROW_GROUP_BYTES,
    TASK_TIMERS,
    US_PER_DAY,
    KernelWriter,
    Warehouse,
    with_p_day,
)

from perfbench.oracle import TIER_COLS, TIER_WINDOWS, check_tiers, expected_tiers, read_table

BUCKET_SUFFIX = re.compile(r"_(\d{5})\.c000\.zstd\.parquet$")


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode="formatted")
    return buf.getvalue()


def _files(root: str) -> list[str]:
    return sorted(os.path.join(dp, f) for dp, _, fs in os.walk(root)
                  for f in fs if f.endswith(".parquet"))


def _jobs_of(spark, group: str, fn, *args):
    """(result, number of Spark jobs) of ``fn(*args)`` run under ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the tracker is fed asynchronously
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _chunks_of(root: str, table: str = "chunks_tier0") -> pd.DataFrame:
    """The table's chunk rows, without the per-batch timing column."""
    t = read_table(root, table).drop(columns=["encode_ns"])
    return t.sort_values(["doc_id", "min_ts", "count"]).reset_index(drop=True)


def _tiers_of(root: str) -> dict[str, pd.DataFrame]:
    key = ["doc_id", "window_start"]
    return {name: read_table(root, name)[TIER_COLS].sort_values(key).reset_index(drop=True)
            for name in TIER_WINDOWS}


# ---------------------------------------------------------------------------
# the writer, without Spark
# ---------------------------------------------------------------------------

def _chunk_batch(rng, n: int, blob_bytes: int, days: int) -> pa.RecordBatch:
    cols = {}
    for f in CHUNK_ARROW:
        if pa.types.is_binary(f.type):
            cols[f.name] = pa.array([rng.bytes(blob_bytes) for _ in range(n)], pa.binary())
        elif pa.types.is_string(f.type):
            cols[f.name] = pa.array([f"doc{i:010d}" if f.name == "doc_id"
                                     else ("web", "code")[i % 2] for i in range(n)])
        elif pa.types.is_boolean(f.type):
            cols[f.name] = pa.array(np.arange(n) % 3 == 0)
        else:
            cols[f.name] = pa.array(rng.integers(0, 1000, n), f.type)
    cols["tier"] = pa.array(np.zeros(n, np.int32))
    cols["window_start"] = pa.array(
        1_700_000_000_000_000 + (np.arange(n) % days) * US_PER_DAY + 3_600_000_000)
    return pa.RecordBatch.from_pydict(cols, schema=CHUNK_ARROW)


def _assert_encoded(md, schema: pa.Schema, dictionary: bool) -> None:
    """Every column chunk of ``md`` zstd; integers ``DELTA_BINARY_PACKED``
    with no dictionary page, blobs PLAIN with none, strings a dictionary
    page iff ``dictionary``."""
    for g in range(md.num_row_groups):
        for j in range(md.num_columns):
            col = md.row_group(g).column(j)
            name, kind = col.path_in_schema, schema.field(col.path_in_schema).type
            assert col.compression == "ZSTD", name
            if pa.types.is_integer(kind):
                assert "DELTA_BINARY_PACKED" in col.encodings, (name, col.encodings)
                assert "PLAIN" not in col.encodings, (name, col.encodings)
                assert not col.has_dictionary_page, name
            elif pa.types.is_binary(kind):
                assert col.encodings == ("RLE", "PLAIN"), (name, col.encodings)
                assert not col.has_dictionary_page, name
            elif pa.types.is_string(kind):
                assert col.has_dictionary_page == dictionary, name


def _assert_exact_stats(path: str) -> None:
    """Each row group's min/max statistics are its values' own, on every
    column but the blobs (which carry none)."""
    f = pq.ParquetFile(path)
    for g in range(f.metadata.num_row_groups):
        values = f.read_row_group(g)
        for j in range(f.metadata.num_columns):
            col = f.metadata.row_group(g).column(j)
            st, name = col.statistics, col.path_in_schema
            if pa.types.is_binary(values.schema.field(name).type):
                assert st is None or not st.has_min_max, name
                continue
            lo, hi = pc.min_max(values[name]).values()
            assert st.has_min_max and (st.min, st.max) == (lo.as_py(), hi.as_py()), name


def test_writer_parquet_parity(tmp_path):
    """Chunk files: the kernel's schema, zstd, row groups of ~4 MB,
    ``DELTA_BINARY_PACKED`` integers with no dictionary page, PLAIN blob
    columns with none, min/max statistics (exact) on the rest; every row
    lands in the p_day partition of its window_start."""
    rng = np.random.default_rng(7)
    batches = [_chunk_batch(rng, 1500, 2048, days=2) for _ in range(2)]  # ~12 MB of blobs
    writer = KernelWriter(str(tmp_path / "staging"), CHUNK_ARROW)
    out = pa.Table.from_batches(list(writer.task(lambda it: it)(iter(batches)))).to_pylist()
    assert sum(r["rows"] for r in out) == 3000
    assert sorted(r["p_day"] for r in out) == sorted(
        {int(w) // US_PER_DAY for b in batches for w in b.column("window_start").to_numpy()})
    for r in out:
        assert r["slice"] is None and r["bucket"] is None
        assert f"{os.sep}p_day={r['p_day']}{os.sep}" in r["path"]
        assert r["path"].endswith(".c000.zstd.parquet") and not BUCKET_SUFFIX.search(r["path"])
        assert pq.read_schema(r["path"]).remove_metadata().equals(CHUNK_ARROW)
        md = pq.read_metadata(r["path"])
        assert md.num_rows == r["rows"] and md.num_row_groups >= 2
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            assert rg.total_byte_size <= ROW_GROUP_BYTES * 1.1
            for j in range(rg.num_columns):
                col = rg.column(j)
                binary = pa.types.is_binary(CHUNK_ARROW.field(col.path_in_schema).type)
                assert col.compression == "ZSTD"
                if binary or col.path_in_schema in ("doc_id", "source"):
                    assert col.has_dictionary_page != binary, col.path_in_schema
                st = col.statistics
                assert (st is not None and st.has_min_max) != binary, col.path_in_schema
        _assert_encoded(md, CHUNK_ARROW, dictionary=True)
        _assert_exact_stats(r["path"])
        table = pq.read_table(r["path"])
        assert set(table.column("window_start").to_numpy() // US_PER_DAY) == {r["p_day"]}


def test_sliced_writer_has_no_dictionary_pages(tmp_path):
    """Tier slices: one file per (slice, p_day) under ``tier=<v>``, the
    slice column only in the directory name, no dictionary pages, zstd,
    ``DELTA_BINARY_PACKED`` integers and exact min/max statistics."""
    n = 400
    rows = {c: pa.array(np.arange(n, dtype=np.int64)) for c in TIER_PARTIAL_ARROW.names}
    rows["doc_id"] = pa.array([f"doc{i % 7}" for i in range(n)])
    rows["source"] = pa.array(["web"] * n)
    rows["window_start"] = pa.array(1_700_000_000_000_000 + (np.arange(n) % 2) * US_PER_DAY)
    batch = pa.RecordBatch.from_pydict(
        {"tier": pa.array(np.arange(n, dtype=np.int32) % 3), **rows})
    writer = KernelWriter(str(tmp_path / "staging"), TIER_PARTIAL_ARROW, slice_col="tier")
    out = pa.Table.from_batches(list(writer.task(lambda it: it)(iter([batch])))).to_pylist()
    assert sorted((r["slice"], r["p_day"]) for r in out) == [
        (t, d) for t in range(3) for d in (19675, 19676)]
    for r in out:
        assert f"{os.sep}tier={r['slice']}{os.sep}p_day={r['p_day']}{os.sep}" in r["path"]
        assert pq.read_schema(r["path"]).remove_metadata().equals(TIER_PARTIAL_ARROW)
        md = pq.read_metadata(r["path"])
        assert not any(md.row_group(0).column(j).has_dictionary_page for j in range(md.num_columns))
        _assert_encoded(md, TIER_PARTIAL_ARROW, dictionary=False)
        _assert_exact_stats(r["path"])
        assert set(pq.read_table(r["path"]).column("cnt").to_numpy() % 3) == {r["slice"]}


# ---------------------------------------------------------------------------
# ingest and bucket semantics
# ---------------------------------------------------------------------------

def _doc_buckets(files: list[str]) -> dict[str, int]:
    """doc_id -> bucket of the files holding it (each doc in one bucket)."""
    out: dict[str, int] = {}
    for path in files:
        bucket = int(BUCKET_SUFFIX.search(path).group(1))
        for doc in set(pq.read_table(path, columns=["doc_id"]).column("doc_id").to_pylist()):
            assert out.setdefault(doc, bucket) == bucket, doc
    return out


def test_ingest_is_one_exchange_free_job_with_spark_buckets(spark, tmp_path, monkeypatch):
    """Ingest runs ONE job whose plan has no Exchange and no Sort before
    the writing kernel; its files carry Spark's own bucket ids, and the
    manifest schema is the one Spark's writer recorded for the same flush."""
    tokens = generate_tokens_df(spark, 60)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    plans = []
    orig = Warehouse.write

    def spy(self, df, *args, **kwargs):
        plans.append(plan_of(df))
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write", spy)
    _, jobs = _jobs_of(spark, f"ingest-{id(p)}", p.ingest, tokens)
    monkeypatch.setattr(Warehouse, "write", orig)
    assert jobs == 1
    assert len(plans) == 1
    assert "Exchange" not in plans[0] and "Sort" not in plans[0], plans[0]
    assert "MapInArrow" in plans[0], plans[0]

    wh = p.warehouse
    m = wh.manifest("chunks_tier0")
    chunks = with_p_day(flush(tokens), "window_start")
    assert m["schema"] == chunks.schema.json()
    snap = os.path.join(wh.root, "chunks_tier0", m["snapshot"])
    ours = _files(snap)
    assert all(pq.read_schema(f).remove_metadata().equals(CHUNK_ARROW) for f in ours)

    col, n = p._bucket_by()
    assert m["bucket_spec"] == [col, n]
    name = f"spark_bucketed_{uuid.uuid4().hex}"
    (chunks.write.option("path", str(tmp_path / "spark")).partitionBy("p_day")
     .bucketBy(n, col).format("parquet").saveAsTable(name))
    spark.sql(f"DROP TABLE {name}")
    theirs = _doc_buckets(_files(str(tmp_path / "spark")))
    assert _doc_buckets(ours) == theirs
    assert len(set(theirs.values())) == n


@pytest.fixture(scope="module")
def redelivered(spark, tmp_path_factory):
    """A kernel-written chunk snapshot in which docs 0-19 have two chunks
    (delivered twice in one ingest)."""
    tokens = generate_tokens_df(spark, 60).unionByName(generate_tokens_df(spark, 20))
    p = Pipeline(spark, Warehouse(str(tmp_path_factory.mktemp("wh_redelivered"))))
    p.ingest(tokens)
    return p


def test_kernel_written_snapshot_reads_as_buckets(spark, redelivered):
    """The snapshot's buckets (``bucket_files``), read with pyarrow, hold
    the rows of a plain parquet read, and both count the re-delivered
    docs' two chunks each."""
    wh = redelivered.warehouse
    m = wh.manifest("chunks_tier0")
    buckets = wh.bucket_files("chunks_tier0")
    bucketed = pd.concat([pq.read_table(fs).to_pandas().assign(bucket=b)
                          for b, fs in buckets.items() if fs], ignore_index=True)
    assert bucketed.groupby("doc_id")["bucket"].nunique().max() == 1
    plain = spark.read.parquet(os.path.join(wh.root, "chunks_tier0", m["snapshot"]))

    def per_doc(df):
        return (df.groupby("doc_id").agg(chunks=("count", "size"), points=("count", "sum"))
                .reset_index().sort_values("doc_id").reset_index(drop=True))

    got, want = per_doc(bucketed), per_doc(plain.toPandas())
    pd.testing.assert_frame_equal(got, want, check_dtype=False)
    assert (got.chunks == 2).sum() == 20


def test_compact_rewrites_kernel_written_snapshot(spark, tmp_path):
    """``compact()`` over a kernel-written snapshot merges the re-delivered
    docs and keeps the table bucketed."""
    tokens = generate_tokens_df(spark, 60).unionByName(generate_tokens_df(spark, 20))
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    points = _chunks_of(p.warehouse.root).groupby("doc_id")["count"].sum()
    assert p.compact()["compacted_docs"] == 20
    after = _chunks_of(p.warehouse.root)
    assert not after.doc_id.duplicated().any()
    pd.testing.assert_series_equal(after.groupby("doc_id")["count"].sum(), points)
    assert p.warehouse.manifest("chunks_tier0")["bucket_spec"] == list(p._bucket_by())
    buckets = p.warehouse.bucket_files("chunks_tier0")
    assert buckets is not None and sum(map(len, buckets.values())) == len(
        p.warehouse._data_files("chunks_tier0"))


# ---------------------------------------------------------------------------
# a crash between the data write and the manifest swap; stray files
# ---------------------------------------------------------------------------

def test_crash_before_manifest_swap_keeps_previous_snapshot(spark, tmp_path, monkeypatch):
    """The tasks' files are staged and moved, then ``_commit`` fails: the
    previous chunk snapshot stays live (and no tier table appears); the
    reruns equal an uninterrupted run."""
    first, second = generate_tokens_df(spark, 30), generate_tokens_df(spark, 40, start=100)
    ref = Pipeline(spark, Warehouse(str(tmp_path / "ref")))
    ref.ingest(first)
    ref.ingest(second)
    ref.promote_all()

    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    wh = p.warehouse
    p.ingest(first)
    live = wh.manifest("chunks_tier0")
    before = _chunks_of(wh.root)
    commit = Warehouse._commit

    def crash(self, *args, **kwargs):
        raise RuntimeError("crash before the manifest swap")

    monkeypatch.setattr(Warehouse, "_commit", crash)
    with pytest.raises(RuntimeError, match="manifest swap"):
        p.ingest(second)
    staged = os.path.join(wh.root, "chunks_tier0", f"snap-{live['version'] + 1}")
    assert _files(staged)  # the data write happened
    assert wh.manifest("chunks_tier0") == live
    pd.testing.assert_frame_equal(_chunks_of(wh.root), before)
    assert wh.read(spark, "chunks_tier0").count() == len(before)

    monkeypatch.setattr(Warehouse, "_commit", commit)
    p.ingest(second)
    pd.testing.assert_frame_equal(_chunks_of(wh.root), _chunks_of(ref.warehouse.root))

    monkeypatch.setattr(Warehouse, "_commit", crash)
    with pytest.raises(RuntimeError, match="manifest swap"):
        p.promote_all()
    assert not any(wh.exists(name) for name in TIER_WINDOWS)
    monkeypatch.setattr(Warehouse, "_commit", commit)
    assert [e["mode"] for e in p.promote_all()] == ["full"] * 3
    got, want = _tiers_of(wh.root), _tiers_of(ref.warehouse.root)
    for name in TIER_WINDOWS:
        pd.testing.assert_frame_equal(got[name], want[name])
        assert wh.watermark(name) == ref.warehouse.watermark(name)
    assert not os.listdir(os.path.join(wh.root, "_staging"))


def test_stray_staged_file_is_never_committed(spark, tmp_path):
    """Each task also leaves an unreported parquet file of valid chunk rows
    in its attempt dir (what a failed or speculative attempt leaves): the
    commit takes only the reported files and removes the staging dir."""
    tokens = generate_tokens_df(spark, 40)
    ref = Pipeline(spark, Warehouse(str(tmp_path / "ref")))
    ref.ingest(tokens)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    wh = p.warehouse
    files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=p._bucket_by())
    staging = files.staging

    def flush_and_stray(batches):
        from pyspark import TaskContext

        attempt = os.path.join(staging, f"attempt-{TaskContext.get().taskAttemptId()}")
        for out in flush_kernel_batches(batches):
            part = os.path.join(attempt, "p_day=19675")
            os.makedirs(part, exist_ok=True)
            pq.write_table(pa.Table.from_batches([out]),
                           os.path.join(part, f"part-stray-{uuid.uuid4()}_00000.c000.zstd.parquet"))
            yield out

    wh.write(files.frame(tokens, flush_and_stray), "chunks_tier0", op="ingest", files=files)
    assert not any("stray" in os.path.basename(f) for f in _files(wh.root))
    assert not os.path.exists(staging)
    pd.testing.assert_frame_equal(_chunks_of(wh.root), _chunks_of(ref.warehouse.root))
    assert wh.read(spark, "chunks_tier0").count() == 40


# ---------------------------------------------------------------------------
# the catalog, task timers, doc ids
# ---------------------------------------------------------------------------

def _tables(spark) -> set[str]:
    return {t.name for t in spark.catalog.listTables()}


def test_ingest_and_promote_register_no_catalog_table(spark, tmp_path):
    """Neither stage reads through the session catalog: the list of tables
    is the same before and after, and ingest returns its lineage entry."""
    before = _tables(spark)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    entry = p.ingest(generate_tokens_df(spark, 40))
    assert entry == p.warehouse.manifest("chunks_tier0")["lineage"][-1]
    assert entry["op"] == "ingest" and entry["rows"] == 40
    p.promote_all()
    assert _tables(spark) == before


def test_lineage_records_task_timers(spark, tmp_path):
    """The kernel commits of ingest, an append and the fused promote carry
    the tasks' summed seconds blocked on input, in the kernel and writing,
    and the number of tasks; the ingest and the append also name their
    input path (a generated frame: Spark's scan)."""
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 40))
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 5, start=40), append=True)
    wh = p.warehouse
    entries = wh.manifest("chunks_tier0")["lineage"] + [
        wh.manifest(name)["lineage"][-1] for name in TIER_WINDOWS]
    assert [e["op"] for e in entries] == ["ingest", "append"] + ["promote:full"] * 3
    for e in entries:
        assert all(e[t] >= 0 for t in TASK_TIMERS), e
        assert e["kernel_s"] > 0, e
        assert e["tasks"] >= 1, e
    assert [e.get("input") for e in entries] == ["scan", "scan", None, None, None]


ODD_IDS = ["user-α/7", "doc", "doc12x", "", "doc0000000003", "DOC5", "doc 9", "séries/ü"]


def test_arbitrary_doc_ids_ingest_and_promote(spark, tmp_path):
    """Ids not shaped ``doc<digits>`` key their series by a hash of their
    bytes: the decoded points equal the input (event times from that key),
    and the tier tables equal a pandas recompute."""
    rng = np.random.default_rng(11)
    lengths = rng.integers(1, 400, len(ODD_IDS))
    tokens = [rng.integers(-10_000, 10_000, n).astype(np.int32) for n in lengths]
    source = ["web" if i % 2 else "code" for i in range(len(ODD_IDS))]
    df = spark.createDataFrame(
        pd.DataFrame({"doc_id": ODD_IDS, "tokens": [t.tolist() for t in tokens],
                      "n_tok": lengths.astype(np.int32), "source": source}),
        "doc_id string, tokens array<int>, n_tok int, source string")
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(df)
    p.promote_all()

    key = np.repeat(doc_index_from_id(pa.array(ODD_IDS)), lengths)
    pos = np.concatenate([np.arange(n) for n in lengths])
    points = pd.DataFrame({"doc_id": np.repeat(ODD_IDS, lengths),
                           "source": np.repeat(source, lengths), "pos": pos,
                           "token": np.concatenate(tokens).astype(np.int64),
                           "ts": synth_timestamps(key, pos, 42)})
    got = decode_points(p.warehouse.read(spark, "chunks_tier0")).toPandas()
    cols = ["doc_id", "source", "ts", "value"]
    pd.testing.assert_frame_equal(
        got[cols].sort_values(cols).reset_index(drop=True),
        points.rename(columns={"token": "value"})[cols].sort_values(cols).reset_index(drop=True),
        check_dtype=False)
    assert check_tiers(p.warehouse.root, expected_tiers(points)) == []


# ---------------------------------------------------------------------------
# readers, and tables whose files mix the old and the new encodings
# ---------------------------------------------------------------------------

def _sorted_rows(df: pd.DataFrame, schema: pa.Schema) -> pd.DataFrame:
    """``df``'s ``schema`` columns, sorted by all of them but the blobs."""
    key = [f.name for f in schema if not pa.types.is_binary(f.type)]
    return df[schema.names].sort_values(key).reset_index(drop=True)


def test_kernel_files_read_back_alike_in_spark_pyarrow_and_duckdb(spark, tmp_path):
    """The chunk and tier tables a fresh load writes (delta-encoded
    integers, the int32 chunk columns among them) read back equal, row for
    row and type for type, through ``Warehouse.read`` (Spark),
    ``pq.read_table`` and DuckDB."""
    import duckdb

    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 60))
    p.promote_all()
    wh, con = p.warehouse, duckdb.connect()
    for table in ("chunks_tier0", *TIER_WINDOWS):
        paths = wh._data_files(table)
        schema = pq.read_schema(paths[0]).remove_metadata()
        for path in paths:
            _assert_encoded(pq.read_metadata(path), schema, dictionary=table == "chunks_tier0")
        arrow = _sorted_rows(pq.read_table(paths).to_pandas(), schema)
        names = ", ".join(f'"{c}"' for c in schema.names)
        duck = con.execute(
            f"SELECT {names} FROM read_parquet({paths!r}, hive_partitioning = false)").df()
        for other in (wh.read(spark, table).toPandas(), duck):
            pd.testing.assert_frame_equal(_sorted_rows(other, schema), arrow)
        if table == "chunks_tier0":
            assert all(arrow[c].dtype == np.int32
                       for c in ("tier", "count", "n_inversions", "bytes_time"))
    con.close()


def _rewrite_with_old_settings(wh: Warehouse, table: str) -> None:
    """Every live file of ``table`` rewritten in place the way the kernel
    wrote it before the delta encoding: zstd level 3, PLAIN integers, and
    dictionary pages on the non-blob columns of unsliced (chunk) files."""
    for path in wh._data_files(table):
        rows = pq.ParquetFile(path).read()
        plain = [f.name for f in rows.schema if not pa.types.is_binary(f.type)]
        pq.write_table(rows, path, compression="zstd", compression_level=3,
                       use_dictionary=plain if table == "chunks_tier0" else False,
                       write_statistics=plain)
        md = pq.read_metadata(path)
        assert not any("DELTA_BINARY_PACKED" in md.row_group(g).column(j).encodings
                       for g in range(md.num_row_groups) for j in range(md.num_columns))


def test_tables_of_old_and_new_files_append_merge_and_compact_alike(spark, tmp_path):
    """A warehouse whose committed files all carry the old writer settings
    takes an append from the new writer, a merge promote and a compaction,
    and ends with the tables of the same calls on an all-new warehouse: no
    upgrade step."""
    first = generate_tokens_df(spark, 40)
    second = generate_tokens_df(spark, 30, start=20)  # docs 20-39 delivered again
    new, old = (Pipeline(spark, Warehouse(str(tmp_path / name))) for name in ("new", "old"))
    for p in (new, old):
        p.ingest(first)
        p.promote_all()
    for table in ("chunks_tier0", *TIER_WINDOWS):
        _rewrite_with_old_settings(old.warehouse, table)
    for p in (new, old):
        p.ingest(second, append=True)
    segment = old.warehouse.pending_appends("chunks_tier0")
    for path in old.warehouse._dir_files("chunks_tier0", segment[0]):
        _assert_encoded(pq.read_metadata(path), CHUNK_ARROW, dictionary=True)

    def same_tables():
        pd.testing.assert_frame_equal(_chunks_of(old.warehouse.root),
                                      _chunks_of(new.warehouse.root))
        for name, want in _tiers_of(new.warehouse.root).items():
            pd.testing.assert_frame_equal(_tiers_of(old.warehouse.root)[name], want)

    for p in (new, old):
        p.promote_all()
    same_tables()
    assert old.compact() == new.compact() == {"compacted_docs": 20}
    same_tables()
