"""The fresh ingest rolls up every tier in its flush tasks; promote_all
commits those rows with no Spark job.

Every test compares against the promotion job (the same load with the
chunk table's prepared record dropped before ``promote_all``):

- a fresh load: the promote runs no job, its tier tables and watermarks
  equal the job's, the chunk rows equal the flush kernel's byte for byte,
  and the tier lineage names the ingest version that computed the rows;
- a doc delivered twice in two partitions, or twice apart in one, is not
  one doc run of one task: the record is never written; twice in a row
  (straddling Arrow batches) it is one run and the record holds;
- ``up_to_us``, an append, a compaction, a second fresh ingest or a
  pipeline with other tiers before the promote: the record is dropped (or
  replaced) and the job's tables come out;
- crashes before, between and inside the tier commits: the rerun equals an
  uninterrupted load; a second fresh ingest that crashes at its commit
  leaves the first record usable;
- no discard leaves a staged dir behind;
- the commits of a fresh load read no parquet footer but the promote's one
  ``footer_stats``;
- a fresh load of no row: the promote makes every tier a noop with no job
  and drops the record;
- a batch whose blob planes pass the int32 offset limit is flushed as row
  slices, with the chunks and tiers of an unsplit run.
"""

import os
import uuid

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from sorting_compressed_time_series_spark.operators import ingest
from sorting_compressed_time_series_spark.operators.rollup import TIER_PARTIAL_ARROW, decode_points
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

from perfbench.oracle import TIER_COLS, TIER_WINDOWS, check_tiers, expected_tiers, read_table

CHUNK_COLS = [c for c in ingest.CHUNK_ARROW.names if c != "encode_ns"]


def _jobs(spark, fn, *args, **kwargs):
    """``(fn(*args, **kwargs), the number of Spark jobs it ran)``."""
    sc = spark.sparkContext
    group = f"prepared-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn(*args, **kwargs)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _load(spark, root, tokens, *, prepared: bool = True, **promote) -> Pipeline:
    """A fresh ingest of ``tokens`` and a promote; with ``prepared=False``
    the record is dropped first, so the promotion job computes the tiers."""
    p = Pipeline(spark, Warehouse(str(root)))
    p.ingest(tokens)
    if not prepared:
        p.warehouse.drop_prepared("chunks_tier0")
    p.promote_all(**promote)
    return p


def _same_tiers(wh: Warehouse, ref: Warehouse, names=tuple(TIER_WINDOWS)) -> None:
    key = ["doc_id", "window_start"]
    for name in names:
        pd.testing.assert_frame_equal(
            read_table(wh.root, name)[TIER_COLS].sort_values(key).reset_index(drop=True),
            read_table(ref.root, name)[TIER_COLS].sort_values(key).reset_index(drop=True))
        assert wh.watermark(name) == ref.watermark(name), name


def _no_staged(wh: Warehouse) -> None:
    """Nothing staged is left, and each tier dir holds its manifest and
    live snapshot only."""
    staging = os.path.join(wh.root, "_staging")
    assert not os.path.isdir(staging) or os.listdir(staging) == []
    for name in TIER_WINDOWS:
        if os.path.isdir(os.path.join(wh.root, name)):
            assert sorted(os.listdir(os.path.join(wh.root, name))) == sorted(
                ["_manifest.json", *wh._live_dirs(name)]), name


def _chunks(wh: Warehouse) -> pd.DataFrame:
    return read_table(wh.root, "chunks_tier0")[CHUNK_COLS].sort_values(
        ["doc_id", "min_ts", "count"]).reset_index(drop=True)


def _points_recompute(spark, wh: Warehouse) -> dict[str, pd.DataFrame]:
    points = decode_points(wh.read(spark, "chunks_tier0")).toPandas()
    return expected_tiers(points.rename(columns={"value": "token"}).assign(pos=0))


def _twice_in_a_row(spark, n: int):
    """Docs 0..n-1, each delivered twice back to back in ONE partition."""
    df = generate_tokens_df(spark, n)
    return df.unionByName(df).orderBy("doc_id").coalesce(1)


# ---------------------------------------------------------------------------
# the fresh load
# ---------------------------------------------------------------------------

def test_fresh_load_commits_the_ingest_tiers_with_no_job(spark, tmp_path):
    tokens = generate_tokens_df(spark, 120)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    _, ingest_jobs = _jobs(spark, p.ingest, tokens)
    wh = p.warehouse
    rec = wh.prepared("chunks_tier0")
    assert ingest_jobs == 1
    assert rec["version"] == wh.manifest("chunks_tier0")["version"]
    assert rec["tiers"] == [[name, w] for name, w in TIER_WINDOWS.items()]
    summary, jobs = _jobs(spark, p.promote_all)
    assert jobs == 0
    assert [e["mode"] for e in summary] == ["full"] * 3
    assert wh.prepared("chunks_tier0") is None
    for name in TIER_WINDOWS:
        e = wh.manifest(name)["lineage"][-1]
        assert e["op"] == "promote:full" and e["kernel_s"] > 0, e
        assert e["prepared_by"] == rec["version"] and e["rows"] == rec["tables"][name]["rows"]
        assert e["rows"] == len(read_table(wh.root, name)) > 0
    _no_staged(wh)

    ref = _load(spark, tmp_path / "ref", tokens, prepared=False)
    _same_tiers(wh, ref.warehouse)
    assert check_tiers(wh.root, _points_recompute(spark, wh)) == []
    # the chunk rows are the flush kernel's, blobs byte for byte
    flushed = pa.Table.from_batches(list(ingest.flush_kernel_batches(
        iter(tokens.toArrow().to_batches())))).to_pandas()
    pd.testing.assert_frame_equal(
        _chunks(wh), flushed[CHUNK_COLS].sort_values(["doc_id", "min_ts", "count"])
        .reset_index(drop=True), check_dtype=False)


def test_fresh_load_reads_one_footer_pass(spark, tmp_path, monkeypatch):
    """The ingest's commit and the tier commits take their row counts from
    the writing tasks: the only footers read are the promote's
    ``footer_stats`` of the chunk files (its ``max(max_ts)``)."""
    calls = []
    read_metadata = pq.read_metadata
    monkeypatch.setattr(pq, "read_metadata",
                        lambda *a, **k: calls.append(a[0]) or read_metadata(*a, **k))
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 80))
    assert calls == []
    p.promote_all()
    assert sorted(calls) == sorted(p.warehouse._data_files("chunks_tier0"))


def test_empty_load_promotes_nothing(spark, tmp_path):
    """An empty frame's ingest commits a 0-row chunk snapshot and a prepared
    record; the promote after it finds no chunk row, so every tier is a
    noop: no Spark job, no tier table, and the record is dropped."""
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(generate_tokens_df(spark, 10).limit(0))
    wh = p.warehouse
    assert wh.manifest("chunks_tier0")["lineage"][-1]["rows"] == 0
    assert wh.prepared("chunks_tier0") is not None
    summary, jobs = _jobs(spark, p.promote_all)
    assert jobs == 0
    assert summary == [{"tier": name, "mode": "noop"} for name in TIER_WINDOWS]
    assert wh.prepared("chunks_tier0") is None
    assert not any(wh.exists(name) for name in TIER_WINDOWS)
    _no_staged(wh)


# ---------------------------------------------------------------------------
# a doc in more than one run: no record
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("layout", ["two_partitions", "apart_in_one"])
def test_doc_delivered_twice_falls_back(spark, tmp_path, layout):
    tokens = generate_tokens_df(spark, 40).unionByName(generate_tokens_df(spark, 10))
    if layout == "apart_in_one":
        tokens = tokens.coalesce(1)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    wh = p.warehouse
    assert wh.prepared("chunks_tier0") is None
    _no_staged(wh)
    _, jobs = _jobs(spark, p.promote_all)
    assert jobs == 1
    assert check_tiers(wh.root, _points_recompute(spark, wh)) == []
    _same_tiers(wh, _load(spark, tmp_path / "ref", tokens, prepared=False).warehouse)


def test_doc_twice_in_a_row_is_one_run(spark, tmp_path, small_batches):
    """A doc delivered twice back to back is one doc run, also across
    2-row Arrow batches: its task merges the two chunks' windows, and the
    record equals the job's merge."""
    tokens = _twice_in_a_row(spark, 15)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    wh = p.warehouse
    assert wh.prepared("chunks_tier0") is not None
    _, jobs = _jobs(spark, p.promote_all)
    assert jobs == 0
    assert check_tiers(wh.root, _points_recompute(spark, wh)) == []
    _same_tiers(wh, _load(spark, tmp_path / "ref", tokens, prepared=False).warehouse)


# ---------------------------------------------------------------------------
# the record does not apply: dropped, and the job runs
# ---------------------------------------------------------------------------

def test_promote_up_to_drops_the_record(spark, tmp_path):
    tokens = generate_tokens_df(spark, 60)
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    wh = p.warehouse
    _, stats = wh.footer_stats("chunks_tier0", ("min_ts", "max_ts"))
    mid = (stats["min_ts"][0] + stats["max_ts"][1]) // 2
    _, jobs = _jobs(spark, p.promote_all, up_to_us=mid)
    assert jobs == 1 and wh.prepared("chunks_tier0") is None
    _no_staged(wh)
    ref = _load(spark, tmp_path / "ref", tokens, prepared=False, up_to_us=mid)
    _same_tiers(wh, ref.warehouse)
    p.promote_all()
    ref.promote_all()
    _same_tiers(wh, ref.warehouse)
    assert check_tiers(wh.root, _points_recompute(spark, wh)) == []


@pytest.mark.parametrize("between", ["append", "compact", "ingest"])
def test_chunk_commit_before_promote_drops_the_record(spark, tmp_path, between):
    """An append, a compaction or a second fresh ingest between the ingest
    and the promote: the record of the first ingest is not committed, and
    the tables equal the job's over the same steps."""
    first = _twice_in_a_row(spark, 20)  # one run per doc, two chunks: compaction merges
    second = generate_tokens_df(spark, 10, start=15)
    steps = {"append": lambda p: p.ingest(second, append=True),
             "compact": lambda p: p.compact(),
             "ingest": lambda p: p.ingest(second)}[between]
    tables = []
    for root, prepared in ((tmp_path / "wh", True), (tmp_path / "ref", False)):
        p = Pipeline(spark, Warehouse(str(root)))
        p.ingest(first)
        assert p.warehouse.prepared("chunks_tier0") is not None
        if not prepared:
            p.warehouse.drop_prepared("chunks_tier0")
        steps(p)
        if between == "compact":
            assert p.warehouse.prepared("chunks_tier0") is None
        _, jobs = _jobs(spark, p.promote_all)
        if prepared:
            # a second fresh ingest prepares its own rows; the others need the job
            assert jobs == (0 if between == "ingest" else 1), between
            _no_staged(p.warehouse)
        assert p.warehouse.prepared("chunks_tier0") is None
        tables.append(p.warehouse)
    _same_tiers(*tables)
    assert check_tiers(tables[0].root, _points_recompute(spark, tables[0])) == []


def test_other_tier_specs_drop_the_record(spark, tmp_path):
    tokens = generate_tokens_df(spark, 40)
    tiers = [TierSpec("tier1_1s", TIER_WINDOWS["tier1_1s"]),
             TierSpec("tier2_1m", TIER_WINDOWS["tier2_1m"])]
    tables = []
    for root, prepared in ((tmp_path / "wh", True), (tmp_path / "ref", False)):
        wh = Warehouse(str(root))
        Pipeline(spark, wh).ingest(tokens)
        if not prepared:
            wh.drop_prepared("chunks_tier0")
        _, jobs = _jobs(spark, Pipeline(spark, wh, tiers).promote_all)
        assert jobs == 1
        assert not wh.exists("tier3_1h")
        tables.append(wh)
    _no_staged(tables[0])
    _same_tiers(*tables, names=("tier1_1s", "tier2_1m"))


# ---------------------------------------------------------------------------
# crashes
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    tokens = generate_tokens_df(spark, 50)
    return tokens, _load(spark, tmp_path_factory.mktemp("uninterrupted"), tokens).warehouse


@pytest.mark.parametrize("crash_at", [0, 1])
def test_crash_around_tier_commits_rerun_equals_uninterrupted(spark, tmp_path, uninterrupted,
                                                              monkeypatch, crash_at):
    """``commit_prepared`` fails before the first tier commit (right after
    the chunk commit) or after the first one: the record survives, and
    the rerun commits the remaining tiers with no job."""
    tokens, ref = uninterrupted
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    commit = Warehouse.commit_prepared
    done = []

    def crash(self, source, table, **kwargs):
        if len(done) == crash_at:
            raise RuntimeError("crash around the tier commits")
        commit(self, source, table, **kwargs)
        done.append(table)

    monkeypatch.setattr(Warehouse, "commit_prepared", crash)
    with pytest.raises(RuntimeError, match="around the tier commits"):
        p.promote_all()
    monkeypatch.setattr(Warehouse, "commit_prepared", commit)
    wh = p.warehouse
    assert wh.prepared("chunks_tier0") is not None
    assert [wh.exists(name) for name in TIER_WINDOWS] == [crash_at > 0, False, False]
    summary, jobs = _jobs(spark, p.promote_all)
    assert jobs == 0
    assert [e["mode"] for e in summary] == ["noop"] * crash_at + ["full"] * (3 - crash_at)
    _same_tiers(wh, ref)
    _no_staged(wh)


def test_crash_inside_a_tier_commit_reruns_that_tier(spark, tmp_path, uninterrupted,
                                                     monkeypatch):
    """The second tier's staged dir is moved into the table, then its
    manifest swap fails: the rerun computes that tier with the job (over
    the orphan dir) and commits the third from the record."""
    tokens, ref = uninterrupted
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    commit = Warehouse._commit

    def crash(self, table, *args, **kwargs):
        if table == "tier2_1m":
            raise RuntimeError("crash before the manifest swap")
        commit(self, table, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "_commit", crash)
    with pytest.raises(RuntimeError, match="before the manifest swap"):
        p.promote_all()
    monkeypatch.setattr(Warehouse, "_commit", commit)
    wh = p.warehouse
    assert os.path.isdir(os.path.join(wh.root, "tier2_1m", "snap-1"))
    _, jobs = _jobs(spark, p.promote_all)
    assert jobs == 1
    assert wh.manifest("tier3_1h")["lineage"][-1]["prepared_by"] == 1
    assert "prepared_by" not in wh.manifest("tier2_1m")["lineage"][-1]
    _same_tiers(wh, ref)
    _no_staged(wh)


def test_crashed_second_ingest_keeps_the_first_record(spark, tmp_path, uninterrupted,
                                                     monkeypatch):
    """A second fresh ingest fails at its chunk commit: the first ingest's
    snapshot and record stay live and intact, so the promote commits them;
    dirs a crashed run staged under other versions are swept by the next
    prepared ingest."""
    tokens, ref = uninterrupted
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(tokens)
    wh = p.warehouse
    first = wh.prepared("chunks_tier0")
    orphan = os.path.join(wh.root, "_staging", "chunks_tier0.v9.prepared", "tier1_1s")
    os.makedirs(orphan)
    commit = Warehouse._commit

    def crash(self, *args, **kwargs):
        raise RuntimeError("crash at the chunk commit")

    monkeypatch.setattr(Warehouse, "_commit", crash)
    with pytest.raises(RuntimeError, match="at the chunk commit"):
        p.ingest(generate_tokens_df(spark, 30, start=200))
    monkeypatch.setattr(Warehouse, "_commit", commit)
    assert wh.prepared("chunks_tier0") == first
    assert sorted(os.listdir(os.path.join(wh.root, "_staging"))) == [
        "chunks_tier0.v1.prepared", "chunks_tier0.v2.prepared"]
    _, jobs = _jobs(spark, p.promote_all)
    assert jobs == 0
    _same_tiers(wh, ref)
    _no_staged(wh)


# ---------------------------------------------------------------------------
# blob planes past the int32 offset range
# ---------------------------------------------------------------------------

MAX_PLANE = 300  # bytes: a few docs per chunk batch


def test_flush_reduce_sums_int32_tokens_in_int64():
    """The flush holds tokens as int32; the reduce's sums must not wrap."""
    big = np.iinfo(np.int32).max
    table = pa.table({"doc_id": ["doc0000000001"], "source": ["web"], "n_tok": [5],
                      "tokens": pa.array([[big] * 5], pa.list_(pa.int32()))})
    tiers = [b for side, b in ingest.flush_rollup_kernel(list(TIER_WINDOWS.values()))(
        iter(table.to_batches())) if side]
    for b in tiers:
        assert pc.sum(b.column("sum_v")).as_py() == 5 * big
        assert pc.max(b.column("max_v")).as_py() == big


def _task_files(tmp_path, name: str, table: pa.Table) -> dict[str, pd.DataFrame]:
    """Run one fused ingest task in-process (``KernelWriter.task``, as a
    Spark task runs it) over ``table``'s batches; returns the rows of the
    chunk files, with the bucket each file names, and of each tier."""
    files = Warehouse(str(tmp_path / name)).kernel_writer(
        "chunks_tier0", ingest.CHUNK_ARROW, bucket_by=("doc_id", 4)).with_side(
        TIER_PARTIAL_ARROW, "tier")
    out = pa.Table.from_batches(list(files.task(ingest.flush_rollup_kernel(
        list(TIER_WINDOWS.values())))(iter(table.to_batches())))).to_pandas()
    assert len(np.frombuffer(out.run_keys[0], np.int64)) == table.num_rows
    frames = {"chunks": [], **{t: [] for t in TIER_WINDOWS}}
    for f in out.itertuples():
        rows = pq.read_table(f.path).to_pandas()
        if pd.isna(f.slice):
            frames["chunks"].append(rows.assign(bucket=int(f.path.split("_")[-1].split(".")[0])))
        else:
            frames[list(TIER_WINDOWS)[int(f.slice)]].append(rows)
    return {k: pd.concat(v, ignore_index=True).sort_values(
        list(v[0].columns[:4])).reset_index(drop=True) for k, v in frames.items()}


def test_oversized_planes_flush_as_row_slices(tmp_path, monkeypatch):
    """With ``BINARY_MAX_BYTES`` a few hundred bytes, each input batch is
    flushed as several chunk batches of consecutive rows, each within the
    limit. The fused task feeds each slice's points to the reduce, and its
    rows of several buckets keep their buckets: the chunk files, their
    buckets and the tier rows equal an unsplit run. A single row past the
    limit is refused with its plane's size."""
    rng = np.random.default_rng(5)
    n = 60
    lengths = rng.integers(1, 40, n)
    table = pa.table({
        "doc_id": [f"doc{i:010d}" for i in range(n)],
        "tokens": pa.array([rng.integers(-3000, 3000, k).tolist() for k in lengths],
                           pa.list_(pa.int32())),
        "n_tok": lengths.astype(np.int32),
        "source": ["web" if i % 3 else "code" for i in range(n)],
        "_bucket": np.arange(n, dtype=np.int32) * 7 % 4})
    want = _task_files(tmp_path, "unsplit", table)
    monkeypatch.setattr(ingest, "BINARY_MAX_BYTES", MAX_PLANE)
    sliced = list(ingest.flush_kernel_batches(iter(table.to_batches(25))))
    assert len(sliced) > 3 and sum(b.num_rows for b in sliced) == n
    for b in sliced:
        for col in ("time_blob", "value_blob"):
            assert sum(map(len, b.column(col).to_pylist())) <= MAX_PLANE or b.num_rows == 1
    got = _task_files(tmp_path, "sliced", table)
    for key in want:
        cols = [c for c in want[key].columns if c != "encode_ns"]
        pd.testing.assert_frame_equal(got[key][cols], want[key][cols])
    assert set(want["chunks"].bucket) == {0, 1, 2, 3}
    # a row whose own plane passes the limit cannot be sliced: refused,
    # naming the row's plane size
    widest = int(max(want["chunks"].bytes_time.max(), want["chunks"].bytes_value.max()))
    monkeypatch.setattr(ingest, "BINARY_MAX_BYTES", widest - 1)
    with pytest.raises(OverflowError, match=rf"a chunk row's blob plane holds {widest} bytes"):
        _task_files(tmp_path, "refused", table)
