"""Compaction.

- kernel: a per-series multi-chunk merge reproduces the single-flush chunk
  byte-for-byte (canonical-encode identity), for both the non-overlapping
  and overlapping regimes, with docs straddling batches; a property test
  holds ``compact_kernel`` to the per-series reference (``merge_pages``
  over the deserialized pages, then ``serialize_bytealigned``) and to a
  numpy recompute or fold of every statistic, and a merged chunk's
  ``first_v``/``last_v`` to its plane's ends at every varint width and
  int64 extreme;
- ``Pipeline.compact``: one whole-bucket job over snapshot + segments (a
  ``Range`` of bucket ids under the kernel, no Exchange, no scan of the
  chunk table) under 2-row Arrow batches; single-chunk rows come out
  byte-identical, merged rows equal ``merge_pages`` per doc, the tiers are
  untouched and the next promote is a no-op, a compaction with nothing to
  merge commits nothing, an over-memory bucket, read in doc-range
  passes by the same plan, gives the same table, and two sources of one
  ``doc_id`` stay two series.
"""

import contextlib
import io
import shutil
import uuid

from itertools import groupby

import numpy as np
import pandas as pd
import pyarrow as pa
import pytest
from hypothesis import HealthCheck, example, given, settings, strategies as st
from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.codecs import decode_chunk, encode_chunk
from sorting_compressed_time_series_spark.codecs.chunk import (
    CODEC_DELTA,
    CODEC_VARINT,
    _body,
    deserialize_bytealigned,
    serialize_bytealigned,
)
from sorting_compressed_time_series_spark.operators.compaction import (
    COMPACT_ORDER,
    compact_kernel,
)
from sorting_compressed_time_series_spark.operators.ingest import (
    CHUNK_ARROW,
    WINDOW_1H_US,
    encode_series_batch,
    flush,
)
from sorting_compressed_time_series_spark.operators.page_merge import merge_pages
from sorting_compressed_time_series_spark.plans import pipeline
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

from perfbench.oracle import TIER_COLS, TIER_WINDOWS, read_table

SEED = 42


def _split_chunks(chunks_pdf, interleave: bool) -> pa.Table:
    """Split each doc's points into two chunk rows: contiguous halves
    (non-overlapping ranges → splice path) or even/odd interleave
    (overlapping ranges → k-merge path)."""
    rows = []
    for _, r in chunks_pdf.iterrows():
        ts = decode_chunk(r.time_blob)
        vs = decode_chunk(r.value_blob)
        if interleave:
            parts = [(ts[0::2], vs[0::2]), (ts[1::2], vs[1::2])]
        else:
            cut = len(ts) // 2
            parts = [(ts[:cut], vs[:cut]), (ts[cut:], vs[cut:])]
        for pt, pv in parts:
            if len(pt) == 0:
                continue
            rows.append(
                {
                    "doc_id": r.doc_id,
                    "source": r.source,
                    "tier": 0,
                    "window_start": int(r.window_start),
                    "count": len(pt),
                    "min_ts": int(pt.min()),
                    "max_ts": int(pt.max()),
                    "min_v": int(pv.min()),
                    "max_v": int(pv.max()),
                    "first_v": int(pv[0]),
                    "last_v": int(pv[-1]),
                    "sum_v": int(pv.sum()),
                    "n_inversions": 0,
                    "sorted_input": True,
                    "bytes_raw": len(pt) * 16,
                    "bytes_time": 0,
                    "bytes_value": 0,
                    "time_blob": encode_chunk(pt, CODEC_DELTA),
                    "value_blob": encode_chunk(pv, CODEC_VARINT),
                    "encode_ns": 0,
                }
            )
    return pa.Table.from_pandas(pd.DataFrame(rows), schema=CHUNK_ARROW, preserve_index=False)


@pytest.fixture(scope="module")
def single_flush(spark):
    pdf = flush(generate_tokens_df(spark, 60, SEED), SEED).toPandas()
    return pdf.set_index("doc_id").sort_index()


@pytest.mark.parametrize("interleave", [False, True])
def test_compaction_reproduces_single_flush(single_flush, interleave):
    split = _split_chunks(single_flush.reset_index(), interleave)
    assert split.num_rows > 60  # really multiple chunks per doc
    split = split.sort_by([(c, "ascending") for c in COMPACT_ORDER])
    out, merged_docs = _drain(compact_kernel(iter(split.to_batches(3))))  # docs straddle batches
    merged = pa.Table.from_batches(out).to_pandas().set_index("doc_id").sort_index()
    assert len(merged) == len(single_flush)
    assert merged_docs == split.num_rows - len(single_flush)  # two chunks per doc
    for doc in single_flush.index:
        a, b = merged.loc[doc], single_flush.loc[doc]
        assert bytes(a.time_blob) == bytes(b.time_blob), doc
        assert bytes(a.value_blob) == bytes(b.value_blob), doc
        assert a["count"] == b["count"] and a.sum_v == b.sum_v
        assert a.first_v == b.first_v and a.last_v == b.last_v
        assert a.min_ts == b.min_ts and a.max_ts == b.max_ts


def _drain(kern) -> tuple[list[pa.RecordBatch], int]:
    """A kernel's batches and its return value."""
    out = []
    while True:
        try:
            out.append(next(kern))
        except StopIteration as stop:
            return out, stop.value


# ---------------------------------------------------------------------------
# compact_kernel against the per-series reference
# ---------------------------------------------------------------------------

# a point in arrival order: timestamps narrow (duplicates within and across
# chunks) or wide (series past the 2^33 µs span of the flush sort's
# composite key), values over the whole int64 range
_point = st.tuples(st.one_of(st.integers(0, 20), st.integers(-(2**40), 2**40)),
                   st.integers(-(2**63), 2**63 - 1))
# a series: doc, source, whether its chunks are stacked in time (disjoint,
# at most touching) or drawn over one range (overlapping), and 1-4 chunks
_series = st.tuples(st.integers(0, 3), st.sampled_from("ab"), st.booleans(),
                    st.lists(st.lists(_point, max_size=12), min_size=1, max_size=4))


def _chunk_rows(series) -> pa.Table:
    """One flushed chunk row per chunk of each series (the flush sorts the
    chunk's points and records its inversions), in ``COMPACT_ORDER``."""
    doc, src, ts, vals, splits = [], [], [], [], [0]
    for d, s, stacked, chunks in series:
        for k, points in enumerate(chunks):
            doc.append(f"d{d}")
            src.append(s)
            ts += [t + stacked * (k << 41) for t, _ in points]
            vals += [v for _, v in points]
            splits.append(len(ts))
    out = encode_series_batch(pa.array(doc), pa.array(src), np.array(ts, np.int64),
                              np.array(vals, np.int64), np.array(splits, np.int64))
    table = pa.Table.from_batches([c for c, *_ in out], schema=CHUNK_ARROW)
    return table.sort_by([(c, "ascending") for c in COMPACT_ORDER])


def _merged_row(rows: list[dict]) -> dict:
    """The reference chunk of one series' rows: ``merge_pages`` over the
    pages, every statistic recomputed from the merged points, and the
    lineage columns folded over the rows."""
    mt, mv, _ = merge_pages(*([deserialize_bytealigned(_body(r[c])[1]) for r in rows]
                              for c in ("time_blob", "value_blob")))
    t_blob, v_blob = serialize_bytealigned(mt, CODEC_DELTA), serialize_bytealigned(mv, CODEC_VARINT)
    ts, vs = decode_chunk(t_blob), decode_chunk(v_blob)
    want = {"doc_id": rows[0]["doc_id"], "source": rows[0]["source"], "tier": 0,
            "count": len(ts), "bytes_raw": 16 * len(ts),
            "n_inversions": sum(r["n_inversions"] for r in rows),
            "sorted_input": all(r["sorted_input"] for r in rows),
            "bytes_time": len(t_blob), "bytes_value": len(v_blob),
            "time_blob": t_blob, "value_blob": v_blob,
            "encode_ns": sum(r["encode_ns"] for r in rows)}
    stats = ("window_start", "min_ts", "max_ts", "min_v", "max_v", "first_v", "last_v", "sum_v")
    want |= dict.fromkeys(stats, 0)
    if len(ts):
        want |= {"window_start": ts[0] // WINDOW_1H_US * WINDOW_1H_US,
                 "min_ts": ts[0], "max_ts": ts[-1], "min_v": vs.min(), "max_v": vs.max(),
                 "first_v": vs[0], "last_v": vs[-1], "sum_v": vs.sum()}  # sum wraps, as int64
    return want


@given(series=st.lists(_series, min_size=1, max_size=6, unique_by=lambda s: s[:2]),
       batch_rows=st.integers(1, 8))
@example(series=[(0, "a", False, [[(5, 2**63 - 1), (3, -(2**63))], [(3, 0), (2**40, 1)], []]),
                 (0, "b", True, [[(1, 7), (-(2**40), 2**62)], [(0, -1)]]),
                 (1, "a", False, [[(0, 1)]]), (2, "b", True, [[(4, 4)], [(4, 5)]])],
         batch_rows=1)
@settings(max_examples=60, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
def test_compact_kernel_equals_per_series_merge(series, batch_rows):
    rows = _chunk_rows(series)
    out, merged = _drain(compact_kernel(iter(rows.to_batches(max_chunksize=batch_rows))))
    got = pa.Table.from_batches(out, schema=CHUNK_ARROW).to_pylist()
    runs = {k: list(g) for k, g in groupby(rows.to_pylist(), lambda r: (r["doc_id"], r["source"]))}
    assert len(runs) == len(series)  # a series' chunks are adjacent in COMPACT_ORDER
    assert merged == sum(len(g) > 1 for g in runs.values())
    assert sorted((r["doc_id"], r["source"]) for r in got) == sorted(runs)
    for row in got:
        run = runs[row["doc_id"], row["source"]]
        if len(run) == 1:
            assert row == run[0]
        else:
            assert row == _merged_row(run), (row["doc_id"], row["source"])


@pytest.mark.parametrize("vals", [
    [], [0], [-(2**63)], [2**63 - 1, 5, -(2**63)], [-1, 2**40, 255, 256, -(2**31)],
])
def test_end_values_read_only_the_end_payloads(vals):
    # first_v / last_v of a merged chunk are the end elements of its value
    # plane: equal to a full decode at every width class and int64 extreme,
    # with the ends in different source chunks
    half = len(vals) // 2
    chunks = [[(t, v) for t, v in enumerate(vals[:half])],
              [(t, v) for t, v in enumerate(vals[half:], half)]]
    out, merged = _drain(compact_kernel(iter(_chunk_rows([(0, "a", True, chunks)]).to_batches())))
    (row,) = pa.Table.from_batches(out, schema=CHUNK_ARROW).to_pylist()
    assert merged == 1
    want = (vals[0], vals[-1]) if vals else (0, 0)
    assert (row["first_v"], row["last_v"]) == want
    decoded = decode_chunk(row["value_blob"])
    assert list(decoded) == vals


# ---------------------------------------------------------------------------
# Pipeline.compact
# ---------------------------------------------------------------------------

@pytest.fixture(scope="module")
def appended(spark, tmp_path_factory):
    """A promoted warehouse of a 40-doc snapshot and two appended
    segments: docs 0-4 are delivered three times (the second and third
    time flushed with other seeds, so their chunks sit elsewhere in time),
    docs 5-9 twice (the same chunk again), docs 40-44 once, in a segment."""
    root = str(tmp_path_factory.mktemp("wh_appended") / "wh")
    p = Pipeline(spark, Warehouse(root))
    p.ingest(generate_tokens_df(spark, 40))
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 5), seed=7, append=True)
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 5), seed=9, append=True)
    p.ingest(generate_tokens_df(spark, 5, start=5).unionByName(
        generate_tokens_df(spark, 5, start=40)), append=True)
    p.promote_all()
    assert len(p.warehouse.manifest("chunks_tier0")["segments"]) == 3
    return root


def _copy(spark, src: str, dst) -> Pipeline:
    shutil.copytree(src, str(dst))
    return Pipeline(spark, Warehouse(str(dst)))


def _compact_plan(spark, p: Pipeline, monkeypatch) -> tuple[dict, str, int]:
    """``p.compact()``, the plan of the frame it commits, and the number of
    Spark jobs it ran."""
    plans = []
    orig = Warehouse.write

    def spy(self, df, *args, **kwargs):
        buf = io.StringIO()
        with contextlib.redirect_stdout(buf):
            df.explain(mode="formatted")
        plans.append(buf.getvalue())
        return orig(self, df, *args, **kwargs)

    monkeypatch.setattr(Warehouse, "write", spy)
    sc = spark.sparkContext
    group = f"compact-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = p.compact()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    monkeypatch.setattr(Warehouse, "write", orig)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the tracker is fed asynchronously
    assert len(plans) == 1
    return out, plans[0], len(sc.statusTracker().getJobIdsForGroup(group))


def _by_doc(chunks: pd.DataFrame) -> pd.DataFrame:
    return chunks.sort_values(list(COMPACT_ORDER), kind="stable").reset_index(drop=True)


def test_compact_is_one_bucket_job(spark, appended, tmp_path, small_batches, monkeypatch):
    """One job over the buckets of snapshot + segments, with no Exchange
    and no scan of the chunk table: single-chunk rows come out as they
    were, every other doc's row equals ``merge_pages`` over its chunks in
    time order, with ``n_inversions`` the sum over its chunks and
    ``sorted_input`` their AND, the tiers are untouched and the next
    promote is a no-op."""
    p = _copy(spark, appended, tmp_path / "wh")
    wh = p.warehouse
    before = read_table(wh.root, "chunks_tier0")  # snapshot first, then segments
    tiers = {name: read_table(wh.root, name) for name in TIER_WINDOWS}
    out, plan, jobs = _compact_plan(spark, p, monkeypatch)
    assert "Range" in plan and "MapInArrow" in plan, plan
    assert "Exchange" not in plan and "Scan" not in plan, plan
    assert jobs == 1
    assert out == {"compacted_docs": 10}
    assert wh.manifest("chunks_tier0")["lineage"][-1]["op"] == "compact:10"
    after = _by_doc(read_table(wh.root, "chunks_tier0"))
    assert after.doc_id.is_unique and set(after.doc_id) == set(before.doc_id)
    assert wh.bucket_files("chunks_tier0") is not None

    n = before.groupby("doc_id")["doc_id"].transform("size")
    assert n.max() == 3
    singles = _by_doc(before[n == 1])
    got = after[after.doc_id.isin(singles.doc_id)].reset_index(drop=True)
    pd.testing.assert_frame_equal(got, singles[got.columns])  # blobs and all

    for doc, rows in _by_doc(before[n > 1]).groupby("doc_id"):
        mt, mv, _ = merge_pages(
            [deserialize_bytealigned(_body(b)[1]) for b in rows.time_blob],
            [deserialize_bytealigned(_body(b)[1]) for b in rows.value_blob])
        row = after[after.doc_id == doc].iloc[0]
        assert bytes(row.time_blob) == serialize_bytealigned(mt, CODEC_DELTA), doc
        assert bytes(row.value_blob) == serialize_bytealigned(mv, CODEC_VARINT), doc
        vals = decode_chunk(bytes(row.value_blob))
        assert (row.first_v, row.last_v) == (vals[0], vals[-1])
        assert row["count"] == rows["count"].sum() == len(vals)
        assert (row.min_ts, row.max_ts) == (rows.min_ts.min(), rows.max_ts.max())
        assert row.sum_v == rows.sum_v.sum() and row.source == rows.source.iloc[0]
        # the disorder the flushes sorted, not the descents at the chunk seams
        assert row.n_inversions == rows.n_inversions.sum()
        assert row.sorted_input == rows.sorted_input.all()

    assert [e["mode"] for e in p.promote_all()] == ["noop"] * len(TIER_WINDOWS)
    for name, want in tiers.items():
        pd.testing.assert_frame_equal(read_table(wh.root, name), want)

    version = wh.manifest("chunks_tier0")["version"]
    assert p.compact() == {"compacted_docs": 0}
    assert wh.manifest("chunks_tier0")["version"] == version  # nothing committed


def test_over_memory_bucket_compacts_in_passes(spark, appended, tmp_path, small_batches,
                                               passes_memory, monkeypatch):
    """A bucket past ``spark.python.worker.memory`` is not read whole into
    a task: under a bound that cuts every bucket into ≥ 3 doc-range
    passes, the compaction is the same one-job bucket plan (a ``Range``, no
    Exchange) and writes the one-pass table, bucket for bucket."""
    ref = _copy(spark, appended, tmp_path / "ref")
    ref.compact()
    p = _copy(spark, appended, tmp_path / "wh")
    memory = passes_memory(p.warehouse, tuple(CHUNK_ARROW.names))
    monkeypatch.setattr(pipeline, "_python_worker_memory", lambda spark: memory)
    out, plan, jobs = _compact_plan(spark, p, monkeypatch)
    assert "Range" in plan and "Exchange" not in plan and "Scan" not in plan, plan
    assert jobs == 1
    assert out == {"compacted_docs": 10}
    pd.testing.assert_frame_equal(_by_doc(read_table(p.warehouse.root, "chunks_tier0")),
                                  _by_doc(read_table(ref.warehouse.root, "chunks_tier0")))
    assert ({b: len(fs) > 0 for b, fs in p.warehouse.bucket_files("chunks_tier0").items()}
            == {b: len(fs) > 0 for b, fs in ref.warehouse.bucket_files("chunks_tier0").items()})


def test_compact_keeps_a_docs_sources_apart(spark, tmp_path):
    """Two series of one ``doc_id``, ``(d, a)`` and ``(d, b)``, stay two
    chunk rows through a compaction that merges another series, and a
    later merge promote of ``d`` gives the tiers of a one-shot load of the
    same deliveries."""
    def tokens(n, source, start=0):
        return generate_tokens_df(spark, n, start=start).withColumn("source", F.lit(source))

    base = tokens(3, "a")
    appends = [tokens(1, "b"), tokens(1, "a", start=2)]
    later = tokens(1, "b")
    p = Pipeline(spark, Warehouse(str(tmp_path / "wh")))
    p.ingest(base)
    p.promote_all()
    for batch in appends:
        p.ingest(batch, append=True)
    p.promote_all()
    assert p.compact() == {"compacted_docs": 1}  # (d2, a): two deliveries
    chunks = read_table(p.warehouse.root, "chunks_tier0")
    doc0 = base.first().doc_id
    assert len(chunks) == 4
    assert sorted(chunks.source[chunks.doc_id == doc0]) == ["a", "b"]

    p.ingest(later, append=True)
    assert [e["mode"] for e in p.promote_all()] == ["merge"] * len(TIER_WINDOWS)
    ref = Pipeline(spark, Warehouse(str(tmp_path / "ref")))
    ref.ingest(base.unionByName(appends[0]).unionByName(appends[1]).unionByName(later))
    ref.promote_all()
    key = ["doc_id", "source", "window_start"]
    for name in TIER_WINDOWS:
        pd.testing.assert_frame_equal(
            read_table(p.warehouse.root, name)[TIER_COLS].sort_values(key).reset_index(drop=True),
            read_table(ref.warehouse.root, name)[TIER_COLS].sort_values(key).reset_index(drop=True))
