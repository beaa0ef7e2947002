"""Warehouse commit protocol + checkpoint-resumable promotion + TTL + gapfill.

Oracles per FIXTURES.md F3: interrupted promotion resumed from checkpoint
must equal an uninterrupted run; post-TTL tables equal a filtered
expectation; gap-fill modes equal pandas ffill/interp/fillna."""

import numpy as np
import pandas as pd
import pytest

from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators.gapfill import gapfill
from sorting_compressed_time_series_spark.operators.rollup import (
    WINDOW_1H_US,
    WINDOW_1M_US,
    decode_points,
    with_avg,
)
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

N_DOCS = 120
SEED = 42


def _tiers():
    return [
        TierSpec("tier1_1m", WINDOW_1M_US, ttl_us=None),
        TierSpec("tier2_1h", WINDOW_1H_US, ttl_us=None),
    ]


def _collect(df, keys=("doc_id", "window_start")):
    pdf = df.toPandas().sort_values(list(keys)).reset_index(drop=True)
    return pdf.drop(columns=[c for c in ("p_day",) if c in pdf.columns])


@pytest.fixture(scope="module")
def uninterrupted(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_full")))
    p = Pipeline(spark, wh, _tiers())
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    p.promote_all()
    return {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}, wh


def test_resume_equals_uninterrupted(spark, tmp_path_factory, uninterrupted):
    want, wh_full = uninterrupted
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_resume")))
    p = Pipeline(spark, wh, _tiers())
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    # interrupted run: promote only up to the middle of the data span
    chunks = wh.read(spark, "chunks_tier0")
    lo, hi = chunks.agg(F.min("min_ts"), F.max("max_ts")).collect()[0]
    p.promote_all(up_to_us=(lo + hi) // 2)
    mid_rows = wh.read(spark, "tier1_1m").count()
    assert 0 < mid_rows < len(want["tier1_1m"])
    # resume to completion
    p.promote_all()
    for name in want:
        got = _collect(wh.read(spark, name))
        pd.testing.assert_frame_equal(
            got[want[name].columns], want[name], check_dtype=False
        )


def test_rerun_promotion_is_idempotent(spark, uninterrupted):
    want, wh = uninterrupted
    p = Pipeline(spark, wh, _tiers())
    p.promote_all()  # no-op: watermark already at completion
    for name in want:
        got = _collect(wh.read(spark, name))
        pd.testing.assert_frame_equal(got[want[name].columns], want[name], check_dtype=False)


def test_retention_drops_old_partitions(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_ttl")))
    tiers = [TierSpec("tier1_1m", WINDOW_1M_US, ttl_us=12 * 3_600_000_000)]
    p = Pipeline(spark, wh, tiers)
    toks = generate_tokens_df(spark, N_DOCS, SEED)
    p.ingest(toks, SEED)
    p.promote_all()
    before = wh.read(spark, "tier1_1m").toPandas()
    now_us = int(before.window_start.max())
    summary = p.retain(now_us)[0]
    after = wh.read(spark, "tier1_1m").toPandas()
    cutoff_day = (now_us - tiers[0].ttl_us) // 86_400_000_000
    want = before[before.window_start // 86_400_000_000 >= cutoff_day]
    assert summary["rows_after"] == len(want)
    assert len(after) == len(want)
    assert after.window_start.min() >= cutoff_day * 86_400_000_000


def test_gapfill_modes_match_pandas(spark):
    # FIXTURES.md F3 "gap-fill": tier rows with deleted windows; each series
    # has interior gaps, leading/trailing anchors, and null-heavy stretches
    rng = np.random.default_rng(3)
    rows = []
    for d in range(25):
        present = sorted(rng.choice(60, size=rng.integers(2, 20), replace=False))
        for w in present:
            rows.append((f"doc{d:02d}", int(w) * WINDOW_1M_US, float(rng.integers(-50, 50))))
    tier1 = spark.createDataFrame(rows, "doc_id string, window_start bigint, avg_v double")
    for mode, const in [("previous", None), ("linear", None), ("constant", 0.0)]:
        got = gapfill(tier1, WINDOW_1M_US, "avg_v", mode, constant=const).toPandas()
        got = got.sort_values(["doc_id", "window_start"]).reset_index(drop=True)
        out = []
        for doc, grp in got.groupby("doc_id"):
            s = grp.set_index("window_start")["raw_value"]
            full = s  # spine already complete in `got`
            if mode == "previous":
                exp = full.ffill()
            elif mode == "linear":
                idx = full.index.to_numpy().astype(float)
                exp = pd.Series(
                    np.interp(idx, idx[full.notna()], full[full.notna()],
                              left=np.nan, right=np.nan),
                    index=full.index,
                )
                exp[full.notna()] = full[full.notna()]
            else:
                exp = full.fillna(const)
            out.append(np.allclose(
                grp["filled"].to_numpy(dtype=float),
                exp.to_numpy(dtype=float),
                equal_nan=True,
            ))
        assert all(out), mode
    # the synthetic data must actually contain gaps for this test to matter
    assert (got["was_missing"]).any()


def test_incremental_append_equals_oneshot(spark, tmp_path_factory):
    one = Warehouse(str(tmp_path_factory.mktemp("wh_oneshot")))
    p1 = Pipeline(spark, one, _tiers())
    p1.ingest(generate_tokens_df(spark, 80, SEED), SEED)
    p1.promote_all()

    inc = Warehouse(str(tmp_path_factory.mktemp("wh_incr")))
    p2 = Pipeline(spark, inc, _tiers())
    p2.ingest(generate_tokens_df(spark, 50, SEED), SEED)
    p2.promote_all()
    p2.ingest(generate_tokens_df(spark, 30, SEED, start=50), SEED, append=True)
    summary = p2.promote_all(collect_stats=True)

    # the append must be a per-key MERGE, not a full recompute: every tier
    # keeps the non-appended docs' rows and recomputes only the appended
    # docs' windows (+ the watermark tail)
    for entry in summary:
        assert entry["mode"] == "merge", entry
        assert entry["kept"] > 0, entry
        # 30 docs appended onto 50: recomputed windows stay well below the
        # untouched majority (a full recompute would have kept == 0)
        assert entry["recomputed"] < entry["kept"], entry

    for s in _tiers():
        a = _collect(one.read(spark, s.name))
        b = _collect(inc.read(spark, s.name))
        pd.testing.assert_frame_equal(a, b[a.columns], check_dtype=False)

    # a third, empty-delta promotion is a no-op at every tier
    assert [e["mode"] for e in p2.promote_all()] == ["noop", "noop"]


def test_fused_promote_equals_cascade(spark, tmp_path_factory, uninterrupted):
    """promote_all()'s one plan (ONE decode job + ONE write via
    Warehouse.write_slices) writes tier tables equal to an independent
    pandas recompute from the decoded points, with every tier's watermark
    just past its last complete window."""
    from perfbench.oracle import TIER_COLS

    want, wh_first = uninterrupted
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_recompute")))
    p = Pipeline(spark, wh, _tiers())
    p.ingest(generate_tokens_df(spark, N_DOCS, SEED), SEED)
    summary = p.promote_all()
    assert all(e["mode"] == "full" for e in summary)
    points = decode_points(wh.read(spark, "chunks_tier0")).toPandas()
    points = points.sort_values(["doc_id", "ts"], kind="stable")
    data_max = int(points.ts.max())
    for s in _tiers():
        w = s.window_us
        pts = points.assign(window_start=points.ts // w * w)
        g = pts.groupby(["doc_id", "source", "window_start"], sort=True)
        exp = g.agg(cnt=("value", "size"), sum_v=("value", "sum"), min_v=("value", "min"),
                    max_v=("value", "max"), first_ts=("ts", "first"), first_v=("value", "first"),
                    last_ts=("ts", "last"), last_v=("value", "last")).reset_index()
        exp = exp.sort_values(["doc_id", "window_start"]).reset_index(drop=True)
        got = _collect(wh.read(spark, s.name))
        pd.testing.assert_frame_equal(got[TIER_COLS], exp[TIER_COLS], check_dtype=False)
        pd.testing.assert_frame_equal(want[s.name][TIER_COLS], exp[TIER_COLS], check_dtype=False)
        assert wh.watermark(s.name) == (data_max // w + 1) * w == wh_first.watermark(s.name)


def test_pipeline_compact_after_append(spark, tmp_path_factory):
    """Maintenance compaction after appends: every multi-chunk doc merges
    to ONE chunk, the compacted warehouse's tiers are untouched-and-valid
    (a re-promotion is a no-op and the tier tables equal the pre-compaction
    ones), and compacting over un-promoted appends is refused."""
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_cmp")))
    p = Pipeline(spark, wh, _tiers())
    p.ingest(generate_tokens_df(spark, 50, SEED), SEED)
    p.promote_all()
    p.ingest(generate_tokens_df(spark, 30, SEED, start=50), SEED, append=True)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="pending appends"):
        p.compact()

    p.promote_all()
    before = {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}
    # the appended docs wrote a second segment; force >=2 chunks for a doc
    # by appending the SAME doc range again (older data is fine)
    p.ingest(generate_tokens_df(spark, 10, SEED, start=50), SEED, append=True)
    p.promote_all()
    before = {s.name: _collect(wh.read(spark, s.name)) for s in _tiers()}

    summary = p.compact()
    assert summary["compacted_docs"] >= 10, summary
    per_doc = (
        wh.read(spark, "chunks_tier0").filter("tier = 0")
        .groupBy("doc_id").count().agg(F.max("count")).collect()[0][0]
    )
    assert per_doc == 1
    # tiers untouched and a re-promotion is a no-op
    assert all(e["mode"] == "noop" for e in p.promote_all())
    for s in _tiers():
        after = _collect(wh.read(spark, s.name))
        pd.testing.assert_frame_equal(before[s.name], after[before[s.name].columns], check_dtype=False)


def test_drop_partitions_on_bucketed_table_reads_back(spark, tmp_path_factory):
    """Retention on a BUCKETED snapshot (chunks_tier0 is bucketed by
    default): the surviving files still name their buckets, so
    ``bucket_files`` still maps the table, and a read gives exactly the
    rows of the surviving partitions."""
    import pyarrow as pa

    from sorting_compressed_time_series_spark.sources.warehouse import US_PER_DAY, Warehouse

    wh = Warehouse(str(tmp_path_factory.mktemp("wh_bktdrop")))
    df = spark.range(100).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 5).alias("p_day"),
        (F.col("id") * 2).alias("v"),
    ).withColumn("window_start", F.col("p_day") * US_PER_DAY)
    files = wh.kernel_writer("chunks", pa.schema([(c, pa.int64()) for c in
                                                  ("doc_id", "v", "window_start")]),
                             bucket_by=("doc_id", 4))
    wh.write(files.frame(df, iter), "chunks", files=files)
    dropped = wh.drop_partitions("chunks", "p_day", 2)
    assert dropped == [0, 1]
    buckets = wh.bucket_files("chunks")
    assert sorted(buckets) == [0, 1, 2, 3]
    assert sum(map(len, buckets.values())) == len(wh._data_files("chunks"))
    out = wh.read(spark, "chunks").toPandas()
    assert sorted(out.p_day.unique().tolist()) == [2, 3, 4]
    assert len(out) == 60
    want = df.filter("p_day >= 2").toPandas()
    key = ["doc_id"]
    pd.testing.assert_frame_equal(
        out[want.columns].sort_values(key).reset_index(drop=True),
        want.sort_values(key).reset_index(drop=True), check_dtype=False)
