"""Planner metadata from parquet footers instead of Spark jobs.

Oracles: the manifest's commit metrics equal the tables' ``count()``;
after a fresh ``ingest`` (one job) ``promote_all`` runs no job (and
``retain`` none at all); its watermarks equal ``(max(max_ts) // w + 1) * w`` computed
by Spark; a chunk file without statistics is refused by name, with no job
and no commit."""

import glob
import os
import re

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from sorting_compressed_time_series_spark.operators.rollup import WINDOW_1H_US, WINDOW_1M_US
from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
from sorting_compressed_time_series_spark.sources.warehouse import US_PER_DAY, Warehouse

N_DOCS = 120
SEED = 42
TIERS = [
    TierSpec("tier1_1m", WINDOW_1M_US, ttl_us=12 * 3_600_000_000),
    TierSpec("tier2_1h", WINDOW_1H_US, ttl_us=None),
]


def _jobs_of(spark, group, fn, *args):
    """(result, Spark job ids) of ``fn(*args)`` run under job group ``group``."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn(*args)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)  # the tracker is fed asynchronously
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def _spark_watermarks(spark, wh):
    data_max = (wh.read(spark, "chunks_tier0").filter(F.col("tier") == 0)
                .agg(F.max("max_ts")).collect()[0][0])
    return {s.name: (data_max // s.window_us + 1) * s.window_us for s in TIERS}


@pytest.fixture(scope="module")
def loaded(spark, tmp_path_factory):
    """Fresh ingest, then promote_all and retain, each under its own job
    group: (warehouse, {call: job ids}, retain summary of tier 1)."""
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_footers")))
    p = Pipeline(spark, wh, TIERS)
    _, ingest_jobs = _jobs_of(spark, "footers.ingest", p.ingest,
                              generate_tokens_df(spark, N_DOCS, SEED), SEED)
    _, promote_jobs = _jobs_of(spark, "footers.promote", p.promote_all)
    # the clock at the last window: tier 1's 12 h TTL drops its earlier days
    now_us = wh.footer_stats("tier1_1m", ("window_start",))[1]["window_start"][1]
    retained, retain_jobs = _jobs_of(spark, "footers.retain", p.retain, now_us)
    return wh, {"ingest": ingest_jobs, "promote": promote_jobs, "retain": retain_jobs}, retained[0]


def test_promote_and_retain_launch_no_probe_jobs(loaded):
    """The fresh ingest is one job, which also rolls up the tiers; the
    promote after it only commits those rows, and retain drops
    partitions: neither runs a job."""
    _, jobs, retained = loaded
    assert len(jobs["ingest"]) == 1, jobs
    assert jobs["promote"] == [], jobs
    assert retained["partitions_dropped"], retained
    assert jobs["retain"] == [], jobs


def test_footer_watermarks_equal_spark_max(spark, loaded):
    wh, _, _ = loaded
    want = _spark_watermarks(spark, wh)
    assert {s.name: wh.watermark(s.name) for s in TIERS} == want


def test_lineage_rows_equal_table_counts(spark, loaded):
    wh, _, retained = loaded
    for table in ["chunks_tier0"] + [s.name for s in TIERS]:
        last = wh.manifest(table)["lineage"][-1]
        assert last["rows"] == wh.read(spark, table).count(), (table, last)
        assert last["files"] > 0 and last["bytes"] > 0 and last["wall_s"] >= 0, last
    assert wh.manifest("chunks_tier0")["lineage"][-1]["rows"] == N_DOCS
    assert retained["rows_after"] == wh.manifest("tier1_1m")["lineage"][-1]["rows"]


def _frame(wh: Warehouse, table: str, df):
    """``(frame, files)`` committing ``df``'s rows to ``table`` through a
    kernel writer (identity kernel); the file columns are ``df``'s but
    ``p_day``, which the writer derives from ``window_start``."""
    schema = pa.schema([(f.name, pa.int64()) for f in df.schema if f.name != "p_day"])
    files = wh.kernel_writer(table, schema)
    return files.frame(df, iter), files


def test_lineage_metrics_follow_append_and_drop(spark, tmp_path_factory):
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_lineage")))
    df = spark.range(100).select(F.col("id").alias("doc_id"), (F.col("id") % 5).alias("p_day"))
    df = df.withColumn("window_start", F.col("p_day") * US_PER_DAY)
    frame, files = _frame(wh, "t", df)
    wh.write(frame, "t", files=files)
    frame, files = _frame(wh, "t", df.limit(10))
    wh.append_segment(frame, "t", files=files)
    wh.drop_partitions("t", "p_day", 2)
    ops = [(e["op"], e["rows"]) for e in wh.manifest("t")["lineage"]]
    assert ops == [("overwrite", 100), ("append", 110), ("retention", 66)]
    assert wh.read(spark, "t").count() == 66
    assert all(e["files"] > 0 and e["wall_s"] >= 0 for e in wh.manifest("t")["lineage"])


def test_chunk_file_without_statistics_is_refused(spark, tmp_path_factory):
    """Every chunk file is written with min/max statistics, which promote
    reads max(max_ts) from; a file without them is refused by name before
    any job or tier commit."""
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_nostats")))
    p = Pipeline(spark, wh, TIERS)
    p.ingest(generate_tokens_df(spark, N_DOCS, SEED), SEED)
    snap = os.path.join(wh.root, "chunks_tier0", wh.manifest("chunks_tier0")["snapshot"])
    victim = sorted(glob.glob(os.path.join(snap, "p_day=*", "part-*")))[0]
    pq.write_table(pq.read_table(victim), victim, compression="zstd", write_statistics=False)

    def refused():
        with pytest.raises(ValueError, match=re.escape(victim)):
            p.promote_all()

    _, jobs = _jobs_of(spark, "footers.refused", refused)
    assert jobs == []
    assert not any(wh.exists(s.name) for s in TIERS)


def test_read_takes_the_manifest_schema(spark, tmp_path_factory):
    """A table of a snapshot and two segments reads with the schema its
    manifest stores: no Spark job before an action (a parquet schema
    inference is one job per dir), and the rows of a read that infers it."""
    wh = Warehouse(str(tmp_path_factory.mktemp("wh_schema")))
    df = spark.range(60).select(F.col("id").alias("doc_id"), (F.col("id") % 3).alias("p_day"),
                                (F.col("id") * 7).alias("v"))
    df = df.withColumn("window_start", F.col("p_day") * US_PER_DAY)
    frame, files = _frame(wh, "t", df)
    wh.write(frame, "t", files=files)
    frame, files = _frame(wh, "t", df.limit(10))
    wh.append_segment(frame, "t", files=files)
    frame, files = _frame(wh, "t", df.filter("doc_id > 50"))
    wh.append_segment(frame, "t", files=files)
    read, jobs = _jobs_of(spark, "footers.read", wh.read, spark, "t")
    assert jobs == []
    inferred = [spark.read.parquet(os.path.join(wh.root, "t", d))
                for d in wh._live_dirs("t")]
    want = inferred[0].unionByName(inferred[1]).unionByName(inferred[2])
    key = ["doc_id", "p_day", "v"]
    got = read.toPandas()
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(got.sort_values(key).reset_index(drop=True),
                                  want.toPandas().sort_values(key).reset_index(drop=True),
                                  check_dtype=False)
    assert len(got) == 60 + 10 + 9
