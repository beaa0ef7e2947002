"""Physical-plan audits: the scale properties the engine is designed around
must be visible in the executed plan, not just hoped for.

- column pruning: stats-only rollup must scan ONLY stats columns (no blobs);
- predicate pushdown: filters reach the parquet scan as PushedFilters;
- broadcast: the TTL scalar join must be a BroadcastExchange/Join, never a
  sort-merge join on a 1-row side;
- whole-stage codegen: pure-SQL operators stay inside codegen'd stages;
- partition pruning: warehouse p_day filter prunes at the directory level.
"""

import contextlib
import io

import pytest

from pyspark.sql import functions as F


def plan_of(df, mode: str = "formatted") -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain(mode=mode)
    return buf.getvalue()


SF = "/root/testdata/sf0.001"


def test_stats_rollup_prunes_blob_columns(spark, tmp_path):
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import rollup_from_stats
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 50)).write.parquet(path)
    chunks = spark.read.parquet(path)
    plan = plan_of(rollup_from_stats(chunks))
    scan_schema = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert scan_schema, plan
    assert "time_blob" not in scan_schema[0], scan_schema[0]
    assert "value_blob" not in scan_schema[0], scan_schema[0]


def test_filter_pushdown_reaches_scan(spark):
    ev = spark.read.parquet(f"{SF}/events.parquet")
    q = ev.filter(F.col("value") > 100).select("event_id", "value")
    plan = plan_of(q)
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert pushed and "GreaterThan(value,100.0)" in pushed[0], plan
    rs = [l for l in plan.splitlines() if "ReadSchema" in l]
    assert "event_type" not in rs[0], rs[0]  # column pruning too


def test_ttl_scalar_join_is_broadcast(spark):
    from sorting_compressed_time_series_spark.queries import ttl_filter

    plan = plan_of(ttl_filter(spark, SF), mode="simple")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_pure_sql_operators_are_codegened(spark):
    from sorting_compressed_time_series_spark.queries import transform_filter_project

    plan = plan_of(transform_filter_project(spark, SF), mode="codegen")
    assert "Found 1 WholeStageCodegen" in plan, plan.splitlines()[0]


def test_warehouse_partition_pruning(spark, tmp_path):
    import pyarrow as pa

    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

    wh = Warehouse(str(tmp_path / "wh"))
    df = spark.range(0, 1000).select(
        F.col("id").alias("doc_id"),
        (F.col("id") % 10 * 86_400_000_000).alias("window_start"),
    )
    files = wh.kernel_writer("t", pa.schema([("doc_id", pa.int64()), ("window_start", pa.int64())]))
    wh.write(files.frame(df, iter), "t", files=files)
    back = wh.read(spark, "t").filter(F.col("p_day") >= 7)
    plan = plan_of(back)
    # partition filters appear as PartitionFilters on the scan, and the
    # pruned scan reads 3 of 10 directories
    pf = [l for l in plan.splitlines() if "PartitionFilters" in l]
    assert pf and "p_day" in pf[0], plan
    assert back.count() == 300


def test_exact_dedup_shuffles_hashes_not_text(spark):
    """exact_dedup's exchange must carry a fixed-width (hash, length) key,
    never the corpus text (at 10^12 docs the groupBy key would otherwise BE
    the corpus)."""
    from sorting_compressed_time_series_spark.operators.dedup import exact_dedup

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(exact_dedup(docs), mode="simple")
    assert "xxhash64" in plan, plan  # the shuffle key is the 64-bit hash
    exchanges = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    assert exchanges, plan
    for l in exchanges:
        # grouping keys are (bigint hash, int length) aliases — the raw
        # text column must never appear in the partitioning expression
        assert "norm_text" not in l and "text" not in l, l


def test_ivf_candidate_join_broadcasts_probes_not_corpus(spark):
    """The IVF candidate join must be a broadcast hash join with the PROBE
    side broadcast: the corpus is never exchanged on the (few-distinct-keys)
    cluster column — the r2-verdict parallelism ceiling / skew magnet."""
    from sorting_compressed_time_series_spark.operators.similarity import ivf_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(ivf_topk(emb, n_queries=4, k=3), mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "BroadcastHashJoin" in phys, phys
    # no exchange may hash-partition on the cluster key (16 distinct values)
    bad = [
        l for l in phys.splitlines()
        if "Exchange hashpartitioning(cluster" in l
    ]
    assert not bad, "\n".join(bad)


def test_bucketed_chunk_table_compacts_without_exchange(spark, tmp_path, monkeypatch):
    """Warehouse bucketed snapshots (bucket(doc_id, N) stand-in): the
    per-doc compaction reads each bucket's files in its own task — zero
    Exchange operators and no scan of the chunk table in the whole
    compaction plan. Two writers: an explicit ``bucket_by``, and
    ``Pipeline.ingest`` (one bucket per core of the session), whose
    appended segment and compaction keep the snapshot's bucket count."""
    from sorting_compressed_time_series_spark.operators.ingest import CHUNK_ARROW, flush
    from sorting_compressed_time_series_spark.operators.rollup import WINDOW_1H_US
    from sorting_compressed_time_series_spark.plans.pipeline import Pipeline, TierSpec
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

    plans = []
    write = Warehouse.write

    def spy(self, df, *args, **kwargs):
        plans.append(plan_of(df))
        return write(self, df, *args, **kwargs)

    tokens = generate_tokens_df(spark, 80)
    wh = Warehouse(str(tmp_path / "wh"))
    chunks = flush(tokens.unionByName(generate_tokens_df(spark, 20)))
    files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=("doc_id", 4))
    wh.write(files.frame(chunks, iter), "chunks_tier0", files=files)
    explicit = Pipeline(spark, wh, [TierSpec("tier1_1h", WINDOW_1H_US)])

    p = Pipeline(spark, Warehouse(str(tmp_path / "wh_pipeline")),
                 [TierSpec("tier1_1h", WINDOW_1H_US)])
    per_core = ["doc_id", spark.sparkContext.defaultParallelism]
    p.ingest(tokens)
    assert p.warehouse.manifest("chunks_tier0")["bucket_spec"] == per_core
    # re-deliver 20 docs so compact has multi-chunk docs and rewrites the table
    p.ingest(generate_tokens_df(spark, 20), append=True)
    p.promote_all()

    monkeypatch.setattr(Warehouse, "write", spy)
    for pipe, spec in ((explicit, ["doc_id", 4]), (p, per_core)):
        assert pipe.compact()["compacted_docs"] == 20
        assert "Exchange" not in plans[-1] and "Scan" not in plans[-1], plans[-1]
        assert "Range" in plans[-1], plans[-1]
        assert pipe.warehouse.manifest("chunks_tier0")["bucket_spec"] == spec
        assert pipe.warehouse.bucket_files("chunks_tier0") is not None
        # and the bucket-aware compaction is exact: one chunk per doc
        assert pipe.warehouse.read(spark, "chunks_tier0").count() == 80


def _assert_unique_chunks_rollup_is_map_only(spark, tmp_path, n_tiers):
    """The fused rollup over one chunk per doc (a single flush) is a
    map-only plan: no Exchange and no aggregate anywhere between the chunk
    scan and the per-tier rows. The kernel's rows are final: one per (tier,
    doc, window), and each tier counts every point once."""
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.operators.rollup import rollup_tiers
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    path = str(tmp_path / "chunks")
    flush(generate_tokens_df(spark, 60)).write.parquet(path)
    chunks = spark.read.parquet(path)
    tiers = rollup_tiers(chunks, [1_000_000, 60_000_000][:n_tiers])
    plan = plan_of(tiers, mode="simple")
    assert "Exchange" not in plan and "HashAggregate" not in plan, plan
    rows = tiers.toPandas()
    assert sorted(rows.tier.unique()) == list(range(n_tiers))
    assert not rows.duplicated(["tier", "doc_id", "source", "window_start"]).any()
    n_points = chunks.agg(F.sum("count")).first()[0]
    assert (rows.groupby("tier").cnt.sum() == n_points).all()


def test_tier1_unique_chunks_is_shuffle_free(spark, tmp_path):
    """The finest tier alone: the tier-1 write runs at scan parallelism
    with no shuffle."""
    _assert_unique_chunks_rollup_is_map_only(spark, tmp_path, 1)


def test_fused_rollup_tiers_unique_is_shuffle_free(spark, tmp_path):
    """With a cascaded coarser tier the plan stays map-only (this is what
    lets the whole promotion cascade ride a single write job)."""
    _assert_unique_chunks_rollup_is_map_only(spark, tmp_path, 2)


def test_cosine_dup_pairs_single_shuffle_no_cartesian(spark):
    """The exact embedding-dedup verifier must be the block-pair shape:
    exactly one hash-partitioning exchange (the (gi, gj) group shuffle of
    the replicated corpus) and NO cartesian / broadcast-nested-loop join
    anywhere — the O(n²) work lives inside the grouped kernel's matmuls,
    never in the join graph."""
    from sorting_compressed_time_series_spark.operators.similarity import (
        cosine_dup_pairs,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    plan = plan_of(cosine_dup_pairs(emb, tau=0.5, n_blocks=4), mode="extended")
    phys = plan.split("== Physical Plan ==")[-1]
    assert "CartesianProduct" not in phys
    assert "BroadcastNestedLoopJoin" not in phys
    shuffles = [l for l in phys.splitlines() if "Exchange hashpartitioning" in l]
    assert len(shuffles) == 1, "\n".join(shuffles)
    assert "gi" in shuffles[0] and "gj" in shuffles[0]


def test_stratified_sample_is_map_only(spark):
    """Deterministic sampling must plan zero exchanges: membership is a
    pure function of the row, so the filter rides the parquet scan."""
    from sorting_compressed_time_series_spark.operators.curation import (
        stratified_sample,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(stratified_sample(docs, {"src0": 0.5}, 0.1), mode="simple")
    assert "Exchange" not in plan, plan


def test_decontaminate_broadcasts_benchmark_never_shuffles_text(spark):
    """The benchmark-gram join must broadcast the (eval-suite-sized) gram
    set; no exchange may carry the corpus text or its exploded shingles —
    the only shuffle is the pre-reduced per-doc (count, hits) aggregate."""
    from sorting_compressed_time_series_spark.operators.curation import decontaminate

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 20 == 7)
    plan = plan_of(decontaminate(docs, bench), mode="simple")
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    shuffles = [l for l in plan.splitlines() if "Exchange hashpartitioning" in l]
    # exactly two: the benchmark-side gram distinct (eval-suite-sized) and
    # the pre-reduced per-doc aggregate; the corpus-side exchange keys on
    # doc_id only — exploded corpus shingles/text never cross the wire
    assert len(shuffles) == 2, "\n".join(shuffles)
    assert sum("gram" in l for l in shuffles) == 1, "\n".join(shuffles)
    assert any(
        "doc_id" in l and "gram" not in l and "text" not in l for l in shuffles
    ), "\n".join(shuffles)


def test_quality_topp_joins_broadcast_cutoffs_no_corpus_sort(spark):
    """The per-stratum cutoff must come back to the corpus as a broadcast
    join, and no window/sort may partition by stratum alone (that would
    sort a whole source's corpus on one task at scale) — the only window
    keys are (stratum, quality) levels."""
    from sorting_compressed_time_series_spark.operators import textstats as TXT
    from sorting_compressed_time_series_spark.operators.curation import (
        quality_topp_filter,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    plan = plan_of(
        quality_topp_filter(docs, TXT.quality_expr(), keep_percent=40),
        mode="simple",
    )
    assert "BroadcastHashJoin" in plan, plan
    # the corpus-side row_number window must partition by BOTH stratum and
    # quality (stratum-alone would sort a whole source on one task); the
    # stratum-only exchange/window pair is the histogram running sum —
    # post-aggregate, quality-level-sized, fine
    rn_windows = [l for l in plan.splitlines() if "row_number()" in l]
    assert rn_windows, plan
    for l in rn_windows:
        assert "stratum" in l and "quality" in l, l
