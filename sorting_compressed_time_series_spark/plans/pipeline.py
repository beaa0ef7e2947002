"""The full engine pipeline as a resumable batch plan.

The reference's Continuous Query scheduler (confignode CQScheduleTask,
reference confignode/.../manager/cq/CQScheduleTask.java:67-160) re-runs a
window aggregate every ``every_interval`` over ``[now-start_offset,
now-end_offset)``.  Our equivalent is deterministic *watermark-driven
promotion*: each tier's manifest records the watermark up to which windows
have been promoted; a promotion run selects only COMPLETE windows between
the old and new watermark, computes them, appends, and commits data +
watermark atomically (see sources/warehouse.py).  Re-running after a crash
repeats the same deterministic window range → identical table (the
checkpoint-resume oracle in tests/test_warehouse_promotion.py).
"""

from __future__ import annotations

import functools
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.ingest import CHUNK_ARROW, flush_kernel_batches
from ..operators.retention import apply_retention
from ..operators.rollup import (
    DOC_ORDER,
    ROLLUP_INPUT,
    TIER_PARTIAL_ARROW,
    WINDOW_1H_US,
    WINDOW_1M_US,
    promote,
    rollup_tier1,
    tiers_kernel,
    whole_doc_rollup,
)
from ..sources.warehouse import Warehouse, bucket_reader, with_p_day


@dataclass
class TierSpec:
    name: str
    window_us: int
    ttl_us: int | None = None  # None = keep forever


# the cascade matches the token corpus' time scale (points every ~1 ms,
# docs spanning up to ~25 min): finer tiers age out fast, coarse ones live on
WINDOW_1S_US = 1_000_000
DEFAULT_TIERS = [
    TierSpec("tier1_1s", WINDOW_1S_US, ttl_us=7 * 86_400_000_000),
    TierSpec("tier2_1m", WINDOW_1M_US, ttl_us=90 * 86_400_000_000),
    TierSpec("tier3_1h", WINDOW_1H_US, ttl_us=None),
]


def _below_horizons(kern, horizons: list[int]):
    """``kern`` keeping only the rows whose ``window_start`` lies below
    their tier's horizon (``horizons[tier]``): the complete windows."""
    limit = np.asarray(horizons, dtype=np.int64)

    def run(batches):
        for batch in kern(batches):
            keep = (batch.column("window_start").to_numpy()
                    < limit[batch.column("tier").to_numpy()])
            yield batch if keep.all() else batch.filter(pa.array(keep))

    return run


def _python_worker_memory(spark: SparkSession) -> int:
    """Bytes a Python worker may hold before Spark's own Python aggregation
    spills (``spark.python.worker.memory``, default 512m)."""
    from pyspark.rdd import _parse_memory

    return _parse_memory(spark.sparkContext.getConf().get(
        "spark.python.worker.memory", "512m")) << 20


def _described(method):
    """Run a pipeline stage under its own Spark job description
    (``tsrollup <stage>``, printed per job by ``tools/run_report.py``) and
    restore the caller's description afterwards."""

    @functools.wraps(method)
    def run(self, *args, **kwargs):
        sc = self.spark.sparkContext
        prev = sc.getLocalProperty("spark.job.description")
        sc.setJobDescription(f"tsrollup {method.__name__}")
        try:
            return method(self, *args, **kwargs)
        finally:
            sc.setLocalProperty("spark.job.description", prev)

    return run


@dataclass
class Pipeline:
    spark: SparkSession
    warehouse: Warehouse
    tiers: list[TierSpec] = field(default_factory=lambda: list(DEFAULT_TIERS))

    def _bucket_by(self) -> tuple[str, int]:
        """Hash-bucket spec of the chunk table (Iceberg ``bucket(doc_id, N)``
        stand-in): snapshots are written hash-clustered by doc_id, so every
        chunk of a doc sits in one bucket: compaction and per-doc merges
        read the clustering from the bucketed scan and need no exchange,
        and each fused-promote task reads one bucket's files itself. One
        bucket per core of the writing session, so each Python stage over
        the table runs one wave of whole-bucket tasks: every Python task
        has a fixed start-up cost (README "Scale design notes"), which a
        sub-core bucket's share of the work would not repay."""
        return ("doc_id", self.spark.sparkContext.defaultParallelism)

    def _doc_buckets(self) -> dict[int, list[str]] | None:
        """The chunk snapshot's files by doc_id bucket (``_bucket_by``), for
        the promote's tasks to read one bucket each: ``Warehouse.
        bucket_files``, or None when a bucket's uncompressed bytes pass
        ``spark.python.worker.memory``."""
        wh = self.warehouse
        buckets = wh.bucket_files("chunks_tier0")
        budget = _python_worker_memory(self.spark)
        if buckets is None or any(wh.uncompressed_bytes(fs) > budget
                                  for fs in buckets.values()):
            return None
        return buckets

    # --- stage 1: ingest+flush ------------------------------------------
    @_described
    def ingest(self, tokens_df: DataFrame, seed: int = 42,
               partitions: int | None = None, append: bool = False) -> dict:
        """Flush ``tokens_df`` into the chunk table: the flush tasks write
        their chunks to parquet themselves (``Warehouse.kernel_writer``),
        as a new doc-bucketed snapshot, or with ``append`` as a segment.
        Returns the commit's lineage entry (rows, bytes, files, wall time
        and the tasks' input/kernel/write seconds); the table is not read
        back (``Warehouse.read`` does that, and registers a bucketed
        snapshot in the session catalog)."""
        wh = self.warehouse
        src = tokens_df.repartition(partitions, "doc_id") if partitions else tokens_df
        kern = functools.partial(flush_kernel_batches, seed=seed)
        if append and wh.exists("chunks_tier0"):
            # manifest-add only: the existing snapshot is untouched and the
            # next promotion MERGEs just the appended docs' windows
            files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW)
            wh.append_segment(files.frame(src, kern), "chunks_tier0",
                              partition_by=("p_day",), op="append", files=files)
        else:
            files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=self._bucket_by())
            wh.write(files.frame(src, kern), "chunks_tier0", partition_by=("p_day",),
                     watermark_us=None, op="ingest", bucket_by=files.bucket_by, files=files)
        return wh.manifest("chunks_tier0")["lineage"][-1]

    # --- stage 2: promotion with checkpoint ------------------------------
    @_described
    def promote_all(self, up_to_us: int | None = None,
                    collect_stats: bool = False) -> list[dict]:
        """Promote each tier up to its source's complete windows.

        Three regimes per tier, all deterministic and idempotent:
        - **full** (no watermark yet): compute every window;
        - **incremental** (watermark advance): keep rows below the
          watermark, compute only [watermark, complete) from the finer
          source filtered to that range (exact — a window's inputs all
          carry window_start ≥ watermark);
        - **merge** (pending appended segments): additionally recompute the
          windows of JUST the appended docs below the watermark and splice
          them over the kept rows (anti-join) — appends never trigger a
          full recompute (the reference's compaction-then-requery shape;
          per-key MERGE INTO on Iceberg).

        With no watermark on any tier, no pending append and nested
        windows, every tier is computed in ONE job (``_promote_all_fused``),
        which reads the chunk files itself when the table is one bucketed
        snapshot. The chunk table is read through ``Warehouse.read`` only
        where a frame is needed: the per-tier cascade, and ``max(max_ts)``
        when a file lacks footer statistics.

        Returns a per-tier summary; with ``collect_stats`` it includes
        recomputed/kept row counts (extra count jobs — tests only)."""
        wh = self.warehouse
        chunks = None
        # the parquet footers answer max(max_ts) when every row is a tier-0
        # chunk; a Spark job only when a file lacks the statistics
        _, stats = wh.footer_stats("chunks_tier0", ("tier", "max_ts"))
        if stats["tier"] == (0, 0) and stats["max_ts"] is not None:
            data_max = stats["max_ts"][1]
        else:
            chunks = wh.read(self.spark, "chunks_tier0")
            data_max = chunks.filter(F.col("tier") == 0).agg(F.max("max_ts")).collect()[0][0]
        pending = wh.pending_appends("chunks_tier0")
        dirty = None
        if pending:
            seg = wh.read_segment(self.spark, "chunks_tier0", pending[0])
            for s in pending[1:]:
                seg = seg.unionByName(wh.read_segment(self.spark, "chunks_tier0", s))
            dirty = seg.filter(F.col("tier") == 0).select("doc_id").distinct()

        def tier1_fresh(src):
            return rollup_tier1(src.filter(F.col("tier") == 0), self.tiers[0].window_us)

        # Fused full-mode fast path: no tier has a watermark yet and no
        # appends are pending → every tier is a fresh computation over the
        # same points, so one rollup_tiers() decode job can feed all of
        # them. Requires nested windows (each coarser tier an integer
        # multiple of the finer) for direct-from-points ≡ cascade equality.
        nested = all(
            self.tiers[j + 1].window_us % self.tiers[j].window_us == 0
            for j in range(len(self.tiers) - 1)
        )
        if (
            not pending
            and nested
            and len(self.tiers) > 1
            and not os.environ.get("SPARK_GRAFT_NO_FUSED_PROMOTE")
            and all(wh.watermark(spec.name) is None for spec in self.tiers)
        ):
            return self._promote_all_fused(data_max, up_to_us, collect_stats)

        if chunks is None:
            chunks = wh.read(self.spark, "chunks_tier0")
        summary: list[dict] = []
        prev_df = None
        for i, spec in enumerate(self.tiers):
            if up_to_us is None:
                # final batch run: every window is complete (data is closed)
                complete = (data_max // spec.window_us + 1) * spec.window_us
            else:
                # incremental run: only windows fully below the horizon
                complete = (min(up_to_us, data_max) // spec.window_us) * spec.window_us
            already = wh.watermark(spec.name)
            if already is not None and already >= complete and not pending:
                prev_df = wh.read(self.spark, spec.name)
                summary.append({"tier": spec.name, "mode": "noop"})
                continue
            source = chunks if i == 0 else prev_df
            fresh_of = tier1_fresh if i == 0 else (
                lambda src, w=spec.window_us: promote(src, w)
            )
            win = F.col("window_start")
            new_wm = int(complete)
            if already is None:
                out = fresh_of(source).filter(win < F.lit(complete))
                mode = "full"
                stats_dfs = {"recomputed": out}
            else:
                lo = int(already)
                # an append of old-only data can leave complete < watermark;
                # never regress the checkpoint
                new_wm = max(new_wm, lo)
                old = wh.read(self.spark, spec.name).drop("p_day").filter(win < F.lit(lo))
                # tail: windows in [lo, complete) — the finer source rows
                # that can contribute all carry window_start/min-ts ≥ lo
                if i == 0:
                    tail_src = chunks.filter(
                        (F.col("tier") == 0) & (F.col("max_ts") >= F.lit(lo))
                    )
                else:
                    tail_src = prev_df.filter(win >= F.lit(lo))
                fresh_tail = fresh_of(tail_src).filter(
                    (win >= F.lit(lo)) & (win < F.lit(complete))
                )
                if dirty is not None:
                    kept = old.join(F.broadcast(dirty), "doc_id", "left_anti")
                    dirty_src = source.join(F.broadcast(dirty), "doc_id", "left_semi")
                    fresh_dirty = fresh_of(dirty_src).filter(win < F.lit(lo))
                    out = kept.unionByName(fresh_dirty).unionByName(fresh_tail)
                    mode = "merge"
                    stats_dfs = {"kept": kept, "recomputed_dirty": fresh_dirty,
                                 "recomputed_tail": fresh_tail}
                else:
                    out = old.unionByName(fresh_tail)
                    mode = "incremental"
                    stats_dfs = {"kept": old, "recomputed": fresh_tail}
            entry = {"tier": spec.name, "mode": mode, "watermark_us": int(complete)}
            if collect_stats:
                # count BEFORE the write: the commit retires the old
                # snapshot these frames still read from
                entry.update({k: df.count() for k, df in stats_dfs.items()})
            wh.write(with_p_day(out), spec.name, partition_by=("p_day",),
                     watermark_us=new_wm, op=f"promote@{new_wm}:{mode}")
            prev_df = wh.read(self.spark, spec.name)
            summary.append(entry)
        if pending:
            wh.clear_pending("chunks_tier0")
        return summary

    def _promote_all_fused(self, data_max: int, up_to_us: int | None,
                           collect_stats: bool) -> list[dict]:
        """All-tiers-fresh promotion from ONE decode pass, in ONE job.

        The per-tier cascade costs a write + read-back per tier (a fixed
        ~0.5 s/job wall that does NOT shrink with cores — the dominant
        non-scaling component measured in BENCH.md). Here every chunk of a
        doc reaches one task, sorted by doc, and the fused rollup kernel
        decodes every chunk once, merges each doc's chunks itself and emits
        every tier's final rows together; its tasks write them to parquet
        per ``(tier, p_day)`` and ``Warehouse.write_slices`` moves each
        tier's files into that tier table's snapshot (filesystem moves +
        per-table manifest swaps, no extra jobs).

        When the chunk table is one snapshot bucketed by doc_id
        (``Warehouse.bucket_files``), the job runs over ``spark.range`` of
        the bucket ids and task ``b`` reads bucket ``b``'s files itself
        with pyarrow (``bucket_reader``: the rollup's columns, tier-0 rows,
        sorted by doc in Arrow) — no scan, sort or Arrow transfer in the
        JVM, no catalog. A bucket whose uncompressed bytes pass
        ``spark.python.worker.memory`` would sit whole in the task without
        spilling, so then, as for any other chunk table, the chunks are
        read as a frame and hash-partitioned by doc_id first (one shuffle,
        Spark's sort, same kernel and writer)."""
        wh = self.warehouse
        completes: list[int] = []
        for spec in self.tiers:
            if up_to_us is None:
                completes.append((data_max // spec.window_us + 1) * spec.window_us)
            else:
                completes.append(
                    (min(up_to_us, data_max) // spec.window_us) * spec.window_us
                )
        windows = [spec.window_us for spec in self.tiers]
        buckets = self._doc_buckets()
        read = None
        if buckets is not None:
            src = self.spark.range(len(buckets), numPartitions=len(buckets))
            kern = tiers_kernel(windows)
            batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
            read = bucket_reader(buckets, ROLLUP_INPUT, filters=[("tier", "=", 0)],
                                 sort_by=DOC_ORDER, batch_rows=batch_rows)
        else:
            chunks = wh.read(self.spark, "chunks_tier0", bucketed=False)
            chunks = chunks.filter(F.col("tier") == 0)
            src, kern = whole_doc_rollup(chunks.repartition("doc_id"), windows)
        tables = {t: spec.name for t, spec in enumerate(self.tiers)}
        files = wh.kernel_writer(list(tables.values()), TIER_PARTIAL_ARROW, slice_col="tier")
        wh.write_slices(
            files.frame(src, _below_horizons(kern, completes), read), "tier", tables,
            partition_by=("p_day",),
            watermarks={t: int(c) for t, c in enumerate(completes)},
            op="promote:full-fused", files=files,
        )
        summary = []
        for t, spec in enumerate(self.tiers):
            entry = {"tier": spec.name, "mode": "full",
                     "watermark_us": int(completes[t])}
            if collect_stats:
                entry["recomputed"] = wh.manifest(spec.name)["lineage"][-1]["rows"]
            summary.append(entry)
        return summary

    # --- maintenance: compaction ------------------------------------------
    @_described
    def compact(self, min_chunks: int = 2) -> dict:
        """Merge every series with ≥ ``min_chunks`` tier-0 chunks into one
        chunk (the reference's compaction stage; page-merge kernel: splice
        fast path for disjoint chunks, stable k-merge for overlap) and
        commit a consolidated snapshot. The point set is preserved exactly,
        so promoted tiers stay valid and are untouched. Refuses to run
        over un-promoted appends: the consolidating write would retire the
        pending-segment bookkeeping the next MERGE promotion needs."""
        from pyspark.sql import functions as F  # local: keep module header lean

        from ..operators.compaction import compact_chunks

        wh = self.warehouse
        if wh.pending_appends("chunks_tier0"):
            raise ValueError("promote_all() before compact(): pending appends")
        chunks = wh.read(self.spark, "chunks_tier0")
        t0 = chunks.filter(F.col("tier") == 0)
        multi = (
            t0.groupBy("doc_id").count()
            .filter(F.col("count") >= min_chunks)
            .select("doc_id")
        )
        n_multi = multi.count()
        if n_multi == 0:
            return {"compacted_docs": 0}
        merged = compact_chunks(t0.join(F.broadcast(multi), "doc_id", "left_semi"))
        # keep: single-chunk docs' tier-0 rows untouched, and ALL tier=-1
        # partial rows (they are per (doc, window) aggregates of the same
        # points — still valid after the merge)
        singles = t0.drop("p_day").join(F.broadcast(multi), "doc_id", "left_anti")
        partials = chunks.drop("p_day").filter(F.col("tier") == -1)
        out = singles.unionByName(merged).unionByName(partials)
        # re-cluster on write: the consolidated snapshot is bucketed again,
        # so the NEXT compaction/merge over it is exchange-free even after
        # appends broke the previous clustering
        wh.write(with_p_day(out), "chunks_tier0", partition_by=("p_day",),
                 watermark_us=None, op=f"compact:{n_multi}",
                 bucket_by=self._bucket_by())
        return {"compacted_docs": int(n_multi)}

    # --- stage 3: retention ----------------------------------------------
    @_described
    def retain(self, now_us: int) -> list[dict]:
        out = []
        for spec in self.tiers:
            if spec.ttl_us is not None and self.warehouse.exists(spec.name):
                out.append(
                    apply_retention(self.warehouse, spec.name, now_us, spec.ttl_us)
                )
        return out

    # --- one-shot ----------------------------------------------------------
    def run(self, tokens_df: DataFrame, seed: int = 42, now_us: int | None = None) -> None:
        self.ingest(tokens_df, seed)
        self.promote_all()
        if now_us is not None:
            self.retain(now_us)
