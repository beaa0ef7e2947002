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
import pyarrow.compute as pc

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..operators.compaction import COMPACT_ORDER, compact_kernel
from ..operators.ingest import CHUNK_ARROW, flush_kernel_batches, flush_rollup_kernel
from ..operators.retention import apply_retention
from ..operators.rollup import (
    DOC_ORDER,
    ROLLUP_INPUT,
    TIER_PARTIAL_ARROW,
    WINDOW_1H_US,
    WINDOW_1M_US,
    tiers_kernel,
)
from ..sources.file_input import arrow_schema, split_reader, task_splits
from ..sources.warehouse import Kernel, Warehouse, bucket_reader, task_ids


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


def _promoted_rows(kern, lo: list[int], hi: list[int], dirty: list[str]):
    """``kern`` keeping the rows the promotion commits: those of tier ``t``
    whose window lies below ``hi[t]`` and starts at or after ``lo[t]`` or
    belongs to a doc in ``dirty``."""
    lo, hi = np.asarray(lo, dtype=np.int64), np.asarray(hi, dtype=np.int64)
    dirty = pa.array(dirty, pa.string())

    def run(batches):
        for batch in kern(batches):
            tier = batch.column("tier").to_numpy()
            win = batch.column("window_start").to_numpy()
            below = win < hi[tier]
            keep = below & (win >= lo[tier])
            if len(dirty):
                doc = batch.column("doc_id")
                keep |= below & pc.is_in(doc, value_set=dirty.cast(doc.type)).to_numpy(
                    zero_copy_only=False)
            yield batch if keep.all() else batch.filter(pa.array(keep))

    return run


def _python_worker_memory(spark: SparkSession) -> int:
    """Bytes a Python worker may hold before Spark's own Python aggregation
    spills (``spark.python.worker.memory``, default 512m), and so what a
    ``bucket_reader`` task may hold. Reads the one key from the session
    conf; ``sparkContext.getConf()`` would copy the whole SparkConf first."""
    from pyspark.rdd import _parse_memory

    return _parse_memory(spark.conf.get("spark.python.worker.memory", "512m")) << 20


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

    def __post_init__(self):
        # each tier is cascaded from the finer one in the rollup kernel
        tiers_kernel([spec.window_us for spec in self.tiers])  # raises unless they nest

    def _bucket_by(self) -> tuple[str, int]:
        """Hash-bucket spec of a new chunk snapshot (Iceberg ``bucket(doc_id,
        N)`` stand-in): every chunk of a doc sits in one bucket's files,
        so each task of a whole-bucket stage (``_bucket_stage``) reads whole
        docs itself, with no exchange. One bucket per core of the writing
        session, so each such stage runs one wave of whole-bucket tasks:
        every Python task has a fixed start-up cost (README "Scale design
        notes"), which a sub-core bucket's share of the work would not
        repay. Appends and compaction keep the count the snapshot was
        written with (``_table_buckets``)."""
        return ("doc_id", self.spark.sparkContext.defaultParallelism)

    def _table_buckets(self) -> tuple[str, int] | None:
        """The chunk table's bucket spec, fixed by the write that created
        its snapshot; None for a table written without one."""
        spec = self.warehouse.manifest("chunks_tier0").get("bucket_spec")
        return tuple(spec) if spec else None

    def _bucket_stage(self, columns: tuple[str, ...], filters: list[list[tuple]],
                      sort_by: tuple[str, ...]) -> tuple[DataFrame, Kernel]:
        """``(src, read)`` of a stage in which every task holds whole docs
        of the chunk table — ``columns`` of the rows matching ``filters``
        (pyarrow's OR of ANDs), sorted by ``sort_by`` — for
        ``KernelWriter.frame(src, kern, read)``. Task ``b`` reads bucket
        ``b``'s files itself (``bucket_reader``: no scan, no exchange in the
        JVM) within ``spark.python.worker.memory``. A table whose files do
        not all name a bucket (``Warehouse.bucket_files``) is refused here."""
        buckets = self.warehouse.bucket_files("chunks_tier0")
        batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        return task_ids(self.spark, len(buckets)), bucket_reader(
            buckets, columns, filters=filters, sort_by=sort_by, batch_rows=batch_rows,
            memory=_python_worker_memory(self.spark))

    def _input_stage(self, tokens_df: DataFrame,
                     bucket_by: tuple[str, int] | None) -> tuple[DataFrame, Kernel | None]:
        """``(src, read)`` of an ingest's flush job, for
        ``KernelWriter.frame(src, kern, read)``. When ``tokens_df`` is
        exactly a scan of local parquet files with a string ``doc_id``
        (``file_input.task_splits``), ``src`` is a range of task ids and
        each task reads its row groups itself with pyarrow
        (``split_reader``, which tags each row with its ``bucket_by``
        bucket): no scan in the JVM and no rows sent to Python. Its tasks
        hold the rows the scan's would. Otherwise ``src`` is the frame and
        ``read`` None."""
        splits = task_splits(tokens_df, "doc_id")
        if splits is None:
            return tokens_df, None
        batch_rows = int(self.spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch"))
        return task_ids(self.spark, len(splits)), split_reader(
            splits, arrow_schema(tokens_df), batch_rows=batch_rows, bucket_by=bucket_by)

    def _tier_specs(self) -> list[list]:
        """The tiers as a prepared record names them: [name, window_us]."""
        return [[spec.name, spec.window_us] for spec in self.tiers]

    # --- stage 1: ingest+flush ------------------------------------------
    @_described
    def ingest(self, tokens_df: DataFrame, seed: int = 42, append: bool = False) -> dict:
        """Flush ``tokens_df`` into the chunk table: the flush tasks write
        their chunks to parquet themselves (``Warehouse.kernel_writer``),
        as a new doc-bucketed snapshot (``_bucket_by``), or with
        ``append`` as a segment in the table's own buckets. A frame that is
        exactly a scan of local parquet files (string ``doc_id``) is read by
        the flush tasks themselves with pyarrow;
        any other frame reaches them through Spark's scan as Arrow batches
        (``_input_stage``). Returns the commit's lineage entry (rows,
        bytes, files, wall time, the tasks' input/kernel/write seconds,
        their count and ``input``: ``files`` or ``scan``); the table is not
        read back.

        A new snapshot on a warehouse with no tier table yet is also
        rolled up in the same tasks (``flush_rollup_kernel``): each task
        reduces the sorted points it has just encoded into every tier's
        rows and stages them (``Warehouse.write`` with a side writer), and
        the chunk commit records them as its prepared record, which the
        next ``promote_all`` commits with no Spark job. The record is kept
        only if every doc is one run of one task (no doc-run key repeats
        across tasks); one job, no exchange either way."""
        wh = self.warehouse
        append = append and wh.exists("chunks_tier0")
        fresh = not append and not any(wh.exists(spec.name) for spec in self.tiers)
        bucket_by = self._table_buckets() if append else self._bucket_by()
        files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=bucket_by)
        kern = functools.partial(flush_kernel_batches, seed=seed)
        if fresh:
            files = files.with_side(TIER_PARTIAL_ARROW, "tier")
            kern = flush_rollup_kernel([spec.window_us for spec in self.tiers], seed)
        src, read = self._input_stage(tokens_df, bucket_by)
        out = files.frame(src, kern, read)
        lineage = {"input": "scan" if read is None else "files"}
        if append:
            # manifest-add only: the existing snapshot is untouched and the
            # next promotion MERGEs just the appended docs' windows
            wh.append_segment(out, "chunks_tier0", op="append", files=files, lineage=lineage)
        else:
            staged = dict(stage={t: spec.name for t, spec in enumerate(self.tiers)},
                          stage_meta={"tiers": self._tier_specs()}) if fresh else {}
            wh.write(out, "chunks_tier0", op="ingest", files=files, lineage=lineage, **staged)
        return wh.manifest("chunks_tier0")["lineage"][-1]

    def _commit_prepared(self, modes: list[str], wm: list[int], up_to_us: int | None,
                         pending: list) -> set[int]:
        """Commit the tiers the chunk table's prepared record (``ingest``)
        holds, then drop the record: returns the tiers committed. A tier
        takes its record only when it is a ``full`` promotion of all its
        windows (``up_to_us`` None, nothing pending) and the record belongs
        to the live chunk snapshot and to this pipeline's tiers; every other
        tier runs the promotion job as before. A rerun after a crash
        between tier commits finds the committed tiers noop and commits
        the rest."""
        wh = self.warehouse
        rec = wh.prepared("chunks_tier0")
        if rec is None:
            return set()
        done = set()
        if (rec["version"] == wh.manifest("chunks_tier0")["version"]
                and rec["tiers"] == self._tier_specs() and not pending and up_to_us is None):
            for t, spec in enumerate(self.tiers):
                # a tier whose staged dir is gone was moved by a commit
                # that crashed before its manifest swap
                if modes[t] == "full" and os.path.isdir(
                        os.path.join(wh.root, rec["dir"], spec.name)):
                    wh.commit_prepared("chunks_tier0", spec.name, watermark_us=wm[t],
                                       op="promote:full")
                    done.add(t)
        wh.drop_prepared("chunks_tier0")
        return done

    # --- stage 2: promotion with checkpoint ------------------------------
    @_described
    def promote_all(self, up_to_us: int | None = None,
                    collect_stats: bool = False) -> list[dict]:
        """Promote each tier up to its complete windows, in ONE plan.

        Per tier ``t`` the driver finds ``hi_t``, the end of the complete
        windows (all of them when ``up_to_us`` is None: the data is closed),
        and ``lo_t``, the tier's watermark, and picks a mode, all
        deterministic and idempotent:
        - **full** (no watermark yet): compute every window;
        - **incremental** (watermark advance): keep the rows below ``lo_t``
          and compute the windows in ``[lo_t, hi_t)``;
        - **merge** (pending appended segments): also recompute the windows
          of JUST the appended docs ``D`` below ``lo_t`` over the kept rows
          — an append never triggers a full recompute (the reference's
          compaction-then-requery shape; per-key MERGE INTO on Iceberg);
        - **noop**: ``lo_t ≥ hi_t`` and nothing pending, or a chunk table
          with no row. When every tier is a noop the call returns without a
          Spark job.

        The tier's new watermark is ``W_t = max(hi_t, lo_t)``: an append of
        old data can leave ``hi_t < lo_t``, and the checkpoint never
        regresses. A full promotion of every window after a fresh ingest
        commits the tier rows the ingest's tasks already computed (the
        chunk table's prepared record, ``_commit_prepared``): a directory
        move and a manifest swap per tier, no Spark job. Every other tier
        with work comes from one kernel job: the
        fused rollup decodes the tier-0 chunks with ``max_ts ≥ min(lo_t)``
        (every chunk for a full tier) and every chunk of a doc in ``D``, and
        keeps tier ``t``'s rows with ``win < W_t`` and ``win ≥ lo_t`` or the
        doc in ``D``. That is exact: a window at or after ``lo_t`` takes
        points only from chunks with ``max_ts ≥ lo_t``, and a doc in ``D``
        has all of its chunks decoded; the windows nest, so each tier
        computed from the points equals the finer tier cascaded. The kept
        rows — the old table below ``lo_t`` without ``D``'s docs — never
        share a (doc, window) with the computed ones, so they need no
        co-location with the chunks: they pass through the same writer, in
        the same job, and one ``Warehouse.write_slices`` commits every tier
        with its own watermark.

        The kernel's tasks read the chunk files themselves, one bucket each
        (``_bucket_stage``, no scan or exchange in the JVM); ``D`` is read
        on the driver from the pending segments' files.

        Returns a per-tier summary; with ``collect_stats`` it includes the
        kept and recomputed row counts (an extra count job — tests only)."""
        wh = self.warehouse
        # max(max_ts) from the parquet footers: every chunk file is written
        # with min/max statistics (footer_stats refuses one without them)
        _, stats = wh.footer_stats("chunks_tier0", ("max_ts",))
        data_max = None if stats["max_ts"] is None else stats["max_ts"][1]
        pending = wh.pending_appends("chunks_tier0")
        lo, wm, modes = [], [], []  # per tier: watermark, new watermark, mode
        for spec in self.tiers:
            mark = wh.watermark(spec.name)
            lo.append(mark)
            if data_max is None:  # no chunk row: nothing to promote
                wm.append(mark)
                modes.append("noop")
                continue
            w = spec.window_us
            complete = ((data_max // w + 1) * w if up_to_us is None
                        else min(up_to_us, data_max) // w * w)
            wm.append(int(complete) if mark is None else max(int(complete), mark))
            modes.append("full" if mark is None else "merge" if pending
                         else "noop" if mark >= complete else "incremental")
        prepared = self._commit_prepared(modes, wm, up_to_us, pending)
        work = {t: spec.name for t, spec in enumerate(self.tiers)
                if modes[t] != "noop" and t not in prepared}
        n_kept = self._promote_job(work, lo, wm, modes, collect_stats) if work else {}
        if pending:
            wh.clear_pending("chunks_tier0")
        summary = []
        for t, spec in enumerate(self.tiers):
            entry = {"tier": spec.name, "mode": modes[t]}
            if t in work or t in prepared:
                entry["watermark_us"] = wm[t]
                if collect_stats:
                    rows = wh.manifest(spec.name)["lineage"][-1]["rows"]
                    kept = n_kept.get(t, 0)
                    entry.update(kept=kept, recomputed=rows - kept)
            summary.append(entry)
        return summary

    def _promote_job(self, work: dict[int, str], lo: list, wm: list[int], modes: list[str],
                     collect_stats: bool) -> dict[int, int]:
        """The one kernel job of ``promote_all`` over the tiers in ``work``
        (``{tier index: table}``); returns the rows each kept (counted only
        with ``collect_stats``)."""
        wh = self.warehouse
        dirty = wh.pending_keys("chunks_tier0", "doc_id")
        marks = [lo[t] for t in work]
        lo_min = None if None in marks else min(marks)
        tier0 = ("tier", "=", 0)
        filters = ([[tier0]] if lo_min is None
                   else [[tier0, ("max_ts", ">=", lo_min)]]
                   + ([[tier0, ("doc_id", "in", dirty)]] if dirty else []))
        src, read = self._bucket_stage((*ROLLUP_INPUT, "count"), filters, DOC_ORDER)
        kern = tiers_kernel([spec.window_us for spec in self.tiers])
        files = wh.kernel_writer(list(work.values()), TIER_PARTIAL_ARROW, slice_col="tier")
        never = np.iinfo(np.int64).min  # a full tier's lo; a noop tier's hi
        out = files.frame(src, _promoted_rows(
            kern, [never if m is None else m for m in lo],
            [wm[t] if t in work else never for t in range(len(self.tiers))], dirty), read)
        kept = None
        # the old rows of the docs in D are recomputed: one filter for every tier
        clean = ~F.coalesce(F.col("doc_id").isin(dirty), F.lit(False)) if dirty else None
        for t, name in work.items():
            if lo[t] is None:
                continue
            old = (wh.read(self.spark, name).drop("p_day")
                   .filter(F.col("window_start") < lo[t]).withColumn("tier", F.lit(t)))
            if clean is not None:
                old = old.filter(clean)
            kept = old if kept is None else kept.unionByName(old)
        n_kept = dict.fromkeys(work, 0)
        if kept is not None:
            if collect_stats:
                # count BEFORE the write: the commit retires the old
                # snapshots these rows are read from
                n_kept.update(kept.groupBy("tier").count().collect())
            out = out.unionByName(files.frame(kept, iter))  # the rows as they are
        wh.write_slices(out, "tier", work, watermarks={t: wm[t] for t in work},
                        op="promote:" + "+".join(dict.fromkeys(modes[t] for t in work)),
                        files=files)
        return n_kept

    # --- maintenance: compaction ------------------------------------------
    @_described
    def compact(self) -> dict:
        """Merge every series ``(doc_id, source)`` with two or more tier-0
        chunks into one chunk (the reference's compaction stage: one
        batched decode of a batch's chunks, then the one series encoder,
        whose stable sort keeps flush order on ties) and commit a
        consolidated snapshot in the table's buckets, in ONE whole-bucket
        job (``_bucket_stage`` → ``compact_kernel``): single-chunk series'
        rows pass through as they are. A compaction that merges no series
        commits nothing. The point set is preserved exactly, so promoted
        tiers stay valid and are untouched. Refuses to run over
        un-promoted appends: the consolidating write would retire the
        pending-segment bookkeeping the next MERGE promotion needs."""
        wh = self.warehouse
        if wh.pending_appends("chunks_tier0"):
            raise ValueError("promote_all() before compact(): pending appends")
        src, read = self._bucket_stage(tuple(CHUNK_ARROW.names), [[("tier", "=", 0)]],
                                       COMPACT_ORDER)
        files = wh.kernel_writer("chunks_tier0", CHUNK_ARROW, bucket_by=self._table_buckets())
        merged = wh.write(files.frame(src, compact_kernel, read), "chunks_tier0",
                          op=lambda n: f"compact:{n}" if n else None, files=files)
        return {"compacted_docs": merged}

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
