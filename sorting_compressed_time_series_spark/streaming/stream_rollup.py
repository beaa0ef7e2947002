"""Streaming ingestion + continuous aggregates.

The reference has no event-time streaming: its CQs are scheduled batch
re-computations and late data is absorbed by the OOO sort machinery
(SURVEY.md §2.5 note). We keep batch tier promotion as the primary path
(it is what the north rule grades) and provide this Structured Streaming
front-end for the same semantics:

- watermarked tumbling-window aggregates = tier1 in append mode, late
  points older than the watermark dropped (the streaming analogue of the
  write-path TTL check);
- streaming twins of the batch session, variation-window, packing and
  exact-dedup operators.

Each twin returns a streaming DataFrame; `run_stream_to_memory` drives a
bounded source to completion into Spark's in-memory sink, and the tests
compare that table with the batch operator's output. Nothing here writes
to the warehouse: a ``foreachBatch`` sink that lands micro-batches through
the warehouse commit protocol, so that a streamed warehouse equals a batch
load, is ROADMAP item 14.

The tumbling aggregate uses the same left-closed/right-open epoch-aligned
windows as operators/rollup.py, so streaming output rows are directly
comparable to the batch tier (asserted in tests/test_streaming.py); it
carries cnt/sum/min/max, not the tier's first/last.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def streaming_tier1(
    points: DataFrame,
    window_us: int,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key: str = "doc_id",
    value_col: str = "value",
) -> DataFrame:
    """Windowed continuous aggregate over a streaming points DataFrame.
    ``ts_col`` must be a timestamp column; emits the tier-1 accumulator
    set keyed (series, window_start µs)."""
    secs = window_us / 1_000_000
    w = F.window(F.col(ts_col), f"{secs} seconds")
    return (
        points.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), w.alias("w"))
        .agg(
            F.count("*").alias("cnt"),
            F.sum(value_col).alias("sum_v"),
            F.min(value_col).alias("min_v"),
            F.max(value_col).alias("max_v"),
        )
        .select(
            key,
            F.unix_micros(F.col("w.start")).alias("window_start"),
            "cnt",
            "sum_v",
            "min_v",
            "max_v",
        )
    )


def streaming_session_tier(
    points: DataFrame,
    gap_us: int,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    key: str = "doc_id",
    value_col: str = "value",
) -> DataFrame:
    """SessionWindow as a STREAMING operator: Spark's native
    ``session_window`` (dynamic-gap windows merged by the state store)
    is the Structured-Streaming twin of operators/windows.session_windows
    — same gap>threshold semantics, watermark-finalized."""
    secs = gap_us / 1_000_000
    sw = F.session_window(F.col(ts_col), f"{secs} seconds")
    return (
        points.withWatermark(ts_col, watermark)
        .groupBy(F.col(key), sw.alias("sw"))
        .agg(
            F.count("*").alias("n_events"),
            F.sum(value_col).alias("sum_v"),
        )
        .select(
            key,
            F.unix_micros(F.col("sw.start")).alias("start_ts"),
            F.unix_micros(F.col("sw.end")).alias("end_ts"),
            "n_events",
            "sum_v",
        )
    )


def streaming_variation_delta(
    points: DataFrame,
    delta: float,
    ts_col: str = "ts",
    key: str = "doc_id",
    value_col: str = "value",
) -> DataFrame:
    """General VariationWindow (|v - anchor| > delta breaks the window) as
    a CUSTOM STATEFUL streaming operator via ``applyInPandasWithState``:
    no Spark built-in expresses anchored windows (the anchor is data-
    dependent per window), and across micro-batches the operator must
    remember (anchor, group id, running count) per series — exactly the
    GroupState contract. Emits one row per (series, variation_group) per
    batch with the RUNNING count (update semantics; the last emission per
    group is final)."""
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = f"{key} string, variation_group bigint, cnt bigint, anchor double"
    state_schema = "anchor double, gid bigint, cnt bigint"

    def fn(key_tuple, pdfs, state: GroupState):
        import numpy as np

        if state.exists:
            anchor, gid, cnt = state.get
        else:
            anchor, gid, cnt = None, 0, 0
        rows = []
        for pdf in pdfs:
            # (ts, value) matches the batch operator's sort_array total
            # order, so the two paths agree even on tied timestamps —
            # unless a tie straddles a trigger boundary, which no
            # streaming operator can reorder (documented divergence)
            pdf = pdf.sort_values([ts_col, value_col], kind="stable")
            v = pdf[value_col].to_numpy(dtype=np.float64)
            for x in v:  # anchored scan; batches are small per (series, trigger)
                if anchor is None:
                    anchor = float(x)
                elif abs(x - anchor) > delta:
                    rows.append((key_tuple[0], gid, cnt, anchor))
                    gid += 1
                    cnt = 0
                    anchor = float(x)
                cnt += 1
        if cnt > 0:
            rows.append((key_tuple[0], gid, cnt, anchor))
        state.update((anchor, gid, cnt))
        yield pd.DataFrame(rows, columns=[key, "variation_group", "cnt", "anchor"])

    return points.groupBy(key).applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_pack_nosplit(
    toks: DataFrame, seq_len: int, id_prefix_len: int = 10
) -> DataFrame:
    """Ingest-time NO-SPLIT sequence packing — the streaming twin of
    operators/packing.pack_greedy_nosplit, for pipelines that pack
    training sequences as documents land instead of in a batch pass.

    The greedy fill is a sequential carry per doc_id-prefix shard, so the
    shard is the GroupState key and the open sequence's accumulators
    (fill, seq index, doc count, token sum, first doc) are the state
    carried across micro-batches — the same contract as
    ``streaming_variation_delta``. Update semantics: every batch emits the
    sequences it completed plus the RUNNING row for the still-open
    sequence; the LAST emission per (grp, seq_in_grp) is final, and on a
    drained in-order stream the final rows are exactly the batch
    operator's output (asserted in tests). Arrival order rules across
    micro-batches (a streaming packer cannot reorder history); within a
    batch docs are packed in doc_id order, matching the batch total order.
    """
    import pandas as pd

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = (
        "grp string, seq_in_grp long, n_docs long, tok_sum long, pad long, "
        "first_doc string, last_doc string, oversize boolean"
    )
    state_schema = ("cur bigint, seq bigint, n_docs bigint, tok_sum bigint, "
                    "first_doc string, last_doc string")

    def fn(key_tuple, pdfs, state: GroupState):
        grp = key_tuple[0]
        if state.exists:
            cur, seq, sdocs, ssum, sfirst, last = state.get
        else:
            cur, seq, sdocs, ssum, sfirst, last = 0, 0, 0, 0, None, None
        rows = []
        # applyInPandasWithState delivers a group's micro-batch rows as
        # MULTIPLE pandas chunks (arrow.maxRecordsPerBatch slices); sorting
        # each chunk independently packed chunk-spanning groups in
        # chunk-arrival order. Materialize the whole group's batch and sort
        # ONCE so within-batch packing is truly doc_id-ordered (matching
        # pack_greedy_nosplit's total order).
        chunks = list(pdfs)
        group_pdfs = (
            [(pd.concat(chunks) if len(chunks) > 1 else chunks[0])
             .sort_values("doc_id", kind="stable")]
            if chunks else []
        )
        for pdf in group_pdfs:
            for d, n in zip(pdf["doc_id"], pdf["n_tok"]):
                n = int(n)
                if n <= 0:
                    continue
                if cur > 0 and cur + n > seq_len:
                    rows.append((grp, seq, sdocs, ssum, seq_len - ssum,
                                 sfirst, last, ssum > seq_len))
                    seq += 1
                    cur, sdocs, ssum, sfirst = 0, 0, 0, d
                if sfirst is None:
                    sfirst = d
                cur += n
                sdocs += 1
                ssum += n
                last = d
        if sdocs:
            rows.append((grp, seq, sdocs, ssum, seq_len - ssum,
                         sfirst, last, ssum > seq_len))
        state.update((cur, seq, sdocs, ssum, sfirst, last))
        yield pd.DataFrame(
            rows,
            columns=["grp", "seq_in_grp", "n_docs", "tok_sum", "pad",
                     "first_doc", "last_doc", "oversize"],
        )

    keyed = toks.withColumn("grp", F.substring("doc_id", 1, id_prefix_len))
    return keyed.groupBy("grp").applyInPandasWithState(
        fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def streaming_dedup_exact(
    docs: DataFrame,
    watermark: str = "10 minutes",
    ts_col: str = "ts",
    text_col: str = "text",
) -> DataFrame:
    """Exact content dedup at INGEST time — the streaming twin of
    operators/dedup.exact_dedup, for pipelines that drop duplicate
    documents as they arrive instead of in a batch pass.

    Built on ``dropDuplicatesWithinWatermark`` keyed by the same
    fixed-width (two independently-salted xxhash64 + length) content key
    the batch operator shuffles on, so state-store rows stay ~20 bytes of
    key regardless of document size and the state store evicts keys once
    the watermark passes them — bounded state on an unbounded stream,
    which plain ``dropDuplicates`` cannot give.  First-arrival wins
    (arrival order, not min-id: a streaming operator cannot see a later
    smaller id — the documented divergence from the batch keep-list, which
    re-running the batch dedup over the landed corpus reconciles).
    Emits the surviving rows unchanged (id, ts, text pass through).
    """
    from ..operators.dedup import NORMALIZE

    keyed = docs.withColumn(
        "norm_text", F.expr(NORMALIZE.replace("text", text_col))
    ).select(
        "*",
        F.xxhash64("norm_text").alias("_h"),
        F.xxhash64(F.lit(0x9E3779B9), "norm_text").alias("_h2"),
        F.length("norm_text").alias("_len"),
    )
    return (
        keyed.withWatermark(ts_col, watermark)
        .dropDuplicatesWithinWatermark(["_h", "_h2", "_len"])
        .drop("norm_text", "_h", "_h2", "_len")
    )


def run_stream_to_memory(spark, src_df_stream: DataFrame, window_us: int | None = None,
                         query_name: str = "stream_tier1",
                         agg: DataFrame | None = None,
                         output_mode: str = "append") -> DataFrame:
    """Drive a bounded source to completion synchronously (test/demo mode)."""
    if agg is None:
        agg = streaming_tier1(src_df_stream, window_us)
    q = (
        agg.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(query_name)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return spark.sql(f"SELECT * FROM {query_name}")
