"""Window framing variants beyond tumbling/sliding time windows.

IoTDB's GROUP BY variants (reference window managers,
datanode/.../execution/operator/window/*.java — TimeWindow, SessionWindow,
CountWindow, VariationWindow, ConditionWindow), expressed as pure
DataFrame/SQL "islands" constructions (lag + cumulative sum over an
ordered window) so Catalyst keeps them whole-stage-codegen'd.

All functions take a points-like DataFrame and return it with a window/group
id column; aggregation on top is a plain groupBy.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window as W, functions as F


def natural_month(ts_col: str) -> Column:
    """Calendar-aligned month buckets (IoTDB GROUP BY ([t1,t2), 1mo) — the
    reference's PreAggrWindowWithNaturalMonthIterator, datanode/.../
    aggregation/timerangeiterator/PreAggrWindowWithNaturalMonthIterator.java):
    months have irregular lengths, so the bucket is date_trunc, not integer
    division. Returns the month start as epoch-µs (session TZ is pinned
    UTC, matching the DuckDB oracle's naive timestamps)."""
    return F.unix_micros(F.date_trunc("month", F.timestamp_micros(F.col(ts_col))))


def sliding_windows(df: DataFrame, ts_col: str, interval_us: int, step_us: int) -> DataFrame:
    """Each point joins every window [w, w+interval) containing it; windows
    start at multiples of step (IoTDB GROUP BY ([t1,t2), interval, step)).
    Implemented with sequence+explode — no UDF, no range join."""
    # exact integer `div`, not double `/` + cast: epoch-microsecond
    # timestamps (~1.8e18) pass 2^53, where a float64 ulp is 256, so double
    # division can put a boundary-exact timestamp in the wrong window.
    # ceil(a/step) for positive a = (a + step - 1) div step; non-positive a
    # is clamped to window 0 by the greatest() below either way.
    first = F.expr(
        f"(({ts_col} - {interval_us - 1} + {step_us - 1}) div {step_us}) * {step_us}"
    )
    last = F.expr(f"({ts_col} div {step_us}) * {step_us}")
    return df.withColumn(
        "window_start",
        F.explode(F.sequence(F.greatest(first, F.lit(0)), last, F.lit(step_us))),
    )


def session_windows(df: DataFrame, key: str, ts_col: str, gap_us: int) -> DataFrame:
    """New session when the gap to the previous point exceeds ``gap_us``
    (SessionWindow semantics): lag + cumsum islands."""
    w = W.partitionBy(key).orderBy(ts_col)
    is_new = (
        F.col(ts_col) - F.lag(ts_col).over(w) > gap_us
    ).cast("int")
    return df.withColumn(
        "session_id",
        F.sum(F.coalesce(is_new, F.lit(1))).over(
            w.rowsBetween(W.unboundedPreceding, 0)
        ),
    )


def count_windows(df: DataFrame, key: str, ts_col: str, n: int,
                  tiebreak: str | None = None) -> DataFrame:
    """Fixed-size count windows in time order (CountWindow)."""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = W.partitionBy(key).orderBy(*order)
    return df.withColumn(
        "count_window", ((F.row_number().over(w) - 1) / n).cast("bigint")
    )


def condition_windows(df: DataFrame, key: str, ts_col: str, predicate: Column,
                      tiebreak: str | None = None) -> DataFrame:
    """Maximal runs of consecutive points satisfying ``predicate``
    (ConditionWindow keep-value semantics): islands over the filtered set.
    group id = (#predicate-false points seen so far); rows failing the
    predicate are dropped, runs keep a stable id."""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = W.partitionBy(key).orderBy(*order).rowsBetween(W.unboundedPreceding, 0)
    tagged = df.withColumn("_miss", (~predicate).cast("bigint"))
    return (
        tagged.withColumn("condition_group", F.sum("_miss").over(w))
        .filter(predicate)
        .drop("_miss")
    )


def variation_windows_eq(df: DataFrame, key: str, ts_col: str, value_col: str,
                         tiebreak: str | None = None) -> DataFrame:
    """VariationWindow(delta=0): consecutive equal values form one window.
    (The general delta>0 form is inherently sequential — each window is
    anchored at its own first element; that variant lives in
    ``variation_windows_delta`` below as a grouped pandas kernel.)"""
    order = [ts_col] + ([tiebreak] if tiebreak else [])
    w = W.partitionBy(key).orderBy(*order)
    changed = (
        (F.col(value_col) != F.lag(value_col).over(w))
        | F.lag(value_col).over(w).isNull()
    ).cast("int")
    return df.withColumn(
        "variation_group",
        F.sum(F.coalesce(changed, F.lit(1))).over(w.rowsBetween(W.unboundedPreceding, 0)),
    )


def variation_windows_delta(df: DataFrame, key: str, ts_col: str, value_col: str,
                            delta: float) -> DataFrame:
    """General VariationWindow: a window breaks when |v - first_of_window| >
    delta. Sequential per series in the ANCHORS only — so the per-series
    sort and grouping run JVM-side (``sort_array(collect_list(struct))``,
    whole-stage codegen) and one ``mapInArrow`` kernel scans every complete
    series in an Arrow batch. The old per-group ``applyInPandas`` built a
    pandas frame per series, which dominated the wall on many-small-series
    inputs (1 500 × ~67-point series at sf0.1: the kernel itself is
    microseconds per series).

    ``ts_col`` leads the collected struct so ``sort_array`` orders by time;
    the remaining struct fields break ts ties, making the scan order a
    DETERMINISTIC total order — (ts, value, ...) — rather than arrival
    order. This is the operator's defined tie semantics (anchored windows
    are order-dependent, so ties need *some* total order to be
    reproducible); the streaming twin sorts each micro-batch the same way,
    diverging only when a tie straddles a trigger boundary. The gate
    fixtures are tie-free, so the choice is unobservable there."""
    import numpy as np
    import pyarrow as pa

    fields = [ts_col] + [f.name for f in df.schema.fields
                         if f.name not in (key, ts_col)]
    # the explicit repartition IS the aggregation's one exchange (the
    # groupBy reuses it): list building/sorting runs behind the shuffle at
    # core-count parallelism instead of inside the scan stage's partial
    # aggregate (a single-row-group parquet source scans as ONE task)
    par = df.sparkSession.sparkContext.defaultParallelism
    collected = df.repartition(par, key).groupBy(key).agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("pts")
    )
    out_schema = ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    ) + ", variation_group bigint"
    # plain-string column list: the kernel closure must not capture `df`
    # (a DataFrame pins the driver-only SparkContext and cannot pickle)
    out_names = [f.name for f in df.schema.fields]

    def kern(batches):
        for b in batches:
            if b.num_rows == 0:
                continue
            pts = b.column("pts")
            if isinstance(pts, pa.ChunkedArray):
                pts = pts.combine_chunks()
            offs = pts.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
            offs = offs - offs[0]
            flat = pts.flatten()
            v = flat.field(value_col).to_numpy(zero_copy_only=False)
            group = np.empty(len(v), dtype=np.int64)
            for s in range(b.num_rows):
                lo, hi = int(offs[s]), int(offs[s + 1])
                # blocked break-scan: Python iterations are O(n_windows +
                # n/block), not O(n). The block ramps 64 → 4096 so short
                # windows don't pay a full 4096-element scan per anchor
                # while long windows still amortize to full-width slices.
                g, i = 0, lo
                while i < hi:
                    anchor = v[i]
                    nxt = hi
                    j, blk = i + 1, 64
                    while j < hi:
                        hits = np.flatnonzero(
                            np.abs(v[j:min(j + blk, hi)] - anchor) > delta
                        )
                        if len(hits):
                            nxt = j + int(hits[0])
                            break
                        j += blk
                        blk = min(blk * 2, 4096)
                    group[i:nxt] = g
                    g += 1
                    i = nxt
            counts = offs[1:] - offs[:-1]
            idx = pa.array(np.repeat(np.arange(b.num_rows), counts))
            cols, names = [], []
            for name in out_names:
                if name == key:
                    cols.append(b.column(key).take(idx))
                else:
                    cols.append(flat.field(name))
                names.append(name)
            cols.append(pa.array(group))
            names.append("variation_group")
            yield pa.RecordBatch.from_arrays(cols, names=names)

    return collected.mapInArrow(kern, schema=out_schema)
