"""spark-submit entry point for the full engine pipeline.

Cluster launch (the north-rule deployment shape):

    zip -r engine.zip sorting_compressed_time_series_spark
    spark-submit --py-files engine.zip jobs/run_pipeline.py \
        --docs 1000000 --warehouse /data/wh --seed 42 [--now-us N] [--resume]

Local proxy for the N-vs-4N scaling run:

    SPARK_GRAFT_CPUS=8  python jobs/run_pipeline.py --docs 100000 --warehouse /tmp/wh8
    SPARK_GRAFT_CPUS=32 python jobs/run_pipeline.py --docs 100000 --warehouse /tmp/wh32
    # then compare tier tables (they must be identical) and wall times

Stages: synth/ingest → flush (sort+encode, tier-0 chunks) → promotion with
checkpoint (tier1 1s / tier2 1m / tier3 1h) → TTL retention. Prints one
JSON line of stage walls + table stats.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--docs", type=int, default=10_000)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--now-us", type=int, default=None)
    ap.add_argument("--resume", action="store_true",
                    help="skip ingest; resume promotion from the checkpoint")
    ap.add_argument("--append-docs", type=int, default=0,
                    help="after the base ingest+promotion, append this many "
                         "further docs (manifest-add segment) and re-promote "
                         "(per-key MERGE of just the appended docs' windows)")
    ap.add_argument("--compact", action="store_true",
                    help="after promotion, merge multi-chunk series into one "
                         "chunk each (maintenance compaction)")
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from sorting_compressed_time_series_spark.plans.pipeline import Pipeline
    from sorting_compressed_time_series_spark.session import get_spark
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df
    from sorting_compressed_time_series_spark.sources.warehouse import Warehouse

    spark = get_spark(app="tsrollup-pipeline")
    p = Pipeline(spark, Warehouse(args.warehouse))
    out: dict = {"docs": args.docs, "warehouse": args.warehouse}

    if not args.resume:
        t0 = time.perf_counter()
        p.ingest(generate_tokens_df(spark, args.docs, args.seed), args.seed)
        out["t_ingest"] = round(time.perf_counter() - t0, 2)

    t0 = time.perf_counter()
    out["promotion"] = p.promote_all()
    out["t_promote"] = round(time.perf_counter() - t0, 2)

    if args.append_docs:
        t0 = time.perf_counter()
        p.ingest(generate_tokens_df(spark, args.append_docs, args.seed,
                                    start=args.docs), args.seed, append=True)
        out["promotion_after_append"] = p.promote_all()
        out["t_append"] = round(time.perf_counter() - t0, 2)

    if args.compact:
        t0 = time.perf_counter()
        out["compaction"] = p.compact()
        out["t_compact"] = round(time.perf_counter() - t0, 2)

    if args.now_us is not None:
        out["retention"] = p.retain(args.now_us)

    for spec in p.tiers:
        if p.warehouse.exists(spec.name):
            df = p.warehouse.read(spark, spec.name)
            out[spec.name] = {
                "rows": df.count(),
                "watermark_us": p.warehouse.watermark(spec.name),
            }
    # tier-0 chunk rows: the points as flushed
    chunks = p.warehouse.read(spark, "chunks_tier0").filter(F.col("tier") == 0)
    agg = chunks.agg(
        F.sum("count"), F.sum("bytes_raw"),
        F.sum(F.col("bytes_time") + F.col("bytes_value")),
    ).collect()[0]
    out["tokens"] = int(agg[0])
    out["compression_ratio"] = round(int(agg[2]) / int(agg[1]), 4)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
