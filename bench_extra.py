"""Extra benchmarks (guide §1.4): per-query wall isolation outside the
frozen bench.py. Times each registered query with the SAME methodology as
bench.py's sweep (`.count()` after a warm session) by default, or with the
noop sink (`--noop`) to force every column of every row.

Usage:
  python bench_extra.py [--noop] [--reps N] [query ...]

Env: SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1),
     SPARK_GRAFT_CPUS (default: the CPUs this process may run on).

Prints one JSON line: {"queries": {name: best_sec}, "reps": N, "mode": ...}.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def main() -> None:
    args = [a for a in sys.argv[1:]]
    noop = "--noop" in args
    reps = 1
    if "--reps" in args:
        i = args.index("--reps")
        reps = int(args[i + 1])
        del args[i : i + 2]
    only = {a for a in args if not a.startswith("--")}

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", len(os.sched_getaffinity(0))))

    from sorting_compressed_time_series_spark.queries import SPARK_QUERIES
    from sorting_compressed_time_series_spark.session import get_spark

    unknown = only - set(SPARK_QUERIES)
    if unknown:
        print(f"unknown queries: {sorted(unknown)}", file=sys.stderr)
        raise SystemExit(2)

    spark = get_spark(app="bench_extra", cores=cpus,
                      shuffle_partitions=max(cpus, 8))
    # same warmup as bench.py's sweep: fork python workers + warehouse plans
    from sorting_compressed_time_series_spark.operators.ingest import flush
    from sorting_compressed_time_series_spark.sources.synth import generate_tokens_df

    n = spark.sparkContext.defaultParallelism * 20
    flush(generate_tokens_df(spark, n)).write.mode("overwrite").format("noop").save()
    try:
        SPARK_QUERIES["tokens_pipeline_tiers"](spark, "/root/testdata/sf0.001").count()
    except Exception:  # noqa: BLE001
        pass

    qtimes: dict[str, float] = {}
    for name, fn in SPARK_QUERIES.items():
        if only and name not in only:
            continue
        best = None
        for _ in range(reps):
            spark.sparkContext.setJobDescription(f"bench_extra:{name}")
            t0 = time.perf_counter()
            try:
                df = fn(spark, sf_dir)
                if noop:
                    df.write.format("noop").mode("overwrite").save()
                else:
                    df.count()
                dt = time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001
                print(f"query {name} failed: {e}", file=sys.stderr)
                dt = -1.0
                best = dt
                break
            best = dt if best is None else min(best, dt)
        qtimes[name] = round(best, 3)
        spark.sparkContext.setJobDescription(None)
    spark.stop()
    print(json.dumps({"queries": qtimes, "reps": reps,
                      "mode": "noop" if noop else "count", "sf_dir": sf_dir}))


if __name__ == "__main__":
    main()
