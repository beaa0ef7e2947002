"""Sort microbenchmark: compressed-domain sort against decode-sort-reencode.

Follows the reference's MemtableSortTest protocol (BASELINE.md). It uses
nearly sorted pages of 10k, 100k and 1M points. ``ts[i] = i*STEP + jitter``,
and a given share of the points is displaced up to 40 steps backwards.
The time column is delta-encoded and the value column varint-encoded. For
each page the tool times these, best of ``--reps`` repetitions of at
least 200k points each:

- ``rotate``: `compressed_sort` forced down its run-move path
  (``inversion_threshold=1.0``);
- ``compressed_sort``: the default regime switch
  (``ROTATION_INVERSION_THRESHOLD``), which picks rotate or re-encode;
- ``sort_reencode``: decode, stable sort, re-encode.

It also takes each path's tracemalloc peak in a separate run. Every output
is checked byte for byte against ``sort_reencode``. The tool prints one
JSON document on stdout: a row per page, and the crossover. The crossover
is the descent ratio (descents / points) below which ``rotate`` beats
``sort_reencode`` at every page size.

    python tools/sort_microbench.py                     # full grid, ~1 min
    python tools/sort_microbench.py --sizes 10000 --reps 5
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import sys
import time
import tracemalloc

import numpy as np

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), ".."))

from sorting_compressed_time_series_spark.codecs.bytealigned import (  # noqa: E402
    delta_encode,
    varint_encode,
)
from sorting_compressed_time_series_spark.operators.compressed_sort import (  # noqa: E402
    ROTATION_INVERSION_THRESHOLD,
    compressed_sort,
    sort_reencode,
)

STEP = 100_000
PATHS = {
    "rotate": lambda t, v: compressed_sort(t, v, inversion_threshold=1.0),
    "compressed_sort": compressed_sort,
    "sort_reencode": sort_reencode,
}


def nearly_sorted(rng: np.random.Generator, n: int, rate: float) -> tuple[np.ndarray, np.ndarray]:
    ts = np.arange(n, dtype=np.int64) * STEP + rng.integers(0, STEP // 2, n)
    k = max(1, round(n * rate))
    idx = rng.choice(np.arange(1, n), k, replace=False)
    ts[idx] -= rng.integers(1, 40 * STEP, k)
    return ts, rng.integers(-10_000, 10_001, n).astype(np.int64)


def _planes(out) -> tuple[bytes, bytes]:
    t, v = out[0], out[1]
    return t.vals.tobytes() + t.codes.tobytes(), v.vals.tobytes() + v.codes.tobytes()


def measure(n: int, rate: float, reps: int, rng: np.random.Generator) -> dict:
    ts, vs = nearly_sorted(rng, n, rate)
    t, v = delta_encode(ts), varint_encode(vs)
    want = _planes(sort_reencode(t, v))
    row = {
        "points": n,
        "ooo_rate": rate,
        "descents_per_point": float(np.count_nonzero(ts[1:] < ts[:-1]) / n),
        "ns_per_point": {},
        "peak_bytes": {},
    }
    for name, fn in PATHS.items():
        out = fn(t, v)
        if _planes(out) != want:
            raise AssertionError(f"{name} {n}@{rate}: not byte-identical to sort_reencode")
        if name == "rotate":
            row["runs"] = out[2]["patched_codes"]
        if name == "compressed_sort":
            row["path"] = out[2]["path"]
        loops = max(1, 200_000 // n)  # >= 200k points per timed rep
        best = float("inf")
        for _ in range(reps):
            t0 = time.perf_counter()
            for _ in range(loops):
                fn(t, v)
            best = min(best, (time.perf_counter() - t0) / loops)
        row["ns_per_point"][name] = round(best * 1e9 / n, 1)
        tracemalloc.start()
        fn(t, v)
        row["peak_bytes"][name] = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
    return row


def crossover(rows: list[dict]) -> dict:
    """Largest descent ratio at which rotate still wins at every size, and
    the smallest at which it loses at some size."""
    wins = [r["descents_per_point"] for r in rows
            if r["ns_per_point"]["rotate"] < r["ns_per_point"]["sort_reencode"]]
    losses = [r["descents_per_point"] for r in rows
              if r["ns_per_point"]["rotate"] >= r["ns_per_point"]["sort_reencode"]]
    lose_from = min(losses, default=None)
    win_upto = max((w for w in wins if lose_from is None or w < lose_from), default=None)
    return {"rotate_wins_up_to": win_upto, "rotate_loses_from": lose_from}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--sizes", default="10000,100000,1000000")
    ap.add_argument("--rates", default="0.0001,0.001,0.003,0.005,0.007,0.01,0.02,0.1",
                    help="shares of displaced points")
    ap.add_argument("--reps", type=int, default=5)
    ap.add_argument("--seed", type=int, default=1)
    a = ap.parse_args()
    rng = np.random.default_rng(a.seed)
    rows = [measure(int(n), float(r), a.reps, rng)
            for n in a.sizes.split(",") for r in a.rates.split(",")]
    print(json.dumps({
        "host": {"machine": platform.machine(), "cpus": os.cpu_count(),
                 "python": platform.python_version(), "numpy": np.__version__},
        "seed": a.seed,
        "reps": a.reps,
        "rotation_inversion_threshold": ROTATION_INVERSION_THRESHOLD,
        "rows": rows,
        "crossover": crossover(rows),
    }, indent=1))


if __name__ == "__main__":
    main()
