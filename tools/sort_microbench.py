"""Sort microbenchmark: compressed-domain sort against decode-sort-reencode.

Follows the reference's MemtableSortTest protocol (BASELINE.md). It uses
nearly sorted pages of 10k, 100k and 1M points. ``ts[i] = i*STEP + jitter``,
and a given share of the points is displaced up to 40 steps backwards.
The time column is delta-encoded and the value column varint-encoded. For
each page the tool times these, best of ``--reps`` repetitions of at
least 200k points each:

- ``rotate``: `compressed_sort` forced down its run-move path
  (``inversion_threshold=1.0``): descents from the delta sign bits, only
  the disorder windows decoded and sorted, runs moved as byte slices;
- ``compressed_sort``: the default regime switch
  (``ROTATION_INVERSION_THRESHOLD``), which picks rotate or re-encode;
- ``sort_reencode``: decode, stable sort, re-encode.

It also takes each path's tracemalloc peak in a separate run. Every output
is checked byte for byte against ``sort_reencode``. The crossover is the
descent ratio (descents / points) below which ``rotate`` beats
``sort_reencode`` at every page size.

Two more sections, independent of ``--sizes`` and ``--rates``:

- ``merge``: the CompactionSorterTest shape, four sorted pages of 10, 25,
  50, 100 and 1k points each, disjoint (``merge_pages`` splices) and
  overlapping (it k-way merges), against decoding every page, stable
  sorting and re-encoding (``reencode``). Each stack also goes through
  both merge kernels, the Python-int one (``short``) and the numpy one
  (``numpy``). ns per merged point; every output equals the canonical
  encode of the stable-sorted union. Its crossover is the largest stack
  (points) up to which ``short`` wins on both paths, which sets
  ``page_merge._SHORT``.
- ``codec``: ns per element of the payload gather and emit, lane path
  against width-class path, at 10 to 1M elements of three payload mixes:
  the deltas of a nearly sorted page, small values (1-2 bytes) and all
  four widths evenly. Its crossover is the largest size at which the lanes
  win both directions on every mix, which sets ``bytealigned._SMALL``.

The tool prints one JSON document on stdout.

    python tools/sort_microbench.py                     # full grid, ~2 min
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

from sorting_compressed_time_series_spark.codecs import bytealigned as ba  # noqa: E402
from sorting_compressed_time_series_spark.codecs.bytealigned import (  # noqa: E402
    delta_decode,
    delta_encode,
    varint_decode,
    varint_encode,
)
from sorting_compressed_time_series_spark.operators.compressed_sort import (  # noqa: E402
    ROTATION_INVERSION_THRESHOLD,
    compressed_sort,
    sort_reencode,
)
from sorting_compressed_time_series_spark.operators import page_merge as pm  # noqa: E402
from sorting_compressed_time_series_spark.operators.page_merge import merge_pages  # noqa: E402

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


def _best(fn, reps: int, n: int, *args) -> float:
    """Best wall of ``reps`` timed repetitions of ``fn(*args)``, each of at
    least 200k elements' worth of calls, in ns per element."""
    loops = max(1, 200_000 // n)
    best = float("inf")
    for _ in range(reps):
        t0 = time.perf_counter()
        for _ in range(loops):
            fn(*args)
        best = min(best, (time.perf_counter() - t0) / loops)
    return round(best * 1e9 / n, 1)


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
            row["decoded_elements"] = out[2]["decoded_elements"]
        if name == "compressed_sort":
            row["path"] = out[2]["path"]
        row["ns_per_point"][name] = _best(fn, reps, n, t, v)
        tracemalloc.start()
        fn(t, v)
        row["peak_bytes"][name] = tracemalloc.get_traced_memory()[1]
        tracemalloc.stop()
    return row


def _reencode_merge(tp, vp):
    """Baseline merge: decode every page, stable sort, encode both columns."""
    ts = np.concatenate([delta_decode(t) for t in tp])
    order = np.argsort(ts, kind="stable")
    vs = np.concatenate([varint_decode(v) for v in vp])
    return delta_encode(ts[order]), varint_encode(vs[order])


def measure_merge(page: int, overlap: bool, reps: int, rng: np.random.Generator) -> dict:
    """Four sorted pages of ``page`` points: consecutive slices of one
    series (disjoint) or every fourth point of a jittered one (overlap)."""
    base = np.arange(4 * page, dtype=np.int64) * STEP
    if overlap:
        base = np.sort(base + rng.integers(-3 * STEP, 3 * STEP, base.size))
        ts_pages = [base[k::4] for k in range(4)]
    else:
        ts_pages = [base[page * k:page * (k + 1)] for k in range(4)]
    vs_pages = [rng.integers(-10_000, 10_001, page).astype(np.int64) for _ in ts_pages]
    tp, vp = [delta_encode(t) for t in ts_pages], [varint_encode(v) for v in vs_pages]
    want = _planes(_reencode_merge(tp, vp))
    mt, mv, lineage = merge_pages(tp, vp)
    kernels = {"short": pm._merge_short, "numpy": pm._merge_stacked}
    for name, fn in kernels.items():
        if _planes(fn(tp, vp)) != want:
            raise AssertionError(f"{name} merge 4x{page}: not the canonical encode")
    if _planes((mt, mv)) != want:
        raise AssertionError(f"merge_pages 4x{page}: not the canonical encode")
    n = 4 * page
    return {"page_points": page, "pages": 4, "path": lineage["path"],
            "ns_per_point": {lineage["path"]: _best(merge_pages, reps, n, tp, vp),
                             **{name: _best(fn, reps, n, tp, vp) for name, fn in kernels.items()},
                             "reencode": _best(_reencode_merge, reps, n, tp, vp)}}


def merge_crossover(rows: list[dict]) -> dict:
    """Largest stack (points) up to which the short kernel wins on every
    path, and the smallest stack at which it loses one."""
    def wins(n):
        return all(r["ns_per_point"]["short"] < r["ns_per_point"]["numpy"]
                   for r in rows if r["pages"] * r["page_points"] == n)
    sizes = sorted({r["pages"] * r["page_points"] for r in rows})
    lose_from = min((n for n in sizes if not wins(n)), default=None)
    win_upto = max((n for n in sizes if wins(n) and (lose_from is None or n < lose_from)),
                   default=None)
    return {"short_wins_up_to": win_upto, "short_loses_from": lose_from}


CODEC_SIZES = (10, 100, 1000, 1500, 2000, 2500, 3000, 4000, 10_000, 100_000, 1_000_000)


def codec_mixes(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    """Zigzag codes of three payload mixes, ``n`` elements each."""
    ts = nearly_sorted(rng, n + 1, 0.001)[0]
    return {
        "page_deltas": ba.zigzag(np.diff(ts)),
        "small_values": ba.zigzag(rng.integers(-10_000, 10_001, n)),
        "all_widths": rng.integers(0, 2**63, n).astype(np.uint64)
        >> (8 * rng.choice([7, 6, 4, 0], n)).astype(np.uint64),
    }


def measure_codec(n: int, reps: int, rng: np.random.Generator) -> dict:
    row = {"elements": n, "ns_per_element": {}}
    for mix, zz in codec_mixes(rng, n).items():
        codes = ba._classify(zz)
        vals = ba._emit_classes(zz, codes)
        if ba._emit_lanes(zz, codes).tobytes() != vals.tobytes() or not (
            np.array_equal(ba._gather_lanes(vals, codes), zz)
            and np.array_equal(ba._gather_classes(vals, codes), zz)
        ):
            raise AssertionError(f"codec {mix} n={n}: lane and width-class paths differ")
        row["ns_per_element"][mix] = {
            "emit_lanes": _best(ba._emit_lanes, reps, n, zz, codes),
            "emit_classes": _best(ba._emit_classes, reps, n, zz, codes),
            "gather_lanes": _best(ba._gather_lanes, reps, n, vals, codes),
            "gather_classes": _best(ba._gather_classes, reps, n, vals, codes),
        }
    return row


def codec_crossover(rows: list[dict]) -> dict:
    """Largest size up to which the lanes win both directions on every mix,
    and the smallest size at which they lose one."""
    def wins(r):
        return all(t[f"{op}_lanes"] < t[f"{op}_classes"]
                   for t in r["ns_per_element"].values() for op in ("emit", "gather"))
    lose_from = min((r["elements"] for r in rows if not wins(r)), default=None)
    win_upto = max((r["elements"] for r in rows
                    if wins(r) and (lose_from is None or r["elements"] < lose_from)), default=None)
    return {"lanes_win_up_to": win_upto, "lanes_lose_from": lose_from}


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
    merges = [measure_merge(page, overlap, a.reps, rng)
              for page in (10, 25, 50, 100, 1000) for overlap in (False, True)]
    codec = [measure_codec(n, a.reps, rng) for n in CODEC_SIZES]
    print(json.dumps({
        "host": {"machine": platform.machine(), "cpus": os.cpu_count(),
                 "python": platform.python_version(), "numpy": np.__version__},
        "seed": a.seed,
        "reps": a.reps,
        "rotation_inversion_threshold": ROTATION_INVERSION_THRESHOLD,
        "rows": rows,
        "crossover": crossover(rows),
        "merge": {"rows": merges, "crossover": merge_crossover(merges)},
        "short_stack": pm._SHORT,
        "small_column": ba._SMALL,
        "codec": {"rows": codec, "crossover": codec_crossover(codec)},
    }, indent=1))


if __name__ == "__main__":
    main()
