"""Interleaved A/B of one perfbench workload: a base revision against the
working tree.

    python3 tools/ab.py <base-rev> --workload bulk_load --seed 31 --pairs 10 \\
        [--seconds 15] [--workdir DIR]

Exports ``<base-rev>`` with ``git archive`` into ``--workdir`` (a new temp
dir by default), then runs ``perfbench/run.py --trace 0`` once per side and
pair, base first in odd pairs and change first in even ones. Prints every
run as it finishes (its end-to-end metrics, then the workload's own named
metrics, e.g. ``append_merge``'s ``compact_s``), then for each end-to-end
metric of ``BENCHMARK.json``:
both medians, the base's IQR, the pairs the change won, and whether a gain
holds (at least 10 pairs, the change wins >= 9 of 10 of them and the
gap between the medians exceeds the base's IQR) or the change is worse
than the metric's bound.
Run it from the repository root; the workload's seed should be one not
used while developing the change.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile

import numpy as np

WIN_SHARE = 0.9  # a gain needs the change to win >= 9 of 10 pairs
MIN_PAIRS = 10  # ... of at least 10 pairs: 6 of 6 is no claim


def end_to_end(root: str) -> list[dict]:
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)["end_to_end"]


def export(rev: str, dest: str) -> str:
    """``git archive`` of ``rev`` unpacked into ``dest``."""
    os.makedirs(dest, exist_ok=True)
    archive = subprocess.run(["git", "archive", rev], check=True, capture_output=True).stdout
    subprocess.run(["tar", "-x", "-C", dest], input=archive, check=True)
    return dest


def run_once(tree: str, workload: str, seed: int, seconds: float) -> dict:
    """One untraced perfbench run in ``tree``: its end-to-end metric values
    plus ``correct``, ``failed`` and ``workload`` (its named metrics)."""
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", "0"],
        cwd=tree, capture_output=True, text=True)
    if out.returncode != 0:
        raise RuntimeError(f"perfbench failed in {tree}:\n{out.stderr[-3000:]}")
    named, last = map(json.loads, out.stdout.strip().splitlines()[-2:])
    run = {k: v["value"] for k, v in last["metrics"].items()}
    run.update(correct=last["correct"], failed=last["failed"],
               workload={k: v["value"] for k, v in named["workload_metrics"].items()})
    return run


def summarize(base: list[dict], change: list[dict], metrics: list[dict]) -> list[dict]:
    """Per metric, over pairs ``(base[i], change[i])``: both medians, the
    base's IQR, the change's wins, whether a gain holds, and whether the
    change is worse than the metric's bound."""
    out = []
    for m in metrics:
        name, lower = m["name"], m["better"] == "lower"
        b = np.array([r[name] for r in base], dtype=float)
        c = np.array([r[name] for r in change], dtype=float)
        q1, q3 = np.percentile(b, [25, 75])
        med_b, med_c = float(np.median(b)), float(np.median(c))
        wins = int(np.sum(c < b) if lower else np.sum(c > b))
        gap = med_b - med_c if lower else med_c - med_b
        worse = (med_c - med_b if lower else med_b - med_c) / abs(med_b) if med_b else 0.0
        out.append({"name": name, "unit": m["unit"], "base_median": med_b,
                    "change_median": med_c, "ratio": med_c / med_b if med_b else float("nan"),
                    "base_iqr": float(q3 - q1), "wins": wins, "pairs": len(b),
                    "gain_holds": (len(b) >= MIN_PAIRS and wins >= WIN_SHARE * len(b)
                                   and gap > q3 - q1),
                    "beyond_bound": worse > m["bound"]})
    return out


def report(rows: list[dict]) -> str:
    lines = [f"{'metric':<12} {'base':>12} {'change':>12} {'ratio':>7} {'base IQR':>10} "
             f"{'wins':>6}  verdict"]
    for r in rows:
        verdict = ("gain holds" if r["gain_holds"] else
                   "WORSE than bound" if r["beyond_bound"] else "no claimable gain")
        lines.append(f"{r['name']:<12} {r['base_median']:>12.4g} {r['change_median']:>12.4g} "
                     f"{r['ratio']:>7.3f} {r['base_iqr']:>10.4g} "
                     f"{r['wins']:>3}/{r['pairs']:<2}  {verdict}")
    return "\n".join(lines)


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base_rev")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--workdir", help="where the base is exported (default: a new temp dir)")
    args = ap.parse_args(argv)

    root = os.getcwd()
    metrics = end_to_end(root)
    workdir = args.workdir or tempfile.mkdtemp(prefix="ab-")
    base_tree = os.path.join(workdir, "base")
    shutil.rmtree(base_tree, ignore_errors=True)
    export(args.base_rev, base_tree)
    names = [m["name"] for m in metrics]
    runs: dict[str, list[dict]] = {"base": [], "change": []}
    try:
        for i in range(args.pairs):
            order = ("base", "change") if i % 2 == 0 else ("change", "base")
            for side in order:
                run = run_once(base_tree if side == "base" else root,
                               args.workload, args.seed, args.seconds)
                runs[side].append(run)
                print(json.dumps({"pair": i + 1, "side": side, "correct": run["correct"],
                                  "failed": run["failed"],
                                  **{n: round(run[n], 4) for n in names},
                                  "workload": run["workload"]}), flush=True)
    finally:
        if not args.workdir:
            shutil.rmtree(workdir, ignore_errors=True)
    print(report(summarize(runs["base"], runs["change"], metrics)))
    return 0 if all(r["correct"] for side in runs.values() for r in side) else 1


if __name__ == "__main__":
    raise SystemExit(main())
