"""Per-stage report of a Spark event log, grouped by job group; or the
commit log of a warehouse.

    python tools/run_report.py <eventlog-dir>
    python tools/run_report.py --warehouse <root>

For each job group (jobs without one are listed under ``(none)``), in the
order the groups first ran, prints each job with its wall and description,
then each stage that ran: task count, stage wall, summed executor run and
CPU time, and shuffle bytes written and read. Stages a job skipped (reused
shuffle output) are left out. A task count above the session's cores means
the stage ran in more than one task wave.

Enable the log with ``spark.eventLog.enabled=true`` and
``spark.eventLog.dir=<eventlog-dir>`` (``perfbench/run.py --trace 1`` does).

With ``--warehouse``, prints every table's lineage entries from its
``_manifest.json`` (no Spark, no event log): op, rows, bytes, files, wall
time, and for a commit whose tasks wrote their own files the seconds they
spent blocked on input, in the kernel and writing, summed over tasks, and
the number of tasks; for an ingest or append also where its tasks' input
came from (``files``: read by the tasks themselves, ``scan``: Spark's
scan). A tier commit of rows a fresh ingest computed names that ingest's version;
a chunk table whose ingest staged tier rows not yet committed shows its
prepared record (the version, and each tier's staged rows).
"""

from __future__ import annotations

import json
import os
import sys
from collections import defaultdict

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from perfbench.eventlog import read_events  # noqa: E402


def fold(events) -> dict[str, list[dict]]:
    """{group: [job]} with each job's stages, in event order."""
    groups: dict[str, list[dict]] = defaultdict(list)
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    for e in events:
        kind = e.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            job = {"id": e["Job ID"], "start": e["Submission Time"], "end": None,
                   "desc": props.get("spark.job.description") or "", "stages": []}
            jobs[job["id"]] = job
            groups[props.get("spark.jobGroup.id") or "(none)"].append(job)
            for sid in e.get("Stage IDs", []):
                stages[sid] = {"id": sid, "tasks": 0, "run_s": 0.0, "cpu_s": 0.0,
                               "shuffle_w": 0, "shuffle_r": 0, "wall_s": None, "name": ""}
                job["stages"].append(stages[sid])
        elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
            jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stages:
            st, tm = stages[e["Stage ID"]], e.get("Task Metrics") or {}
            sr = tm.get("Shuffle Read Metrics") or {}
            st["tasks"] += 1
            st["run_s"] += tm.get("Executor Run Time", 0) / 1e3
            st["cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            st["shuffle_w"] += (tm.get("Shuffle Write Metrics") or {}).get(
                "Shuffle Bytes Written", 0)
            st["shuffle_r"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
        elif kind == "SparkListenerStageCompleted":
            si = e["Stage Info"]
            st = stages.get(si["Stage ID"])
            if st is not None and "Submission Time" in si:
                st["wall_s"] = (si["Completion Time"] - si["Submission Time"]) / 1e3
                st["name"] = si.get("Stage Name", "")
    return groups


def _mb(n: float) -> str:
    return f"{n / 1e6:.1f} MB"


def report(groups: dict[str, list[dict]]) -> str:
    lines = []
    for group, jobs in groups.items():
        ran = [[s for s in j["stages"] if s["wall_s"] is not None] for j in jobs]
        lines.append(f"== {group}: {len(jobs)} jobs, "
                     f"{sum(s['tasks'] for st in ran for s in st)} tasks")
        for job, stages in zip(jobs, ran):
            wall = (job["end"] - job["start"]) / 1e3 if job["end"] is not None else float("nan")
            lines.append(f"  job {job['id']}: {wall:.2f} s  {job['desc']}".rstrip())
            for s in stages:
                lines.append(
                    f"    stage {s['id']}: {s['tasks']} tasks  wall {s['wall_s']:.2f} s  "
                    f"run {s['run_s']:.2f} s  cpu {s['cpu_s']:.2f} s  "
                    f"shuffle write {_mb(s['shuffle_w'])} read {_mb(s['shuffle_r'])}  "
                    f"{s['name'].split(' at ')[0]}")
    return "\n".join(lines)


TASK_TIMERS = (("input_wait_s", "input"), ("kernel_s", "kernel"), ("write_s", "write"))


def warehouse_report(root: str) -> str:
    """Every table's lineage entries, tables in name order."""
    lines = []
    for table in sorted(os.listdir(root)):
        path = os.path.join(root, table, "_manifest.json")
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            m = json.load(f)
        lines.append(f"== {table}: version {m['version']}, snapshot {m['snapshot']}, "
                     f"watermark {m['watermark_us']}")
        rec = m.get("prepared")
        if rec:
            lines.append(f"  prepared by v{rec['version']} in {rec['dir']}: " + ", ".join(
                f"{name} {t['rows']} rows" for name, t in rec["tables"].items()))
        for e in m["lineage"]:
            line = (f"  v{e.get('version', '?')} {e.get('op', '?')}: {e.get('rows', 0)} rows  "
                    f"{_mb(e.get('bytes', 0))}  {e.get('files', 0)} files  "
                    f"wall {e.get('wall_s', float('nan')):.3f} s")
            if all(k in e for k, _ in TASK_TIMERS):
                line += "  tasks " + "  ".join(f"{name} {e[k]:.3f} s" for k, name in TASK_TIMERS)
            if "tasks" in e:
                line += f"  {e['tasks']} tasks"
            if "input" in e:
                line += f", input {e['input']}"
            if "prepared_by" in e:
                line += f"  computed by ingest v{e['prepared_by']}"
            lines.append(line)
    return "\n".join(lines)


def main(argv: list[str]) -> int:
    if len(argv) == 2 and argv[0] == "--warehouse":
        print(warehouse_report(argv[1]))
        return 0
    if len(argv) != 1 or argv[0].startswith("-"):
        print(__doc__.strip(), file=sys.stderr)
        return 2
    print(report(fold(read_events(argv[0]))))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
