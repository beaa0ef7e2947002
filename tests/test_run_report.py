"""``tools/run_report.py --warehouse`` on a canned manifest."""

import importlib.util
import json
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
spec = importlib.util.spec_from_file_location("run_report",
                                              os.path.join(ROOT, "tools", "run_report.py"))
run_report = importlib.util.module_from_spec(spec)
spec.loader.exec_module(run_report)

CHUNKS = {
    "snapshot": "snap-2", "version": 3, "watermark_us": None, "segments": ["seg-3"],
    "lineage": [
        {"op": "ingest", "wall_s": 0.812, "input_wait_s": 0.25, "kernel_s": 0.5,
         "write_s": 0.125, "tasks": 4, "input": "files", "rows": 8000, "bytes": 11_000_000,
         "files": 32, "version": 1},
        {"op": "compact:20", "wall_s": 1.5, "rows": 7980, "bytes": 10_900_000, "files": 8,
         "version": 2},
        {"op": "append", "segment": "seg-3", "wall_s": 0.5, "input_wait_s": 0.125,
         "kernel_s": 0.25, "write_s": 0.0625, "tasks": 2, "input": "scan", "rows": 8020,
         "bytes": 11_000_000, "files": 10, "version": 3},
    ],
    "prepared": {"version": 2, "dir": "_staging/chunks_tier0.v2.prepared",
                 "tiers": [["tier1_1s", 1_000_000]],
                 "tables": {"tier1_1s": {"rows": 228_236, "input_wait_s": 0.0,
                                         "kernel_s": 0.25, "write_s": 0.125}}},
}
TIER = {
    "snapshot": "snap-1", "version": 1, "watermark_us": 1_700_003_600_000_000,
    "lineage": [{"op": "promote:full-fused", "wall_s": 0.5, "input_wait_s": 0.0625,
                 "kernel_s": 0.75, "write_s": 0.375, "tasks": 4, "rows": 228_236,
                 "bytes": 5_000_000, "files": 8, "version": 1},
                {"op": "promote:full", "wall_s": 0.001, "input_wait_s": 0.0,
                 "kernel_s": 0.25, "write_s": 0.125, "prepared_by": 2, "rows": 228_236,
                 "bytes": 5_000_000, "files": 8, "version": 2}],
}


def test_warehouse_report_prints_every_lineage_entry(tmp_path, capsys):
    for table, m in (("chunks_tier0", CHUNKS), ("tier1_1s", TIER)):
        os.makedirs(tmp_path / table)
        (tmp_path / table / "_manifest.json").write_text(json.dumps(m))
    os.makedirs(tmp_path / "_staging")  # not a table
    assert run_report.main(["--warehouse", str(tmp_path)]) == 0
    assert capsys.readouterr().out.splitlines() == [
        "== chunks_tier0: version 3, snapshot snap-2, watermark None",
        "  prepared by v2 in _staging/chunks_tier0.v2.prepared: tier1_1s 228236 rows",
        "  v1 ingest: 8000 rows  11.0 MB  32 files  wall 0.812 s  "
        "tasks input 0.250 s  kernel 0.500 s  write 0.125 s  4 tasks, input files",
        "  v2 compact:20: 7980 rows  10.9 MB  8 files  wall 1.500 s",
        "  v3 append: 8020 rows  11.0 MB  10 files  wall 0.500 s  "
        "tasks input 0.125 s  kernel 0.250 s  write 0.062 s  2 tasks, input scan",
        "== tier1_1s: version 1, snapshot snap-1, watermark 1700003600000000",
        "  v1 promote:full-fused: 228236 rows  5.0 MB  8 files  wall 0.500 s  "
        "tasks input 0.062 s  kernel 0.750 s  write 0.375 s  4 tasks",
        "  v2 promote:full: 228236 rows  5.0 MB  8 files  wall 0.001 s  "
        "tasks input 0.000 s  kernel 0.250 s  write 0.125 s  computed by ingest v2",
    ]


def test_usage_without_arguments(capsys):
    assert run_report.main([]) == 2
    assert run_report.main(["--warehouse"]) == 2
    assert "--warehouse <root>" in capsys.readouterr().err
