"""Python workers re-read a zip archive's directory only when the archive
changed (the package's ``_reuse_unchanged_zip_directories``): before
CPython 3.13 every ``importlib.invalidate_caches()`` — one per Spark task —
parses every archive on ``sys.path`` again."""

import importlib
import sys
import zipfile
import zipimport

import pytest

import sorting_compressed_time_series_spark as engine

pytestmark = pytest.mark.skipif(
    sys.version_info >= (3, 13), reason="CPython 3.13 re-reads zip directories lazily itself")


@pytest.fixture
def patched(monkeypatch):
    """The patch installed in this process for one test, and a counter of
    archive directory reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    engine._reuse_unchanged_zip_directories()
    reads = []
    read_directory = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read_directory(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    return reads


def _zip(path, modules: dict[str, str]) -> str:
    with zipfile.ZipFile(path, "w") as z:
        for name, source in modules.items():
            z.writestr(f"{name}.py", source)
    return str(path)


def test_unchanged_zip_is_not_reread(tmp_path, patched):
    archive = _zip(tmp_path / "mods.zip", {"zc_unchanged_a": "X = 1\n"})
    importer = zipimport.zipimporter(archive)
    del patched[:]  # the constructor's own read
    for _ in range(3):
        importer.invalidate_caches()
    assert patched == [archive]  # read once to stamp it, then reused
    assert importer.find_spec("zc_unchanged_a") is not None


def test_rewritten_zip_is_reread_and_new_module_imports(tmp_path, patched, monkeypatch):
    archive = _zip(tmp_path / "mods.zip", {"zc_rewritten_a": "X = 1\n"})
    monkeypatch.syspath_prepend(archive)
    for name in ("zc_rewritten_a", "zc_rewritten_b"):
        monkeypatch.delitem(sys.modules, name, raising=False)
    assert importlib.import_module("zc_rewritten_a").X == 1
    del patched[:]  # the importer's own read
    importlib.invalidate_caches()
    importlib.invalidate_caches()
    assert patched.count(archive) == 1
    _zip(archive, {"zc_rewritten_a": "X = 1\n", "zc_rewritten_b": "Y = 2\n"})
    importlib.invalidate_caches()
    assert patched.count(archive) == 2
    assert importlib.import_module("zc_rewritten_b").Y == 2


def test_spark_worker_tasks_reuse_zip_directories(spark):
    """Inside a Python worker the package installs the patch when a task
    first imports it, so every later task's ``invalidate_caches`` runs the
    patched function; the driver's is untouched."""

    def probe(batches):
        import os
        import zipimport

        import pyarrow as pa

        import sorting_compressed_time_series_spark  # noqa: F401  (installs the patch)

        fn = zipimport.zipimporter.invalidate_caches
        for _ in batches:
            pass
        yield pa.RecordBatch.from_pydict({
            "pid": [os.getpid()],
            "active": [bool(getattr(fn, "keeps_unchanged", False))],
            "calls": [int(getattr(fn, "calls", 0))]})

    df = spark.range(0, 16, numPartitions=16).mapInArrow(
        probe, "pid long, active boolean, calls long")
    rows = df.collect() + df.collect()
    assert all(r.active for r in rows)
    by_worker: dict[int, list[int]] = {}
    for r in rows:
        by_worker.setdefault(r.pid, []).append(r.calls)
    # a worker's first task imported the package after its own
    # invalidate_caches call; every later task called the patched one
    assert all(sum(c == 0 for c in calls) <= 1 for calls in by_worker.values()), by_worker
    assert any(len(calls) > 1 for calls in by_worker.values()), by_worker
    assert not getattr(zipimport.zipimporter.invalidate_caches, "keeps_unchanged", False)
