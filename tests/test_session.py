"""`get_spark`'s shipped defaults, read off the builder without starting
Spark."""

from types import SimpleNamespace

import pytest

from sorting_compressed_time_series_spark import session


class _Builder:
    def __init__(self):
        self.conf = {}

    def master(self, _):
        return self

    def appName(self, _):
        return self

    def config(self, key, value):
        self.conf[key] = value
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _: None))


@pytest.mark.parametrize("host_gib, env, heap", [
    (16, None, "8192m"),       # half of a 16 GiB host
    (200, None, "49152m"),     # capped at 48 GiB
    (16, "3g", "3g"),          # SPARK_DRIVER_MEM wins
])
def test_driver_heap_defaults_to_half_the_host(monkeypatch, host_gib, env, heap):
    page = 4096
    sysconf = {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": (host_gib << 30) // page}
    monkeypatch.setattr(session.os, "sysconf", sysconf.__getitem__)
    if env is None:
        monkeypatch.delenv("SPARK_DRIVER_MEM", raising=False)
    else:
        monkeypatch.setenv("SPARK_DRIVER_MEM", env)
    builder = _Builder()
    monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=builder))
    session.get_spark(cores=1)
    assert builder.conf["spark.driver.memory"] == heap
