"""build_session's defaults fit the host it runs on (Spark-free: the
builder is replaced by a recorder, so no JVM starts)."""

import os
from types import SimpleNamespace

import pytest

from baselinr_spark import session


class _RecordingBuilder:
    def __init__(self):
        self.conf = {}

    def master(self, m):
        self.conf["master"] = m
        return self

    def appName(self, _name):
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda _l: None))


@pytest.fixture()
def recorded(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    monkeypatch.delenv("SPARK_DRIVER_MEMORY", raising=False)

    def build(**kw):
        b = _RecordingBuilder()
        monkeypatch.setattr(session, "SparkSession", SimpleNamespace(builder=b))
        session.build_session(**kw)
        return b.conf

    return build


def test_defaults_fit_host(recorded, monkeypatch):
    cpus = len(os.sched_getaffinity(0))
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    conf = recorded()
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(8, cpus))
    assert conf["spark.driver.memory"] == f"{min(16 << 10, ram_mb // 2)}m"
    # a master without a core count sizes shuffles from the host, too
    conf = recorded(master="local[*]")
    assert conf["spark.sql.shuffle.partitions"] == str(max(8, cpus))
    # explicit env vars still override
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "12")
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    conf = recorded()
    assert conf["master"] == "local[12]"
    assert conf["spark.sql.shuffle.partitions"] == "12"
    assert conf["spark.driver.memory"] == "3g"
