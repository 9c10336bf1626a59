"""get_spark's defaults are sized from the host, not fixed numbers."""

import os

import pytest

from pyspark_codesearch import session

ENV = ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_CPUS", "SPARK_DRIVER_MEMORY")


class _Builder:
    """Stands in for SparkSession.builder: records what get_spark sets."""

    def __init__(self):
        self.conf = {}

    def appName(self, name):
        return self

    def master(self, m):
        self.conf["master"] = m
        return self

    def config(self, k, v):
        self.conf[k] = v
        return self

    def getOrCreate(self):
        return self.conf


@pytest.fixture
def conf_of(monkeypatch):
    for k in ENV:
        monkeypatch.delenv(k, raising=False)

    def run(**kw):
        fake = type("FakeSession", (), {"builder": _Builder()})
        monkeypatch.setattr(session, "SparkSession", fake)
        return session.get_spark(**kw)

    return run


def test_defaults_follow_host(conf_of):
    cpus = len(os.sched_getaffinity(0))
    conf = conf_of()
    assert conf["master"] == f"local[{cpus}]"
    assert conf["spark.sql.shuffle.partitions"] == str(max(cpus, 8))
    assert conf["spark.driver.memory"] == session.host_driver_memory()


def test_environment_and_explicit_settings_win(conf_of, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert conf_of()["master"] == "local[3]"
    monkeypatch.setenv("SPARK_GRAFT_MASTER", "local[2]")
    assert conf_of()["master"] == "local[2]"
    monkeypatch.setenv("SPARK_DRIVER_MEMORY", "3g")
    assert conf_of()["spark.driver.memory"] == "3g"
    conf = conf_of(master="local[5]", extra_conf={"spark.driver.memory": "2g"})
    assert conf["master"] == "local[5]"
    assert conf["spark.driver.memory"] == "2g"


@pytest.mark.parametrize(
    "gib, heap", [(0.5, "1g"), (4, "2g"), (15, "7g"), (15.5, "7g"), (32, "16g"), (256, "16g")]
)
def test_driver_memory_is_half_the_host_capped(monkeypatch, gib, heap):
    page = 4096
    pages = int(gib * 2**30) // page
    monkeypatch.setattr(
        session.os, "sysconf", {"SC_PAGE_SIZE": page, "SC_PHYS_PAGES": pages}.__getitem__
    )
    assert session.host_driver_memory() == heap
