"""get_spark's defaults are sized from the host, not fixed numbers; local_frame's
frames hold their rows in this process and plan them in the JVM on demand."""

import os
import threading

import pandas as pd
import pytest
from pyspark.sql import SparkSession
from pyspark.sql.classic.dataframe import DataFrame as _ClassicFrame

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


# the driver-resident frames of local_frame: rows held in this process

FRAMES = {
    "batch": ("query_id string, rank int, doc_id long, score double",
              [("q0", 1, 2**50 + 3, 0.1 + 0.2), ("q0", 2, 7, 1e-300),
               ("q1 ünï", 1, 0, 12.345678901234567), ("q1 ünï", 2, 64, 5e-324)]),
    "scores": ("doc_id long, score double", [(9, 2.5), (2**40, 1 / 3), (4, 1e300)]),
}


def _frame(spark, name, empty, as_pandas=False):
    schema, rows = FRAMES[name]
    rows = [] if empty else rows
    if as_pandas and rows:
        rows = pd.DataFrame(rows)
    return session.local_frame(spark, schema, rows)


def _jvm_frame(df):
    """The JVM relation behind a driver frame, as a plain DataFrame."""
    return _ClassicFrame(df._jdf, df.sparkSession)


def _bits(rows):
    """Rows as (field names, (type, value)...) with floats as their bits."""
    return [(tuple(r.__fields__), tuple(
        (type(v), v.hex() if isinstance(v, float) else v) for v in r)) for r in rows]


@pytest.mark.parametrize("empty", [False, True])
@pytest.mark.parametrize("name", sorted(FRAMES))
def test_driver_frame_collects_the_jvm_rows(spark, name, empty):
    """collect() returns what the JVM relation's collect returns: same
    order, Row field names, Python types and float bits, from tuples and
    from a pandas frame; schema and columns are the parsed DDL's."""
    for as_pandas in (False, True):
        df = _frame(spark, name, empty, as_pandas)
        assert isinstance(df, session.DriverFrame)
        got = df.collect()
        want = _jvm_frame(df).collect()
        assert _bits(got) == _bits(want)
        assert [r.asDict() for r in got] == [r.asDict() for r in want]
        assert len(got) == (0 if empty else len(FRAMES[name][1]))
        assert df.schema == _jvm_frame(df).schema
        assert df.columns == [c.split()[0] for c in FRAMES[name][0].split(",")]


@pytest.mark.parametrize("empty", [False, True])
@pytest.mark.parametrize("name", sorted(FRAMES))
def test_driver_frame_plans_in_the_jvm(spark, tmp_path, name, empty):
    """Every other use plans the rows in the JVM: select, filter, a join
    with a parquet scan, write.parquet and toPandas."""
    df = _frame(spark, name, empty)
    rows = df.collect()
    assert df.select("doc_id").collect() == [(r["doc_id"],) for r in rows]
    assert df.filter("doc_id > 8").collect() == [r for r in rows if r["doc_id"] > 8]
    side = str(tmp_path / "side")
    spark.createDataFrame([(r["doc_id"], f"d{r['doc_id']}") for r in rows] + [(-1, "none")],
                          "doc_id long, name string").write.parquet(side)
    joined = df.join(spark.read.parquet(side), "doc_id").collect()
    assert sorted((r["doc_id"], r["name"]) for r in joined) == sorted(
        (r["doc_id"], f"d{r['doc_id']}") for r in rows)
    out = str(tmp_path / "out")
    df.write.parquet(out)
    assert sorted(spark.read.parquet(out).collect()) == sorted(rows)
    pdf = df.toPandas()
    assert list(pdf.columns) == df.columns
    assert [tuple(r) for r in pdf.itertuples(index=False)] == [tuple(r) for r in rows]


@pytest.mark.parametrize("empty", [False, True])
def test_driver_frame_builds_its_relation_once(spark, monkeypatch, empty):
    """The JVM relation is built on first use and at most once, also
    when 4 threads touch ``_jdf`` at once; collect() builds none."""
    builds = []
    for meth in ("createDataFrame", "sql"):
        orig = getattr(SparkSession, meth)

        def counted(self, *a, _orig=orig, **kw):
            builds.append(a)
            return _orig(self, *a, **kw)

        monkeypatch.setattr(SparkSession, meth, counted)
    df = _frame(spark, "batch", empty)
    df.collect()
    assert builds == []
    start = threading.Barrier(4)
    got, errors = [], []

    def touch():
        try:
            start.wait()
            got.append(df._jdf)
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(repr(e))

    threads = [threading.Thread(target=touch) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert errors == [] and len(got) == 4
    assert len(builds) == 1 and all(j is got[0] for j in got)
    df.select("doc_id").collect()
    df.toPandas()
    assert len(builds) == 1
