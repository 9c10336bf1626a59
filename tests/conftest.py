import os
import sys
import uuid

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark_codesearch.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
# lazy oracles (entry_queries.oracle_sf_dir) must compute their VALUES
# literals from the SAME SF dir the test queries run against
os.environ.setdefault("SPARK_GRAFT_ORACLE_SF_DIR", SF_DIR)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("codesearch-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def _jobs_started_by(spark, fn) -> list[int]:
    """Ids of the Spark jobs ``fn()`` starts, counted through a fresh
    job group and the status tracker."""
    sc = spark.sparkContext
    group = f"contract-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job starts reach the tracker
    return list(sc.statusTracker().getJobIdsForGroup(group))
