"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same code runs on local[N] here and would run on a
1000-executor cluster unchanged: AQE on (runtime re-plan + skew-join), Arrow
on (vectorized python boundary), shuffle partitions sized by parallelism.
:func:`local_frame` turns small driver-side tables into DataFrames without
a Python task.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import DataFrame, SparkSession


def host_cpus() -> int:
    """CPUs this process may run on (its affinity set, not the machine's
    core count: a container pinned to 4 of 64 cores gets 4)."""
    return len(os.sched_getaffinity(0))


def host_driver_memory() -> str:
    """Default driver heap: half of the host's physical memory (MemTotal),
    capped at 16g, at least 1g. Local mode runs the driver and every
    executor in ONE JVM, but the Arrow python workers, the OS page cache
    and the python driver need the other half — a heap sized past the
    host lets the JVM grow until the kernel kills something. 16g is what
    the largest (x128) corpus ever needed."""
    total = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(16, total // 2**31))}g"


def get_spark(
    app_name: str = "pyspark-codesearch",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or str(host_cpus())
    master = master or os.environ.get("SPARK_GRAFT_MASTER") or f"local[{cpus}]"
    if shuffle_partitions is None:
        # match parallelism on local mode; a real cluster would set this
        # to ~2-3x total cores (or rely on AQE coalescing, which is on).
        try:
            n = int(master.split("[")[1].rstrip("]").replace("*", str(host_cpus())))
        except (IndexError, ValueError):
            n = host_cpus()
        shuffle_partitions = max(n, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # 64k-row Arrow batches for the narrow posting/lens rows that
        # dominate the python boundary (measured -11% on the segment
        # encoder at 13.9M postings); memory for fat rows (media blobs)
        # stays bounded by Spark 4's maxBytesPerBatch default of 64 MB,
        # which caps a batch by bytes regardless of the record count.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # heap sized from the host (see host_driver_memory)
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY") or host_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.sql.session.timeZone", "UTC")
    )
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()


def local_frame(spark: SparkSession, schema: str, rows=()) -> DataFrame:
    """A driver-side table (``rows``: tuples or a pandas frame) as a
    DataFrame that starts no Python task.

    ``spark.createDataFrame(list, schema)`` pickles its rows through a
    Python RDD, so every action on it runs ``defaultParallelism`` Python
    worker tasks: collecting an empty one took 0.52–0.55 s (local[4],
    4-core host). Pandas through Arrow plans a LocalRelation, whose
    ``collect()`` runs no job (57–59 ms with the build). Arrow refuses
    an empty pandas frame, so no rows becomes ``SELECT ... WHERE
    false``, which the optimizer folds to an empty LocalRelation
    (29–45 ms).
    ``schema`` is a DDL string of ``name type`` pairs."""
    cols = [c.split() for c in schema.split(",")]
    if len(rows) == 0:
        nulls = ", ".join(f"CAST(NULL AS {t}) AS {n}" for n, t in cols)
        return spark.sql(f"SELECT {nulls} WHERE false")
    if not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(list(rows), columns=[n for n, _ in cols])
    return spark.createDataFrame(rows, schema)
