"""SparkSession factory with scale-oriented defaults.

Defaults are tuned so the same code runs on local[N] here and would run on a
1000-executor cluster unchanged: AQE on (runtime re-plan + skew-join), Arrow
on (vectorized python boundary), shuffle partitions sized by parallelism.
:func:`local_frame` turns small driver-side tables into DataFrames held in
this process (:class:`DriverFrame`), whose ``collect()`` makes no JVM
call; :func:`read_rows` brings a frame's rows to the driver, a
bare parquet scan without a Spark job.

Driver-side memos shared by threads (lineage's scan cache, the listing
memo of :func:`read_rows`) are guarded by :data:`MEMO_LOCK`.
"""

from __future__ import annotations

import os
import threading
import weakref
from urllib.parse import unquote, urlparse

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, Row, SparkSession
from pyspark.sql.classic.dataframe import DataFrame as _ClassicFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import _create_row


# One lock for the driver-side memos that threads share: the scans
# lineage keeps per index version and the listing memo of read_rows.
MEMO_LOCK = threading.Lock()


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


# DDL string -> its parsed StructType and Arrow schema; a schema does not
# depend on the session, and a race only parses one twice
_STRUCTS: dict[str, tuple[T.StructType, pa.Schema]] = {}


class DriverFrame(_ClassicFrame):
    """A DataFrame whose rows are held in this process, as Lucene hands
    back ``TopDocs`` from the process that scored them. ``collect()``
    builds its ``Row``s here, with no JVM call, and ``schema`` and
    ``columns`` come from the parsed ``StructType``. Every other method
    reaches the rows through ``_jdf``, which builds the JVM relation on
    first use — an Arrow LocalRelation of the rows, or ``SELECT ...
    WHERE false`` for none — once per frame, under a lock, so threads
    that touch it at once share one build. Frames derived from this
    one (``select``, ``join``, ...) are plain JVM DataFrames."""

    def __new__(cls, *args, **kwargs):
        # the classic __new__ takes (jdf, session) and calls __init__ itself
        return object.__new__(cls)

    def __init__(self, spark: SparkSession, struct: T.StructType, arrow: pa.Schema,
                 rows: pd.DataFrame | None):
        self._session = spark
        self._sc = spark._sc
        self.is_cached = False
        self._support_repr_html = False
        self._struct, self._arrow, self._rows = struct, arrow, rows
        self._built = None
        self._build_lock = threading.Lock()

    @property
    def schema(self) -> T.StructType:
        return self._struct

    @property
    def _jdf(self):
        with self._build_lock:
            if self._built is None:
                if self._rows is None:
                    nulls = ", ".join(f"CAST(NULL AS {f.dataType.simpleString()}) AS {f.name}"
                                      for f in self._struct)
                    frame = self._session.sql(f"SELECT {nulls} WHERE false")
                else:
                    frame = self._session.createDataFrame(self._rows, self._struct)
                self._built = frame._jdf
            return self._built

    def collect(self) -> list[Row]:
        """The rows, with the values the JVM relation holds: each column,
        taken by position, converted to its Arrow type as
        ``createDataFrame`` converts it (nulls and NaNs to ``None``, no
        overflow check), then to Python values."""
        if self._rows is None:
            return []
        cols = [
            pa.Array.from_pandas(col, mask=col.isnull().to_numpy(), type=f.type,
                                 safe=False).to_pylist()
            for (_, col), f in zip(self._rows.items(), self._arrow)
        ]
        names = self._struct.names
        return [_create_row(names, vals) for vals in zip(*cols)]


def local_frame(spark: SparkSession, schema: str, rows=()) -> DataFrame:
    """A driver-side table (``rows``: tuples or a pandas frame) as a
    :class:`DriverFrame`: ``collect()`` returns the rows with no Spark
    job and no JVM call, and any other use plans them in the JVM once.

    ``spark.createDataFrame(list, schema)`` pickles its rows through a
    Python RDD, so every action on it runs ``defaultParallelism`` Python
    worker tasks: collecting an empty one took 0.52–0.55 s (local[4],
    4-core host). The JVM relation behind a frame is pandas through
    Arrow, a LocalRelation whose actions run no job (57–59 ms to build
    and collect); Arrow refuses an empty pandas frame, so no rows
    becomes ``SELECT ... WHERE false``, which the optimizer folds to an
    empty LocalRelation (29–45 ms). A caller that only collects — the
    WAND driver route's callers — pays neither.
    ``schema`` is a DDL string of ``name type`` pairs; it is parsed once
    and the parsed ``StructType`` kept."""
    parsed = _STRUCTS.get(schema)
    if parsed is None:
        struct = T.StructType.fromDDL(schema)
        parsed = _STRUCTS[schema] = (struct, to_arrow_schema(struct))
    struct, arrow = parsed
    if len(rows) == 0:
        rows = None
    elif not isinstance(rows, pd.DataFrame):
        rows = pd.DataFrame(list(rows), columns=struct.names)
    return DriverFrame(spark, struct, arrow, rows)


def in_expr(col: str, values):
    """``col IN (...)`` as ONE SQL string. ``F.col(..).isin(list)`` costs
    a py4j round-trip per literal — at 64 touched salts plus the term
    list that was ~460 py4j calls (~60 ms measured) of per-query PLAN
    BUILD latency; the expr string is a single call and plans to the
    same Catalyst ``In`` (pushdown unchanged). String values are
    backslash- and single-quote-escaped (analyzer tokens never contain
    either, but the helper should not rely on that — Spark SQL string
    literals process backslash escapes by default).

    Only all-``str`` or all-integer (bool excluded) lists are accepted:
    anything else — None, floats, bools, a mix — raises TypeError instead
    of being stringified into a wrong predicate."""
    vals = list(values)
    if not vals:
        # SQL `IN ()` does not parse; match isin([])'s semantics
        return F.lit(False)
    if all(isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in vals):
        body = ", ".join(str(int(v)) for v in vals)
    elif all(isinstance(v, str) for v in vals):
        body = ", ".join(
            "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals
        )
    else:
        raise TypeError(
            f"in_expr takes all-str or all-int values, got "
            f"{sorted({type(v).__name__ for v in vals})}"
        )
    return F.expr(f"{col} IN ({body})")


# column types whose Arrow to_pandas dtype is the one toPandas gives
_PLAIN_TYPES = (T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
                T.IntegerType, T.LongType, T.FloatType, T.DoubleType)


# DataFrame -> the file listing of its relation, or None when it is no
# bare parquet relation (see _relation_files). A plan's listing never
# changes; entries go with their DataFrame.
_LISTINGS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()
_UNSEEN = object()


def _relation_files(df: DataFrame) -> list[str] | None:
    """The local files of ``df``'s relation when its analyzed plan is a
    ``LogicalRelation`` over a parquet ``HadoopFsRelation`` with nothing
    on top and no partition columns, and every column has a plain type;
    else ``None``."""
    if not all(isinstance(f.dataType, _PLAIN_TYPES) for f in df.schema):
        return None
    plan = df._jdf.queryExecution().analyzed()
    if plan.getClass().getSimpleName() != "LogicalRelation":
        return None
    rel = plan.relation()
    if (rel.getClass().getSimpleName() != "HadoopFsRelation"
            or rel.fileFormat().getClass().getSimpleName() != "ParquetFileFormat"
            or not rel.partitionSchema().isEmpty()):
        return None
    uris = [urlparse(u) for u in rel.inputFiles()]
    if any(u.scheme != "file" for u in uris):
        return None
    return [unquote(u.path) for u in uris]


def _parquet_files(df: DataFrame) -> list[str] | None:
    """The local files of ``df`` when it is a bare parquet scan, else
    ``None``. Bare: a parquet relation with nothing on top (see
    :func:`_relation_files`) and no cached copy. The files are the
    relation's listing — what ``df.inputFiles()`` returns, without its
    optimizer pass — so a scan of a pinned version directory stays on
    that version, and hidden files are already left out. The listing is
    looked up once per DataFrame object (a dozen py4j calls); whether
    the frame is cached can change, so that is asked on every call."""
    with MEMO_LOCK:
        files = _LISTINGS.get(df, _UNSEEN)
    if files is _UNSEEN:
        files = _relation_files(df)
        with MEMO_LOCK:
            _LISTINGS[df] = files
    if files is None or df._jdf.storageLevel().isValid():
        return None
    return files


def read_rows(df: DataFrame, where: dict | None = None, *, fallback=None) -> pd.DataFrame:
    """``df``'s rows whose column ``c`` holds one of ``where[c]``, for
    every ``c``, as a pandas frame with ``toPandas``'s dtypes.

    A bare parquet scan (what ``lineage.read_table`` and
    ``lineage.load_segments`` return) is read in this process by
    pyarrow, as a Lucene reader opens its segment files: no Spark job,
    whose fixed start-up cost is most of a small read (two overlapping
    collects took ~62 ms each; pyarrow read the same rows in ~4 ms).
    Partition discovery is off, so version directory names never become
    columns, and the table is cast to ``df``'s schema. The relation's
    listing is memoized per DataFrame object, so a frame read again (the
    scans lineage keeps per index version, a client's side tables) costs
    two py4j calls, the check for a cached copy. Any other frame —
    cached, filtered, unioned, in memory — is collected through Arrow:
    ``fallback()`` if given (its plan is built only then), else ``df``
    filtered by ``where``."""
    where = where or {}
    files = _parquet_files(df)
    if files is None:
        if fallback is not None:
            return fallback().toPandas()
        for col, vals in where.items():
            df = df.filter(in_expr(col, vals))
        return df.toPandas()
    schema = to_arrow_schema(df.schema)
    if not files:
        return schema.empty_table().to_pandas()
    cond = None
    for col, vals in where.items():
        e = pc.field(col).isin(pa.array(list(vals), schema.field(col).type))
        cond = e if cond is None else cond & e
    table = pq.read_table(files, columns=schema.names, filters=cond, partitioning=None)
    return table.cast(schema).to_pandas()
