"""Driver contract for the spark-graft builder (PySpark target).

entry(spark)    — flagship BM25 top-k over /root/testdata/sf0.001 documents.
queries()       — one callable per search behaviour and operator (entry_queries).
oracle_sql()    — matching ANSI SQL for DuckDB (same parquet views).

Column names are aliased identically on both sides (the driver's compare
sorts columns by name and value-hashes). Float aggregates are rounded to 4
decimals on BOTH sides to absorb summation-order noise.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from pyspark_codesearch import entry_queries  # noqa: E402


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    entry() stays on search_wand: it exercises the scale path
    (compressed block-max segments + MaxScore pruning) even though the
    cost-dispatched product path (engine.search_topk_auto) is faster at
    this SF. Forced WAND is rank-identical to the exact scorer (the
    bm25_wand_* entries share the exact path's SQL oracle); perfbench
    measures the serving routes."""
    from pyspark_codesearch.engine import documents_engine

    eng = documents_engine(spark, "/root/testdata/sf0.001")
    return eng.search_wand("spark filter join query", k=20)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return entry_queries.QUERIES


def oracle_sql() -> dict[str, str]:
    # materializes lazy oracles (VALUES literals computed from the
    # comparison SF dir — default /root/testdata/sf0.01, the driver's gate)
    return entry_queries.oracle_sql_dict()
