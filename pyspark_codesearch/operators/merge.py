"""Table-format surface: keyed MERGE/upsert and DELETE-by-id.

The reference gets idempotent upsert from deterministic ES ``_id``s
(es_indexer.py:176-179) and row removal from delete-by-id
(es_indexer.py:442-472). Over parquet/Iceberg-shaped tables the same
semantics are: ``merge_upsert`` (delta rows replace base rows on key,
base-only rows survive — the MERGE WHEN MATCHED UPDATE / WHEN NOT
MATCHED INSERT shape) and ``delete_by_ids`` (anti-join against a
broadcast delete list — DELETE FROM t WHERE key IN (...)).

Scale notes: merge_upsert is ONE hash shuffle on the key (the window);
with a real Iceberg catalog the same plan backs ``MERGE INTO`` via a
copy-on-write of matched files only. delete_by_ids broadcasts the id
list — no shuffle of the big side at all.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..session import local_frame


def merge_upsert(base: DataFrame, delta: DataFrame, key: str = "doc_id") -> DataFrame:
    """Keyed upsert: for every key, the delta row wins; keys only in base
    are kept; keys only in delta are inserted. Deterministic: one
    row_number window per key ordered by source priority (delta=0).

    Output columns = base's columns + ``src`` (0 where the delta row won,
    1 where the base row survived) so callers/tests can see both branches.
    """
    cols = base.columns
    d = delta.select(*cols).withColumn("src", F.lit(0))
    b = base.select(*cols).withColumn("src", F.lit(1))
    # tie-break beyond src by every remaining column: if a caller passes a
    # delta with duplicate keys, the winner is still deterministic
    # (lexicographically smallest row) instead of partition-order luck
    w = Window.partitionBy(key).orderBy("src", *[c for c in cols if c != key])
    return (
        d.unionByName(b)
        .withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def delete_by_ids(df: DataFrame, ids: Sequence, key: str = "doc_id") -> DataFrame:
    """DELETE FROM df WHERE key IN (ids) — broadcast anti-join so the big
    side never shuffles (an IN-list filter would also work for literal
    lists; the anti-join shape generalizes to a delete-table side)."""
    spark = df.sparkSession
    dels = local_frame(spark, f"{key} {dict(df.dtypes)[key]}", [(i,) for i in ids])
    return df.join(F.broadcast(dels), key, "left_anti")


def merge_upsert_docs_sql() -> str:
    """DuckDB oracle for the ``merge_upsert_docs`` driver entry (the
    deterministically-derived delta defined in entry_queries)."""
    return """
WITH base AS (
  SELECT doc_id, substring(text, 1, 16) AS payload FROM documents
),
delta AS (
  SELECT doc_id, 'updated:' || CAST(doc_id AS VARCHAR) AS payload
  FROM documents WHERE doc_id % 7 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new:' || CAST(doc_id AS VARCHAR) AS payload
  FROM documents WHERE doc_id < 5
),
u AS (
  SELECT doc_id, payload, src,
         row_number() OVER (PARTITION BY doc_id ORDER BY src) AS rn
  FROM (
    SELECT doc_id, payload, 0 AS src FROM delta
    UNION ALL
    SELECT doc_id, payload, 1 AS src FROM base
  )
)
SELECT doc_id, payload, src FROM u WHERE rn = 1 ORDER BY doc_id
"""


def delete_by_ids_sql(ids: Sequence[int]) -> str:
    idlist = ", ".join(str(int(i)) for i in ids)
    return f"""
SELECT doc_id, lang, n_chars FROM documents
WHERE doc_id NOT IN ({idlist}) ORDER BY doc_id
"""
