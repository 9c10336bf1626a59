"""Paper metadata enrichment: extracted paper rows ⋈ a metadata table.

Distributed re-expression of the reference ingest's metadata merge
(ingest_papers.py:72-129, :241-269, :319-326): the metadata value wins,
the value extracted from the paper's content is the fallback.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def enrich_with_metadata(
    extracted: DataFrame,
    meta: DataFrame,
    key: str = "paper_id",
    fields: tuple[str, ...] = ("title", "abstract", "authors", "categories", "publish_date"),
) -> DataFrame:
    """J1: content-extraction ⋈ metadata table with per-field coalesce
    fallback (reference ingest_papers.py:72-129 loads a JSON metadata
    table keyed by arxiv id; :241-269/:319-326 prefer the metadata value
    and fall back to the regex-extracted one when the meta row or field
    is missing).

    Scale shape: the metadata table is a small dimension — broadcast it;
    the extracted side never shuffles. Left join: content rows without
    metadata keep their extracted values.
    """
    present = [f for f in fields if f in meta.columns and f in extracted.columns]
    m = meta.select(key, *[F.col(f).alias(f"_meta_{f}") for f in present])
    out = extracted.join(F.broadcast(m), key, "left")
    for f in present:
        out = out.withColumn(f, F.coalesce(F.col(f"_meta_{f}"), F.col(f))).drop(f"_meta_{f}")
    return out
