"""Incremental index maintenance.

- :func:`incremental_index` — readStream over a docs parquet directory,
  each micro-batch's raw rows written to a docs-delta table
  (foreachBatch) with their ``batch_id``; tokenizing and building
  postings is left to the compaction, which ingests the delta through
  the index upsert. ``Trigger.AvailableNow`` drains everything
  pending then stops: the streaming-native version of the reference's
  resume-from-paper-id batch loop (ingest_papers.py:491-497); the
  checkpoint dir replaces its manual resume bookkeeping.
  foreachBatch alone is at-least-once — a crash between the delta write
  and the checkpoint commit re-delivers the batch on restart — so each
  batch write is made IDEMPOTENT: the table is partitioned by ``batch_id``
  with dynamic partition overwrite, and a re-delivered batch (same
  batch_id, same input files) overwrites its own partition instead of
  appending duplicates. Doc ids pass through from the input unchanged
  (they are deterministic at the source — the same idempotency property
  as the reference's deterministic ES _id, es_indexer.py:176-179).
  Compaction of the delta into the base index reuses the index upsert
  (lineage.upsert_index).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

DOCS_STREAM_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"


def incremental_index(
    spark: SparkSession,
    input_dir: str,
    out_dir: str,
    *,
    await_termination: bool = True,
):
    """Drain all pending files from input_dir into the docs-delta table.

    Returns the StreamingQuery (already finished if await_termination).
    """

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # idempotent on re-delivery: overwrite ONLY this batch_id partition
        # (dynamic mode), so a crash-replayed batch replaces its own output
        (
            batch_df.withColumn("batch_id", F.lit(batch_id))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id")
            .parquet(f"{out_dir}/docs_delta")
        )

    stream = (
        spark.readStream.schema(DOCS_STREAM_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(input_dir)
    )
    q = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", f"{out_dir}/_checkpoint")
        .trigger(availableNow=True)
        .start()
    )
    if await_termination:
        q.awaitTermination()
    return q


def compact_delta_into_index(spark: SparkSession, index_dir: str, delta_dir: str) -> dict:
    """Fold the streamed ``docs_delta`` into a lineage-built base index —
    the compaction half of the streaming story (reference analogue: the
    periodic full reindex, full_pipeline.py; Iceberg analogue: rewriting
    delta files into the base snapshot).

    Uses :func:`pyspark_codesearch.lineage.upsert_index`, so: delta docs
    whose ids exist in the base REPLACE their postings exactly once, new
    ids insert, only affected term-hash buckets rewrite, and re-running
    the compaction with an unchanged delta is a fingerprint-matched
    no-op (idempotent, like the at-least-once batch writes upstream).
    If a doc was re-streamed across batches, the LATEST batch_id wins.
    """
    from pyspark.sql import Window

    from ..corpus import ingest_documents_df
    from ..lineage import upsert_index

    dd = spark.read.parquet(f"{delta_dir}/docs_delta")
    w = Window.partitionBy("doc_id").orderBy(F.desc("batch_id"))
    latest = (
        dd.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn", "batch_id")
    )
    delta = ingest_documents_df(latest)
    return upsert_index(spark, index_dir, delta)
