"""Structured Streaming incremental index and delta compaction, plus the
fake embedder's mapInPandas path."""

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.streaming import incremental_index


def test_incremental_index_exactly_once(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs.filter(F.col("doc_id") < 100).write.parquet(in_dir)

    incremental_index(spark, in_dir, out_dir)
    d1 = spark.read.parquet(f"{out_dir}/docs_delta")
    assert d1.count() == 100

    # drain again with NO new files: checkpoint must prevent re-ingest
    incremental_index(spark, in_dir, out_dir)
    assert spark.read.parquet(f"{out_dir}/docs_delta").count() == 100

    # add new files -> only the delta is processed
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_index(spark, in_dir, out_dir)
    assert spark.read.parquet(f"{out_dir}/docs_delta").count() == 150


def test_embed_texts_mapinpandas(spark, sf_dir):
    from pyspark_codesearch.fake_embedder import embed_py, embed_texts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    out = embed_texts(docs, "text").collect()
    assert len(out) == 20
    for r in out:
        assert r["embedding"] == pytest.approx(embed_py(r["text"]), abs=1e-12)
        # unit norm (or zero for token-free text)
        n = sum(x * x for x in r["embedding"])
        assert n == pytest.approx(1.0, abs=1e-9) or n == 0.0


def test_compact_delta_into_index(spark, tmp_path, sf_dir):
    """Streaming delta -> base index compaction: after draining modified
    + new docs through the stream and compacting, the index is
    rank-identical to a fresh build over the merged corpus, and
    recompacting an unchanged delta is a fingerprint no-op."""
    from pyspark_codesearch.corpus import ingest_documents_df
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.lineage import (
        build_index_resumable,
        impact_scale,
        load_segments,
    )
    from pyspark_codesearch.streaming import compact_delta_into_index
    from pyspark_codesearch.wand import wand_topk_batch

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 120)
    base_ix = str(tmp_path / "ix")
    build_index_resumable(
        ingest_documents_df(raw), base_ix, n_buckets=4, salt_range=64
    )

    # stream a delta: 2 modified docs + 2 brand-new docs
    delta_rows = [
        (7, "compactterm900007 merge sort rewritten seven", "python", "src0", 40),
        (9, "compactterm900009 filter scan rewritten nine", "go", "src1", 40),
        (5000, "compactterm905000 new streamed doc scan join", "js", "src2", 40),
        (5001, "compactterm905001 new streamed doc parse json", "md", "src3", 40),
    ]
    in_dir, delta_dir = str(tmp_path / "in"), str(tmp_path / "delta")
    spark.createDataFrame(
        delta_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(in_dir)
    incremental_index(spark, in_dir, delta_dir)

    res = compact_delta_into_index(spark, base_ix, delta_dir)
    assert res["affected_buckets"]
    # idempotent recompaction
    res2 = compact_delta_into_index(spark, base_ix, delta_dir)
    assert res2["executed_units"] == 0

    # fresh reference over the merged corpus
    delta_df = spark.createDataFrame(
        delta_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    merged = raw.filter(~F.col("doc_id").isin([7, 9])).unionByName(delta_df)
    fresh_ix = str(tmp_path / "fresh")
    build_index_resumable(
        ingest_documents_df(merged), fresh_ix, n_buckets=4, salt_range=64
    )

    def topk(ix, q, scale=1.0):
        segs = load_segments(spark, ix)
        dl = spark.read.parquet(f"{ix}/doc_lens")
        ts = spark.read.parquet(f"{ix}/term_stats")
        st = spark.read.parquet(f"{ix}/stats").collect()[0]
        stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
        return [
            (r["doc_id"], round(r["score"], 9))
            for r in wand_topk_batch(
                segs, dl, ts, stats, {"q": q}, 10, salt_range=64, impact_scale=scale
            ).collect()
        ]

    st = spark.read.parquet(f"{base_ix}/stats").collect()[0]
    scale = impact_scale(base_ix, float(st["avgdl"]))
    for q in ["merge sort", "compactterm 900007", "compactterm 905000", "scan join"]:
        assert topk(base_ix, q, scale) == topk(fresh_ix, q), q
