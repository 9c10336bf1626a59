"""Focused pins for the round-8 optimization internals.

- packed per-salt lens table: wand results identical to the raw
  (doc_id, doc_len) row-format fallback
- replicated_documents fast path: row-identical to replicate-then-
  ingest (the definition it optimizes)
- single-stage exact plan: a doc_id-partitioned cached postings frame
  plans the literal BM25 query with ZERO exchanges above the cache
- in_expr: one-call IN lists semantically equal isin, with quoting;
  values it would mis-quote (None, floats, bools, mixes) raise TypeError
"""

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import ingest_documents_df, replicated_documents
from pyspark_codesearch.indexing import (
    build_postings_with_dl,
    build_segments,
    build_term_stats,
    corpus_stats,
)
from pyspark_codesearch.scoring import bm25_topk
from pyspark_codesearch.session import in_expr
from pyspark_codesearch.wand import prepare_lens_by_salt, wand_topk_batch

SALT_RANGE = 64


@pytest.fixture(scope="module")
def env(spark, sf_dir):
    docs = ingest_documents_df(
        spark.read.parquet(f"{sf_dir}/documents.parquet")
    ).cache()
    stats = corpus_stats(docs)
    doc_lens = docs.select("doc_id", "doc_len").cache()
    postings = build_postings_with_dl(docs).cache()
    segments = build_segments(postings, stats, salt_range=SALT_RANGE).cache()
    term_stats = build_term_stats(postings).cache()
    return dict(
        docs=docs, stats=stats, doc_lens=doc_lens, postings=postings,
        segments=segments, term_stats=term_stats,
    )


def test_packed_lens_matches_row_format(env):
    """prepare_lens_by_salt packs (salt, ids, lens) buffer rows; the
    scorer must produce IDENTICAL results from packed and row-format
    lens inputs (frombuffer round-trip is exact)."""
    packed = prepare_lens_by_salt(env["doc_lens"], SALT_RANGE)
    assert packed.columns == ["salt", "ids", "lens"]
    for q in ("data value result", "hash join", "dup"):
        via_packed = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            {"q": q}, 10, salt_range=SALT_RANGE, lens_by_salt=packed,
        ).collect()
        via_rows = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            {"q": q}, 10, salt_range=SALT_RANGE,  # row-format fallback path
        ).collect()
        assert [tuple(r) for r in via_packed] == [tuple(r) for r in via_rows]
        assert via_packed, q  # vacuity guard
    packed.unpersist()


def test_replicated_documents_fast_path_row_identical(spark, sf_dir):
    """The tokenize-once fast path must equal replicate-then-ingest
    row for row (every column, including needle-variant rows)."""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = raw.count()
    factor, needle = 3, 7
    rep = spark.range(factor).withColumnRenamed("id", "rep")
    replicated = (
        raw.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_base)
        .drop("rep")
        .repartition(8)
        .withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64(F.col("doc_id") + 1), F.lit(needle)) == 0,
                F.concat(F.col("text"), F.lit(" uniqneedle")),
            ).otherwise(F.col("text")),
        )
    )
    want = ingest_documents_df(replicated).orderBy("doc_id").collect()
    got = (
        replicated_documents(spark, sf_dir, factor, 8, needle_every=needle)
        .orderBy("doc_id")
        .collect()
    )
    assert len(got) == n_base * factor > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    # needle rows actually exist in the sample, so the variant columns
    # were exercised (vacuity guard)
    assert any("uniqneedle" in r["content"] for r in got)


def test_exact_literal_plan_is_single_stage_over_doc_id_cache(env):
    """Scale/latency contract (r8): build_postings_with_dl publishes a
    doc_id repartition, so the cached postings frame satisfies the
    exact scorer's groupBy(doc_id) clustering and the literal plan has
    NO exchange above the cache — scan, filter, constant CASE, agg and
    TakeOrderedAndProject in one stage."""
    q = bm25_topk(
        env["postings"], env["term_stats"], env["stats"], "data value result", 10
    )
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    head = plan.split("InMemoryRelation")[0]  # above the cache only
    assert "Exchange" not in head, head
    assert "TakeOrderedAndProject" in head
    assert "HashAggregate" in head


def test_in_expr_matches_isin(spark):
    df = spark.createDataFrame(
        [(1, "a"), (2, "b'c"), (3, "d")], "k int, s string"
    )
    got = sorted(r["k"] for r in df.filter(in_expr("s", ["a", "b'c"])).collect())
    want = sorted(
        r["k"] for r in df.filter(F.col("s").isin(["a", "b'c"])).collect()
    )
    assert got == want == [1, 2]
    got_i = sorted(r["s"] for r in df.filter(in_expr("k", [2, 3])).collect())
    assert got_i == ["b'c", "d"]
    got_np = sorted(r["s"] for r in df.filter(in_expr("k", np.array([1, 3]))).collect())
    assert got_np == ["a", "d"]
    # values it would mis-quote are refused, never stringified
    for bad in (["a", None], [None], [1.5], [1, 2.0], [True, 2], [np.bool_(True)], ["a", 1]):
        with pytest.raises(TypeError):
            in_expr("k", bad)
