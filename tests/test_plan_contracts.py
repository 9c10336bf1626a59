"""Physical-plan contracts: the plans we'd want at 100 TB, asserted.

- no row-at-a-time PythonUDF (BatchEvalPython) anywhere — the north
  rule's "no per-row Python"; only Arrow-vectorized python nodes allowed
- term IN-filter pushed into the parquet scan of a materialized index
- whole-stage codegen covers the BM25 scoring expression
- bounded top-k planned as TakeOrderedAndProject, never a global sort
"""

import re

import pytest
from conftest import _jobs_started_by
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import corpus_df, ingest_bucketed
from pyspark_codesearch.lineage import build_index_resumable, load_segments, read_table
from pyspark_codesearch.scoring import bm25_topk


def plan_str(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def full_plan(df) -> str:
    return df._jdf.queryExecution().toString()


FORBIDDEN = "BatchEvalPython"  # row-at-a-time python UDF node


@pytest.fixture(scope="module")
def index_dir(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("ix"))
    docs = ingest_bucketed(corpus_df(spark, 200, seed=9), n_buckets=1)
    build_index_resumable(docs, d, n_buckets=2, salt_range=64)
    return d


def test_no_per_row_python_in_core_plans(spark, sf_dir, monkeypatch):
    from pyspark_codesearch import wand
    from pyspark_codesearch.engine import documents_engine
    from pyspark_codesearch.indexing import (
        build_postings_with_dl,
        build_segments,
        corpus_stats,
    )

    eng = documents_engine(spark, sf_dir)
    # the WAND cogroup plan, not the driver route a small batch takes
    monkeypatch.setattr(wand, "LOCAL_MAX_POSTINGS", 0)
    docs = ingest_bucketed(corpus_df(spark, 200, seed=9), n_buckets=32)
    segments = build_segments(
        build_postings_with_dl(docs), corpus_stats(docs), salt_range=64
    )
    plans = [
        plan_str(eng.search("data value", 10)),
        plan_str(eng.search_wand("data value", 10)),
        plan_str(docs),
        plan_str(segments),
    ]
    for p in plans:
        assert FORBIDDEN not in p
    # segments are encoded in one pass per partition, never per group
    assert "MapInPandas" in plans[-1]
    assert "FlatMapGroupsInPandas" not in plans[-1]


def test_term_filter_pushed_to_parquet_scan(spark, index_dir):
    segs = load_segments(spark, index_dir)
    q = segs.filter(F.col("term").isin("parse", "json", "string"))
    p = full_plan(q)
    assert re.search(r"PushedFilters: \[.*[Ii]n\(term", p), p


def test_batch_salt_lookup_filters_segments_by_salt(spark, index_dir, monkeypatch):
    """Given a salt_lookup, the batch prunes the SEGMENTS side of its
    cogroup to the looked-up salts (pushed into the parquet scan), not
    only the doc-lens side, so a phase restricted to some salts reads
    only theirs."""
    from pyspark_codesearch import wand
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.wand import wand_topk_batch

    monkeypatch.setattr(wand, "LOCAL_MAX_POSTINGS", 0)  # the cogroup plan

    st = read_table(spark, index_dir, "stats").collect()[0]
    q = wand_topk_batch(
        load_segments(spark, index_dir), read_table(spark, index_dir, "doc_lens"),
        read_table(spark, index_dir, "term_stats"),
        CorpusStats(int(st["n_docs"]), float(st["avgdl"])),
        {"q": "parse json"}, 5, salt_range=64,
        df_lookup={"parse": 1, "json": 1}, salt_lookup={"parse": (1,), "json": (1, 2)},
    )
    p = full_plan(q)
    scans = [ln for ln in p.splitlines() if "FileScan parquet" in ln and "block_max_impact" in ln]
    assert scans, p
    for ln in scans:
        assert re.search(r"PushedFilters: \[.*In\(salt, \[1,2\]\)", ln), ln
    rows = q.collect()
    assert rows and all(64 <= r["doc_id"] < 192 for r in rows)


def test_request_metadata_runs_no_spark_job(spark, index_dir):
    """What a batch request asks of the index before scoring — its terms'
    segment buckets, the pruning scale, the salt range and handles on
    the side tables — is answered on the driver: no Spark job starts."""
    from pyspark_codesearch.lineage import (
        impact_scale,
        load_segments_for_terms,
        salt_range_of,
    )

    calls = {
        "load_segments_for_terms": lambda: load_segments_for_terms(
            spark, index_dir, {"parse", "json", "string", "merge"}
        ),
        "impact_scale": lambda: impact_scale(index_dir, 10.0),
        "salt_range_of": lambda: salt_range_of(index_dir),
        **{
            f"read_table {t}": (lambda t=t: read_table(spark, index_dir, t))
            for t in ("segments/bucket=0", "doc_lens", "term_stats", "stats")
        },
    }
    for name, fn in calls.items():
        assert _jobs_started_by(spark, fn) == [], name
    # the counter sees jobs: inferring the docs table's schema runs one
    assert _jobs_started_by(spark, lambda: read_table(spark, index_dir, "docs"))


def test_column_pruning_reaches_scan(spark, index_dir):
    docs = read_table(spark, index_dir, "docs")
    q = docs.select("doc_id", "lang")
    p = full_plan(q)
    m = re.search(r"ReadSchema: struct<([^>]*)>", p)
    assert m and set(f.split(":")[0] for f in m.group(1).split(",")) == {"doc_id", "lang"}


def test_bm25_plan_shape(spark):
    # exact scorer: heap top-k + codegen, and no join: postings carry dl
    # and the query-term weights are literals
    docs = ingest_bucketed(corpus_df(spark, 200, seed=9), n_buckets=1)
    from pyspark_codesearch.indexing import (
        build_postings_with_dl,
        build_term_stats,
        corpus_stats,
    )

    po = build_postings_with_dl(docs)
    q = bm25_topk(po, build_term_stats(po), corpus_stats(docs), "parse json string", 10)
    q.collect()  # AQE: codegen spans appear only in the FINAL plan
    p = plan_str(q)
    assert "TakeOrderedAndProject" in p, "top-k must be heap-based, not global sort"
    # '*(N)' operator prefixes mark WholeStageCodegen spans in compact form
    assert re.search(r"\*\(\d+\) (HashAggregate|Project)", p), "scoring must be codegen'd"
    assert FORBIDDEN not in p
    assert "Join" not in p, p


def test_bm25_literal_case_carries_only_constants(spark):
    """The literal plan's CASE branches are folded constants — a CASE of
    full BM25 expressions crossed the JIT's 8KB generated-method limit
    at 25-28 branches and silently fell out of compiled codegen (22.8 s
    vs 5.2 s at 24 branches, BENCH/crossover_r7.json). Guard: the
    optimized plan's scoring projection contains no LOG call (idf is
    computed on the driver) and exactly TWO divisions (dl/avgdl and the
    shared tf/(tf+norm) factor — NOT one per branch), at a term count
    beyond the old cliff."""
    from pyspark_codesearch.indexing import (
        build_postings_with_dl,
        build_term_stats,
        corpus_stats,
    )

    docs = ingest_bucketed(corpus_df(spark, 200, seed=9), n_buckets=1)
    po = build_postings_with_dl(docs)
    # 28 distinct terms, resolved or not — the plan shape is what counts
    terms = [r["term"] for r in build_term_stats(po).limit(28).collect()]
    q = bm25_topk(po, build_term_stats(po), corpus_stats(docs), " ".join(terms), 10)
    opt = q._jdf.queryExecution().optimizedPlan().toString()
    proj = next(ln for ln in opt.splitlines() if "CASE WHEN" in ln)
    assert "LOG" not in proj.upper(), proj[:300]
    assert proj.count("/") == 2, proj[:300]


def test_bucketed_ingest_has_no_single_partition_exchange(spark):
    """Scale contract: doc-id assignment must never funnel the corpus
    through one partition. A global row_number over (repo, path, commit)
    DOES (the control) — ingest_bucketed must not.

    (r8: restored as its own test — the r7 edit had absorbed this body
    into test_bm25_literal_case_carries_only_constants, so a CASE-plan
    regression would have masked an ingest regression.)"""
    from pyspark.sql import Window

    raw = corpus_df(spark, 200, seed=9)
    dense = raw.withColumn(
        "doc_id", F.row_number().over(Window.orderBy("repo", "path", "commit"))
    )
    assert "Exchange SinglePartition" in plan_str(dense)  # control
    p = plan_str(ingest_bucketed(raw, n_buckets=32))
    assert "Exchange SinglePartition" not in p, p
    assert FORBIDDEN not in p


def test_delete_by_ids_broadcasts_anti_join(spark, sf_dir):
    """DELETE-by-id must never shuffle the big side: broadcast left-anti."""
    from pyspark_codesearch.operators.merge import delete_by_ids

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_str(delete_by_ids(docs, [3, 42, 99], key="doc_id"))
    assert re.search(r"BroadcastHashJoin .*LeftAnti", p), p
    assert "Exchange hashpartitioning" not in p, "big side must not shuffle"


def test_merge_upsert_single_key_shuffle(spark, sf_dir):
    """Keyed MERGE: exactly one hash shuffle on the key (the window);
    no sort-merge join, no cross product."""
    from pyspark_codesearch.operators.merge import merge_upsert

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    base = docs.select("doc_id", F.substring("text", 1, 8).alias("payload"))
    delta = base.filter(F.col("doc_id") % 7 == 0)
    p = plan_str(merge_upsert(base, delta, key="doc_id"))
    assert p.count("Exchange hashpartitioning") == 1, p
    assert "CartesianProduct" not in p and FORBIDDEN not in p


def test_arrow_udf_nodes_are_vectorized(spark, sf_dir):
    # the analyzer is JVM-side (tokens_col), so the chunker's pandas UDF
    # is the kept scalar python node; it must be Arrow-batched
    from pyspark_codesearch.chunker import chunk_docs

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    p = plan_str(
        chunk_docs(docs, id_col="doc_id", text_col="text", chunk_size=30, chunk_overlap=5)
    )
    assert "ArrowEvalPython" in p  # pandas UDF, Arrow-batched
    assert FORBIDDEN not in p
