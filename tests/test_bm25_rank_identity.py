"""End-to-end rank identity: Spark exact BM25 == pure-python oracle.

Query suite seeded from the reference's own strings (FIXTURES.md §2):
"transformer models" (es_indexer.py:517), "transformer attention mechanism"
(docs/API_REFERENCE.md:83-93) plus code-flavored queries over the synthetic
source-code corpus and the driver documents table.
"""

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import corpus_df, generate_corpus, ingest_bucketed
from pyspark_codesearch.indexing import build_postings_with_dl, build_term_stats, corpus_stats
from pyspark_codesearch.oracle import OracleIndex
from pyspark_codesearch.scoring import bm25_topk

QUERIES = [
    "parse json string",
    "read file buffer",
    "transformer models",
    "transformer attention mechanism",
    "uniqterm000042",                 # unique rare term -> exactly 1 hit
    "the and of to",                  # stopword-only -> empty
    "merge sort zzznotaterm",         # one unknown term
    "parseJsonString",                # camelCase query analyzed like docs
    "index",
]

N_DOCS = 400


@pytest.fixture(scope="module")
def engine(spark):
    docs = ingest_bucketed(corpus_df(spark, N_DOCS, seed=42), n_buckets=1).cache()
    postings = build_postings_with_dl(docs).cache()
    return {
        "docs": docs,
        "postings": postings,
        "term_stats": build_term_stats(postings),
        "stats": corpus_stats(docs),
    }


@pytest.fixture(scope="module")
def oracle(spark, engine):
    rows = engine["docs"].select("doc_id", "content").collect()
    return OracleIndex({r["doc_id"]: r["content"] for r in rows})


def test_corpus_is_deterministic():
    a = generate_corpus(50, seed=42)
    b = generate_corpus(50, seed=42)
    assert a.equals(b)
    assert not a.equals(generate_corpus(50, seed=43))


def test_doc_ids_dense_and_sha256(spark, engine):
    docs = engine["docs"]
    n = docs.count()
    row = docs.agg(
        F.min("doc_id"), F.max("doc_id"), F.countDistinct("doc_id")
    ).collect()[0]
    assert row[0] == 0 and row[1] == n - 1 and row[2] == n
    # per-row sha256 invariant vs generator (north rule)
    import hashlib

    sample = docs.select("content", "sha256").limit(20).collect()
    for r in sample:
        assert hashlib.sha256(r["content"].encode()).hexdigest() == r["sha256"]


def test_doc_len_matches_oracle(engine, oracle):
    for r in engine["docs"].select("doc_id", "doc_len").collect():
        assert r["doc_len"] == oracle.doc_len[r["doc_id"]], r["doc_id"]


def test_stats_match_oracle(engine, oracle):
    st = engine["stats"]
    assert st.n_docs == oracle.n_docs
    assert abs(st.avgdl - oracle.avgdl) < 1e-9


def test_df_matches_oracle(engine, oracle):
    got = {r["term"]: r["df"] for r in engine["term_stats"].collect()}
    assert got == dict(oracle.df)


@pytest.mark.parametrize("query", QUERIES)
def test_rank_identity(engine, oracle, query):
    k = 10
    expected = oracle.search(query, k)
    got = bm25_topk(
        engine["postings"], engine["term_stats"], engine["stats"], query, k,
    ).collect()
    assert [r["doc_id"] for r in got] == [d for d, _ in expected], query
    for r, (_, s) in zip(got, expected):
        assert r["score"] == pytest.approx(s, abs=1e-9), (query, r["doc_id"])


def test_unique_term_exact_hit(engine, oracle):
    # the analyzer splits uniqterm000007 -> [uniqterm, 000007]; "000007"
    # is unique to one doc, so the top hit must contain the literal string
    expected = oracle.search("uniqterm000007", 10)
    got = bm25_topk(
        engine["postings"], engine["term_stats"], engine["stats"], "uniqterm000007", 10,
    ).collect()
    assert got[0]["doc_id"] == expected[0][0]
    top = (
        engine["docs"].filter(F.col("doc_id") == got[0]["doc_id"]).collect()[0]
    )
    assert "uniqterm000007" in top["content"]


def test_bucketed_ingest_rank_parity(spark, engine, oracle):
    """ingest_bucketed at 32 buckets must be score-identical to the
    one-bucket (dense-id) ingest: same docs, same tf/dl/df, same BM25 scores — only
    the id values differ. Verified by mapping ids back to (repo, path)."""
    from pyspark_codesearch.corpus import BUCKET_BITS

    docs_b = ingest_bucketed(corpus_df(spark, N_DOCS, seed=42), n_buckets=32).cache()
    # unique ids, bucket-composed
    n = docs_b.count()
    assert docs_b.select("doc_id").distinct().count() == n == N_DOCS
    assert docs_b.filter(F.col("doc_id") < 0).count() == 0
    # identical (repo, path) -> (sha256, doc_len) mapping as the one-bucket ingest
    key = ["repo", "path", "commit"]
    a = {tuple(r[c] for c in key): (r["sha256"], r["doc_len"])
         for r in engine["docs"].select(*key, "sha256", "doc_len").collect()}
    b = {tuple(r[c] for c in key): (r["sha256"], r["doc_len"])
         for r in docs_b.select(*key, "sha256", "doc_len").collect()}
    assert a == b
    # BM25 scores per document identical (ids differ; join back to paths).
    # k = corpus size so tie-breaks at the k boundary cannot differ.
    po_b = build_postings_with_dl(docs_b)
    for query in ["parse json string", "read file buffer", "index"]:
        got_b = bm25_topk(po_b, build_term_stats(po_b), corpus_stats(docs_b), query, N_DOCS)
        got_a = bm25_topk(engine["postings"], engine["term_stats"], engine["stats"],
                          query, N_DOCS)
        ra = sorted(
            (tuple(r[c] for c in key), round(r["score"], 9))
            for r in got_a.join(engine["docs"].select("doc_id", *key), "doc_id").collect()
        )
        rb = sorted(
            (tuple(r[c] for c in key), round(r["score"], 9))
            for r in got_b.join(docs_b.select("doc_id", *key), "doc_id").collect()
        )
        assert ra == rb, query


@pytest.mark.parametrize("query", QUERIES)
def test_literal_and_join_paths_identical(engine, query):
    """The literal CASE plan (<= LITERAL_TERM_BUDGET matched terms, with
    or without a resident df_lookup) ranks identically to the
    broadcast-join plan; scores agree to 1e-9 (per-row partials are
    bit-identical — verified separately — but the shuffle's float-sum
    merge order is not deterministic, the same 1-ULP wiggle every
    aggregation path has; driver entries round to 4dp)."""
    from pyspark_codesearch.scoring import LITERAL_TERM_BUDGET
    import pyspark_codesearch.scoring as scoring

    k = 10
    args = (engine["postings"], engine["term_stats"], engine["stats"], query, k)
    lit = [(r["doc_id"], r["score"]) for r in bm25_topk(*args).collect()]
    # force the join path by shrinking the budget
    old = scoring.LITERAL_TERM_BUDGET
    try:
        scoring.LITERAL_TERM_BUDGET = 0
        join = [(r["doc_id"], r["score"]) for r in bm25_topk(*args).collect()]
    finally:
        scoring.LITERAL_TERM_BUDGET = old

    def same(a, b):
        assert [d for d, _ in a] == [d for d, _ in b], query
        for (_, x), (_, y) in zip(a, b):
            assert x == pytest.approx(y, abs=1e-9), query

    same(lit, join)
    # resident df lookup path
    dfs = {r["term"]: float(r["df"]) for r in engine["term_stats"].collect()}
    res = [
        (r["doc_id"], r["score"])
        for r in bm25_topk(*args, df_lookup=dfs).collect()
    ]
    same(lit, res)
    assert LITERAL_TERM_BUDGET > 0
