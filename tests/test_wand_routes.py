"""The two dispatchers of wand_topk_batch: the driver route (small
batches) and the cogroup plan run one group scorer, so they return the
same rows with the same scores; and the driver route starts no Python
worker task and no job beyond its two Arrow collects.

Each route is forced by patching ``wand.LOCAL_MAX_POSTINGS``: 0 sends
every batch to the cogroup plan, a huge value every batch to the driver.
"""

import pytest
from conftest import _jobs_started_by
from pyspark.sql import functions as F

from pyspark_codesearch import wand
from pyspark_codesearch.analysis import tokenize_py
from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.indexing import CorpusStats
from pyspark_codesearch.lineage import (
    build_index_resumable,
    impact_scale,
    load_segments,
    load_segments_for_terms,
    read_table,
    upsert_index,
)
from pyspark_codesearch.scoring import bm25_topk
from pyspark_codesearch.wand import prepare_lens_by_salt, wand_topk_batch

SALT_RANGE = 64
QUERIES = {
    "keywords": "parse json string",
    "ident": "parseJson data value",
    "unique": "uniqterm000042",
    "oov": "zzznotaterm",
    "empty": "",
    "many": "return data index query token merge sort hash",
}
ROUTES = {"driver": 10**12, "cogroup": 0}


def _open(spark, out):
    """The query-time handles on a built index, as a batch client holds
    them, plus the driver-side df and salt lookups of every term."""
    st = read_table(spark, out, "stats").collect()[0]
    stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
    segs = load_segments(spark, out).drop("bucket")
    salts: dict[str, set[int]] = {}
    for r in segs.select("term", "salt").distinct().collect():
        salts.setdefault(r["term"], set()).add(int(r["salt"]))
    term_stats = read_table(spark, out, "term_stats")
    doc_lens = read_table(spark, out, "doc_lens")
    return {
        "out": out,
        "segments": segs,
        "doc_lens": doc_lens,
        "term_stats": term_stats,
        "stats": stats,
        "scale": impact_scale(out, stats.avgdl),
        "df_lookup": {r["term"]: int(r["df"]) for r in term_stats.collect()},
        "salt_lookup": {t: tuple(sorted(v)) for t, v in salts.items()},
    }


@pytest.fixture(scope="module")
def indexes(spark, tmp_path_factory):
    """A fresh multi-salt index and one after an upsert that raised avgdl
    (two long docs in new salts, touching only some buckets), so its
    pruning bound is scaled: impact_scale > 1."""
    root = tmp_path_factory.mktemp("routes")
    docs = ingest_bucketed(corpus_df(spark, 300, seed=7), n_buckets=1)
    fresh, upserted = str(root / "fresh"), str(root / "upserted")
    for out in (fresh, upserted):
        build_index_resumable(docs, out, n_buckets=4, salt_range=SALT_RANGE)
    long_text = " ".join(["parse json merge"] * 400)
    delta = ingest_documents_df(
        spark.createDataFrame([(10_000, long_text), (10_001, long_text + " data")],
                              "doc_id long, text string")
    ).withColumn("lang", F.lit("python"))
    upsert_index(spark, upserted, delta)
    out = {"fresh": _open(spark, fresh), "upserted": _open(spark, upserted)}
    assert out["fresh"]["scale"] == 1.0
    assert out["upserted"]["scale"] > 1.0
    assert len({s for v in out["fresh"]["salt_lookup"].values() for s in v}) > 2
    return out


def _batch(ix, queries, k=5, **kw):
    return [tuple(r) for r in wand_topk_batch(
        ix["segments"], ix["doc_lens"], ix["term_stats"], ix["stats"], queries, k,
        salt_range=SALT_RANGE, impact_scale=ix["scale"], **kw,
    ).collect()]


def _both_routes(monkeypatch, fn):
    """fn() under each route: {route: result}."""
    got = {}
    for route, budget in ROUTES.items():
        with monkeypatch.context() as m:
            m.setattr(wand, "LOCAL_MAX_POSTINGS", budget)
            got[route] = fn()
    return got


@pytest.mark.parametrize("which", ["fresh", "upserted"])
@pytest.mark.parametrize("variant", ["plain", "salt_lookup", "init_theta", "coarse"])
def test_routes_rank_identical(spark, indexes, monkeypatch, which, variant):
    """Same rows, same scores bit for bit, for every query kind, batched
    and one at a time: the driver route runs the cogroup's group scorer
    on the same groups."""
    ix = indexes[which]
    kw = {}
    if variant == "salt_lookup":
        kw = dict(df_lookup=ix["df_lookup"], salt_lookup=ix["salt_lookup"],
                  lens_by_salt=prepare_lens_by_salt(ix["doc_lens"], SALT_RANGE))
    elif variant == "coarse":
        kw = dict(salt_group_factor=16, df_lookup=ix["df_lookup"],
                  salt_lookup=ix["salt_lookup"])
    elif variant == "init_theta":
        # each query seeded with its own true k-th score
        base = _batch(ix, QUERIES)
        kth = {}
        for qid, rank, _, score in base:
            if rank == 5:
                kth[qid] = score
        assert kth, "no query reached k rows: the seed would be vacuous"
        kw = dict(init_theta=kth)

    got = _both_routes(monkeypatch, lambda: _batch(ix, QUERIES, **kw))
    assert got["driver"] == got["cogroup"]
    assert {r[0] for r in got["driver"]} == {"keywords", "ident", "unique", "many"}

    def single(qid):
        one = dict(kw)
        if "init_theta" in kw:
            one["init_theta"] = {"q": kw["init_theta"][qid]} if qid in kw["init_theta"] else None
        return _batch(ix, {"q": QUERIES[qid]}, **one)

    singles = _both_routes(monkeypatch, lambda: {qid: single(qid) for qid in QUERIES})
    assert singles["driver"] == singles["cogroup"]
    assert singles["driver"]["oov"] == singles["driver"]["empty"] == []


def test_small_disk_batch_job_contract(spark, indexes):
    """A small batch over the disk index, as scripts/query.py runs it
    (no df_lookup): the term_stats lookup and the two Arrow collects are
    its only jobs, and collecting its result runs none."""
    ix = indexes["fresh"]
    terms = {t for q in QUERIES.values() for t in tokenize_py(q)}

    def call():
        segs = load_segments_for_terms(spark, ix["out"], terms)
        return wand_topk_batch(
            segs, ix["doc_lens"], ix["term_stats"], ix["stats"], QUERIES, 10,
            salt_range=SALT_RANGE, impact_scale=ix["scale"],
        )

    call().collect()  # warm
    out = {}
    assert len(_jobs_started_by(spark, lambda: out.update(df=call()))) == 3
    rows = []
    assert _jobs_started_by(spark, lambda: rows.extend(out["df"].collect())) == []
    assert rows


def test_empty_results_start_no_job(spark, indexes):
    """Out-of-vocabulary queries on the exact and the WAND plans: the
    empty result is folded away by the optimizer, so neither building
    nor collecting it runs a Spark job."""
    ix = indexes["fresh"]
    postings = read_table(spark, ix["out"], "postings/bucket=0")
    for q in ("zzznotaterm", ""):
        assert _jobs_started_by(spark, lambda: bm25_topk(
            postings, ix["term_stats"], ix["stats"], q, 10, df_lookup=ix["df_lookup"],
        ).collect()) == [], q
        assert _jobs_started_by(spark, lambda: wand_topk_batch(
            ix["segments"], ix["doc_lens"], ix["term_stats"], ix["stats"], {"q": q}, 10,
            salt_range=SALT_RANGE, df_lookup=ix["df_lookup"],
        ).collect()) == [], q
