"""The two dispatchers of wand_topk_batch: the driver route (small
batches) and the cogroup plan run one group scorer, so they return the
same rows with the same scores; and over the disk index the driver route
starts no Spark job at all: ``session.read_rows`` reads the snapshot-
pinned parquet files of its bare scans in this process. A small batch
without a df lookup takes its dfs from the blocks the driver route
reads, which is exact because every posting sits in one block.

Each route is forced by patching ``wand.LOCAL_MAX_POSTINGS``: 0 sends
every batch to the cogroup plan, a huge value every batch to the driver.
"""

import pandas as pd
import pytest
from conftest import _jobs_started_by
from pyspark.sql import functions as F

from pyspark_codesearch import session, wand
from pyspark_codesearch.analysis import tokenize_py
from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.indexing import CorpusStats
from pyspark_codesearch.lineage import (
    build_index_resumable,
    delete_from_index,
    impact_scale,
    load_segments,
    load_segments_for_terms,
    read_table,
    upsert_index,
)
from pyspark_codesearch.scoring import bm25_topk
from pyspark_codesearch.session import read_rows
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
    segs = load_segments(spark, out)
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
    """A fresh multi-salt index and one that first lost six docs spread
    over the salts to a delete, then took an upsert that raised avgdl
    (two long docs in new salts, touching only some buckets), so its
    pruning bound is scaled: impact_scale > 1."""
    # a space and a "%" in the path pin the decoding of the file URIs
    root = tmp_path_factory.mktemp("routes") / "index 100%20 dir"
    docs = ingest_bucketed(corpus_df(spark, 300, seed=7), n_buckets=1)
    fresh, upserted = str(root / "fresh"), str(root / "upserted")
    for out in (fresh, upserted):
        build_index_resumable(docs, out, n_buckets=4, salt_range=SALT_RANGE)
    long_text = " ".join(["parse json merge"] * 400)
    delta = ingest_documents_df(
        spark.createDataFrame([(10_000, long_text), (10_001, long_text + " data")],
                              "doc_id long, text string")
    ).withColumn("lang", F.lit("python"))
    ids = sorted(r["doc_id"] for r in read_table(spark, fresh, "doc_lens").collect())
    delete_from_index(spark, upserted, ids[7::50])
    upsert_index(spark, upserted, delta)
    out = {"fresh": _open(spark, fresh), "upserted": _open(spark, upserted)}
    assert out["fresh"]["scale"] == 1.0
    assert out["upserted"]["scale"] > 1.0
    assert out["upserted"]["stats"].n_docs == out["fresh"]["stats"].n_docs - 6 + 2
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


@pytest.mark.parametrize("which", ["fresh", "upserted"])
def test_block_doc_counts_sum_to_df(spark, indexes, which):
    """The invariant the df-from-blocks path rests on: per term, n_docs
    summed over the term's segment blocks equals its term_stats df, on a
    fresh index and after an upsert with deletes."""
    ix = indexes[which]
    sums = {r["term"]: r["n"] for r in ix["segments"].groupBy("term")
            .agg(F.sum("n_docs").alias("n")).collect()}
    assert sums == ix["df_lookup"]
    assert len(sums) > 100


def _cross_salt_cuts(ranked, k_max=40):
    """(query id, k) pairs whose k-th and (k+1)-th rows tie in score on
    docs of two salts: cutting there, doc_id asc decides which of the
    tied docs make the top k. ``ranked``: every matched row per query,
    best first."""
    cuts = []
    for qid, rows in sorted(ranked.items()):
        for k in range(1, min(k_max, len(rows) - 1)):
            (a, sa), (b, sb) = rows[k - 1], rows[k]
            if sa == sb and a // SALT_RANGE != b // SALT_RANGE:
                cuts.append((qid, k))
                break
    return cuts


@pytest.mark.parametrize("which", ["fresh", "upserted"])
def test_ranking_breaks_cross_salt_ties_by_doc_id(spark, indexes, monkeypatch, which):
    """Scores that tie across salt groups: the driver route's ranking
    keeps the cogroup window's order, score desc then doc_id asc, at
    most k rows per query, ranks 1..n, queries in id order, also where
    the k-th row's tie reaches into another salt."""
    ix = indexes[which]
    terms = sorted(t for t in ix["df_lookup"] if tokenize_py(t) == [t]
                   and len(ix["salt_lookup"][t]) > 1)[:60]
    queries = {f"t{i:02d}": t for i, t in enumerate(terms)}
    every = max(ix["df_lookup"][t] for t in terms)
    full = _both_routes(monkeypatch, lambda: _batch(ix, queries, k=every))
    assert full["driver"] == full["cogroup"]
    ranked = {}
    for qid, rank, doc, score in full["driver"]:
        ranked.setdefault(qid, []).append((doc, score))
        assert rank == len(ranked[qid])
    assert list(ranked) == sorted(ranked)
    for rows in ranked.values():
        assert rows == sorted(rows, key=lambda r: (-r[1], r[0]))
    cuts = _cross_salt_cuts(ranked)
    assert len(cuts) >= 3, "no score tie across salts: the test would be vacuous"
    for qid, k in cuts[:5]:
        one = {qid: queries[qid]}
        got = _both_routes(monkeypatch, lambda: _batch(ix, one, k=k))
        assert got["driver"] == got["cogroup"]
        assert got["driver"] == [(qid, i + 1, d, sc) for i, (d, sc) in enumerate(ranked[qid][:k])]
    batch_k = cuts[0][1]
    got = _both_routes(monkeypatch, lambda: _batch(ix, queries, k=batch_k))
    assert got["driver"] == got["cogroup"] == [
        (qid, i + 1, d, sc) for qid in sorted(ranked)
        for i, (d, sc) in enumerate(ranked[qid][:batch_k])]


def _terms_of(queries):
    return sorted({t for q in queries.values() for t in tokenize_py(q)})


@pytest.mark.parametrize("which", ["fresh", "upserted"])
def test_df_from_blocks_matches_lookups(spark, indexes, monkeypatch, which):
    """The df-from-blocks path (no lookup; it never reads term_stats),
    the df_lookup path and the forced cogroup route (term_stats lookup)
    return the same rows with bit-identical scores."""
    ix = indexes[which]
    assert (len(_terms_of(QUERIES)) + 1) * ix["stats"].n_docs < wand.LOCAL_MAX_POSTINGS
    from_blocks = _batch(dict(ix, term_stats=None), QUERIES)
    assert from_blocks == _batch(ix, QUERIES, df_lookup=ix["df_lookup"])
    monkeypatch.setattr(wand, "LOCAL_MAX_POSTINGS", 0)
    assert from_blocks == _batch(ix, QUERIES)
    assert {r[0] for r in from_blocks} == {"keywords", "ident", "unique", "many"}


def test_budget_below_worst_case_takes_the_lookup(spark, indexes, monkeypatch):
    """A budget above the batch's real Σ df + n_docs but below its worst
    case (query terms + 1) × n_docs: the batch looks its dfs up in
    term_stats first, stays on the driver route and returns the same
    rows. Every read is a bare scan read from its files: no job."""
    ix = indexes["fresh"]
    terms = _terms_of(QUERIES)
    n_docs = ix["stats"].n_docs
    real = sum(ix["df_lookup"].get(t, 0) for t in terms) + n_docs
    budget = real + 1
    assert budget < (len(terms) + 1) * n_docs
    want = _batch(ix, QUERIES)
    monkeypatch.setattr(wand, "LOCAL_MAX_POSTINGS", budget)
    got = []
    assert _jobs_started_by(spark, lambda: got.extend(_batch(ix, QUERIES))) == []
    assert got == want


def test_small_disk_batch_job_contract(spark, indexes):
    """A small batch over the disk index, as scripts/query.py runs it
    (no df_lookup): no Spark job. The driver route reads the segments
    and doc_lens files itself, its dfs come from the blocks it read with
    no term_stats lookup, and collecting its result runs none."""
    ix = indexes["fresh"]
    terms = _terms_of(QUERIES)

    def call():
        segs = load_segments_for_terms(spark, ix["out"], terms)
        return wand_topk_batch(
            segs, ix["doc_lens"], ix["term_stats"], ix["stats"], QUERIES, 10,
            salt_range=SALT_RANGE, impact_scale=ix["scale"],
        )

    call().collect()  # warm
    out = {}
    assert _jobs_started_by(spark, lambda: out.update(df=call())) == []
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


def _sorted(pdf, keys):
    return pdf.sort_values(keys, ignore_index=True)


# per table the driver route reads: its sort key and an IN filter (column, values)
READS = {
    "segments": (["term", "salt", "block_id"], "term", ["json", "parse", "zzznotaterm"]),
    "doc_lens": (["doc_id"], "doc_id", [0, 5, 64, 10_000]),
    "term_stats": (["term"], "term", ["data", "merge", "zzznotaterm"]),
}


@pytest.mark.parametrize("which", ["fresh", "upserted"])
@pytest.mark.parametrize("table", sorted(READS))
def test_read_rows_matches_to_pandas(spark, indexes, which, table):
    """read_rows on a bare scan reads the files in this process, with no
    job, and returns toPandas's rows and dtypes, whole and under an IN
    filter, from a path whose name holds a space and a "%"."""
    ix = indexes[which]
    df = ix[table]
    keys, col, vals = READS[table]
    assert " " in ix["out"] and "%" in ix["out"]
    assert session._parquet_files(df)
    for where in (None, {col: vals}):
        got = []
        assert _jobs_started_by(spark, lambda: got.append(read_rows(df, where))) == []
        want = df if where is None else df.filter(F.col(col).isin(vals))
        want = _sorted(want.toPandas(), keys)
        assert len(want) > 0
        pd.testing.assert_frame_equal(_sorted(got[0], keys), want)


def test_read_rows_falls_back_for_other_frames(spark, indexes):
    """A cached, a filtered and a unioned frame are no bare scan: they are
    collected through Spark, with the same rows as toPandas. Once the
    cached copy is dropped the bare scan is read from its files again:
    the check for a cached copy is made on every read, not memoized."""
    segs = indexes["upserted"]["segments"]
    keys = READS["segments"][0]
    where = {"term": ["json", "parse"]}
    files = session._parquet_files(segs)
    assert files
    want = _sorted(segs.filter(F.col("term").isin(where["term"])).toPandas(), keys)
    # the same bare scan, cached: its reads come from the cache
    cached = load_segments(spark, indexes["upserted"]["out"]).cache()
    try:
        for frame in (cached, segs.filter(F.col("salt") >= 0), segs.unionByName(segs.limit(0))):
            assert session._parquet_files(frame) is None
            pd.testing.assert_frame_equal(_sorted(read_rows(frame, where), keys), want)
    finally:
        cached.unpersist()
    for frame in (cached, segs):
        assert session._parquet_files(frame) == files
        got = []
        assert _jobs_started_by(spark, lambda: got.append(read_rows(frame, where))) == []
        pd.testing.assert_frame_equal(_sorted(got[0], keys), want)
    # the fallback plan is built only when the frame is no bare scan
    assert read_rows(segs.limit(5), fallback=lambda: segs.limit(0)).empty
    assert len(read_rows(segs, fallback=lambda: segs.limit(0))) == segs.count()


def test_driver_route_reads_its_snapshot(spark, tmp_path):
    """Frames opened before an upsert keep reading the version they were
    planned on: a driver-route batch run on them after the upsert equals
    the batch run before it, while frames opened afterwards see the
    upsert."""
    out = str(tmp_path / "snap shot%")
    docs = ingest_bucketed(corpus_df(spark, 120, seed=11), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=SALT_RANGE)
    ix = _open(spark, out)
    before = _batch(ix, QUERIES)
    assert before
    text = " ".join(["parse json string data value"] * 30)
    upsert_index(spark, out, ingest_documents_df(
        spark.createDataFrame([(10_000, text)], "doc_id long, text string")
    ).withColumn("lang", F.lit("python")))
    got = []
    assert _jobs_started_by(spark, lambda: got.extend(_batch(ix, QUERIES))) == []
    assert got == before
    assert _batch(_open(spark, out), QUERIES) != before


def test_budget_counts_every_doc_lens_row_it_reads(spark, indexes, monkeypatch):
    """With a salt lookup, the driver budget counts the touched salts'
    lens rows only when the packed lens_by_salt is read: a doc_lens read
    from its files decodes all n_docs rows before the driver cuts them,
    so a budget between the two sends that batch to the cogroup plan."""
    ix = indexes["fresh"]
    # a term found in one salt only
    term = next(t for t, v in sorted(ix["salt_lookup"].items())
                if len(v) == 1 and tokenize_py(t) == [t])
    q = {"u": term}
    small = ix["df_lookup"][term] + SALT_RANGE
    assert small + 1 < ix["df_lookup"][term] + ix["stats"].n_docs
    monkeypatch.setattr(wand, "LOCAL_MAX_POSTINGS", small + 1)
    kw = dict(df_lookup=ix["df_lookup"], salt_lookup=ix["salt_lookup"])
    lens_by_salt = prepare_lens_by_salt(ix["doc_lens"], SALT_RANGE)
    rows = {}
    for name, extra in (("packed", dict(lens_by_salt=lens_by_salt)), ("doc_lens", {})):
        out = wand_topk_batch(ix["segments"], ix["doc_lens"], ix["term_stats"], ix["stats"],
                              q, 5, salt_range=SALT_RANGE, **kw, **extra)
        got = []
        jobs = _jobs_started_by(spark, lambda: got.extend(tuple(r) for r in out.collect()))
        rows[name] = (got, bool(jobs))
    lens_by_salt.unpersist()
    assert rows["packed"] == (rows["doc_lens"][0], False)  # driver: rows held here
    assert rows["doc_lens"][1]  # cogroup: collecting the plan runs its jobs
    assert rows["packed"][0]
