"""Compressed segments + block-max WAND scorer.

- segment roundtrip: decode(segments) == raw postings
- salting invariance: different salt_range -> identical decoded postings
- WAND rank identity: wand_topk_batch (a single query is a batch of
  one) == exact bm25_topk == oracle, incl. the pruning-active regime
  (small k, many candidates)
"""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.codecs import delta_decode, varbyte_decode
from pyspark_codesearch.corpus import corpus_df, ingest_bucketed
from pyspark_codesearch.indexing import (
    build_postings_with_dl,
    build_segments,
    build_term_stats,
    corpus_stats,
)
from pyspark_codesearch.oracle import OracleIndex
from pyspark_codesearch.scoring import bm25_topk
from pyspark_codesearch.wand import prepare_lens_by_salt, wand_topk_batch

N_DOCS = 300
SALT_RANGE = 64  # small so salting actually splits the corpus


@pytest.fixture(scope="module")
def env(spark):
    docs = ingest_bucketed(corpus_df(spark, N_DOCS, seed=7), n_buckets=1).cache()
    postings = build_postings_with_dl(docs).cache()
    stats = corpus_stats(docs)
    doc_lens = docs.select("doc_id", "doc_len").cache()
    segments = build_segments(postings, stats, salt_range=SALT_RANGE).cache()
    return {
        "docs": docs,
        "postings": postings,
        "stats": stats,
        "doc_lens": doc_lens,
        "segments": segments,
        "term_stats": build_term_stats(postings),
    }


def _wand(env, query, k, **kw):
    """One query as a batch of one: [(doc_id, score), ...] in rank order."""
    rows = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        {"q": query}, k, salt_range=SALT_RANGE, **kw,
    ).collect()
    return [(r["doc_id"], r["score"]) for r in rows]


def _salts_of(segments) -> dict[str, tuple[int, ...]]:
    """term -> sorted touched salts, computed on the driver."""
    acc: dict[str, set[int]] = {}
    for r in segments.select("term", "salt").collect():
        acc.setdefault(r["term"], set()).add(int(r["salt"]))
    return {t: tuple(sorted(v)) for t, v in acc.items()}


def _same_ranking(got, want, msg=None):
    assert [d for d, _ in got] == [d for d, _ in want], msg
    for (_, a), (_, b) in zip(got, want):
        assert a == pytest.approx(b, abs=1e-9), msg


def _decode_all(segments_rows):
    """segments rows -> {term: [(doc_id, tf), ...] sorted}."""
    by_term = {}
    for r in sorted(segments_rows, key=lambda r: (r["term"], r["salt"], r["block_id"])):
        ids = delta_decode(r["doc_ids_enc"])
        tfs = varbyte_decode(r["tfs_enc"])
        by_term.setdefault(r["term"], []).extend(zip(ids.tolist(), tfs.tolist()))
    return by_term


def test_segment_roundtrip(env):
    raw = {}
    for r in env["postings"].collect():
        raw.setdefault(r["term"], []).append((r["doc_id"], r["tf"]))
    for t in raw:
        raw[t].sort()
    dec = _decode_all(env["segments"].collect())
    assert dec.keys() == raw.keys()
    for t in raw:
        assert dec[t] == raw[t], t


def test_segment_block_invariants(env):
    for r in env["segments"].collect():
        ids = delta_decode(r["doc_ids_enc"])
        tfs = varbyte_decode(r["tfs_enc"])
        assert len(ids) == r["n_docs"] == len(tfs)
        assert r["n_docs"] <= 128
        assert ids[0] == r["first_doc"] and ids[-1] == r["last_doc"]
        assert (np.diff(ids) > 0).all()
        assert tfs.max() == r["block_max_tf"]
        # all ids inside the salt's doc range
        assert ids[0] >= r["salt"] * SALT_RANGE
        assert ids[-1] < (r["salt"] + 1) * SALT_RANGE


def test_salting_invariance(env):
    """salted output must decode byte-identically to a single-salt build
    (SURVEY §7 hard parts)."""
    unsalted = build_segments(env["postings"], env["stats"], salt_range=1 << 40)
    assert _decode_all(unsalted.collect()) == _decode_all(env["segments"].collect())


def test_segment_doc_counts_match_df(env):
    # sum of per-block n_docs per term == true document frequency
    true_df = {r["term"]: r["df"] for r in env["term_stats"].collect()}
    seg_df = {
        r["term"]: r["n"]
        for r in env["segments"]
        .groupBy("term")
        .agg(F.sum("n_docs").alias("n"))
        .collect()
    }
    assert seg_df == true_df


def test_term_groups_match_per_term_sort(env):
    """The scorer's one-lexsort term split gives every term, as column
    arrays, the rows and the (salt, block_id) order a per-term
    sort_values gives, on a frame whose rows arrive shuffled."""
    from pyspark_codesearch.wand import _RUN_COLS, _term_groups

    pdf = env["segments"].toPandas().sample(frac=1.0, random_state=5)
    got = _term_groups(pdf)
    want = {t: g.sort_values(["salt", "block_id"]) for t, g in pdf.groupby("term")}
    assert list(got) == sorted(want) and len(got) > 100
    assert any(g["salt"].nunique() > 1 for g in want.values())
    for t, g in want.items():
        assert set(got[t]) == set(_RUN_COLS), t
        # a block's first doc is unique within its term: same rows, same order
        assert g["first_doc"].is_unique, t
        for c in _RUN_COLS:
            assert isinstance(got[t][c], np.ndarray), (t, c)
            assert list(got[t][c]) == list(g[c]), (t, c)


def test_prepare_lens_by_salt_infers_eval_type(env):
    """The pack function's type hints must not make Spark warn that it
    cannot infer the eval type (partial hints did)."""
    with warnings.catch_warnings():
        warnings.simplefilter("error", UserWarning)
        lens = prepare_lens_by_salt(env["doc_lens"], SALT_RANGE)
    assert lens.count() == -(-N_DOCS // SALT_RANGE)
    lens.unpersist()


WAND_QUERIES = [
    "parse json string",
    "merge sort index",
    "data value result buffer",
    "encodeJson decode_buffer stream",
    "return data index query token merge sort hash",  # many terms -> pruning
    "zzznotaterm",
]


@pytest.mark.parametrize("query", WAND_QUERIES)
@pytest.mark.parametrize("k", [3, 10])
def test_wand_rank_identity(env, oracle_ix, query, k):
    exact = [(r["doc_id"], r["score"]) for r in bm25_topk(
        env["postings"], env["term_stats"], env["stats"], query, k
    ).collect()]
    wand = _wand(env, query, k)
    _same_ranking(wand, exact, query)
    _same_ranking(wand, oracle_ix.search(query, k), query)


@pytest.fixture(scope="module")
def oracle_ix(env):
    rows = env["docs"].select("doc_id", "content").collect()
    return OracleIndex({r["doc_id"]: r["content"] for r in rows})


def test_wand_pruned_residents_match_unpruned(env):
    """salt pruning + resident term dictionaries are pure optimizations:
    results must be identical to the unpruned paths, including queries
    whose terms touch only a few salts."""
    df_lookup = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    salt_lookup = _salts_of(env["segments"])
    lens_by_salt = prepare_lens_by_salt(env["doc_lens"], SALT_RANGE)
    assert salt_lookup and all(len(v) >= 1 for v in salt_lookup.values())
    qmap = {
        "a": "parse json string",
        "b": "uniqterm000042",      # analyzer splits; '000042' -> 1 doc, 1 salt
        "c": "zzznotaterm",
        "d": "return data index query token merge",
    }
    plain = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, salt_range=SALT_RANGE,
    ).collect()
    pruned = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, salt_range=SALT_RANGE, lens_by_salt=lens_by_salt,
        df_lookup=df_lookup, salt_lookup=salt_lookup,
    ).collect()
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, plain))
    assert any(r["query_id"] == "b" for r in pruned)  # non-vacuous
    # a batch of one, pruned to its single salt
    q = "uniqterm000042"
    pruned1 = _wand(env, q, 5, lens_by_salt=lens_by_salt,
                    df_lookup=df_lookup, salt_lookup=salt_lookup)
    assert pruned1 == _wand(env, q, 5), q


@pytest.mark.parametrize("g", [2, 4, 100])
def test_wand_salt_group_factor_exact(env, g):
    """Coarse cogroup keys (salt_group_factor) are a pure task-dispatch
    optimization: a single query's results must be identical to G=1 at
    any factor, including one coarser than the salt count."""
    for q in ["parse json string", "return data index query token merge sort hash"]:
        base = _wand(env, q, 10)
        coarse = _wand(env, q, 10, salt_group_factor=g)
        _same_ranking(coarse, base, (q, g))


def test_term_dictionary_filtered_lookups(env):
    """The driver-resident term dictionary must (a) return the same df /
    salt sets as the full collects, (b) send ONLY the query's terms to
    its filtered collect — never the corpus vocabulary — and (c) cache
    hits and misses so repeats cost nothing."""
    from pyspark_codesearch.wand import TermDictionary

    td = TermDictionary(env["term_stats"], env["segments"])
    full_df = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    full_salts = _salts_of(env["segments"])

    terms = ["parse", "json", "zzznotaterm"]
    dfs, salts, _ = td.lookup3(terms)
    assert dfs == {t: full_df[t] for t in ["parse", "json"]}
    assert salts == {t: full_salts[t] for t in ["parse", "json"]}
    # only the asked-for terms ever reached a collect
    assert td.fetched_terms == set(terms)
    assert set(td._df) <= set(terms)
    # repeat + subset: no new fetches (hits AND the miss are cached)
    td.lookup3(["json", "zzznotaterm"])
    assert td.fetched_terms == set(terms)



def test_term_dictionary_is_thread_safe(env):
    """Serve's four workers share one dictionary: four threads look up
    overlapping term sets while a fifth keeps invalidating it. No lookup
    raises, and each returns what a single-threaded dictionary does."""
    import sys
    import threading
    import time
    from concurrent.futures import ThreadPoolExecutor

    from pyspark_codesearch.wand import TermDictionary

    sets = [["parse", "json", "zzznotaterm"], ["json", "data", "merge"],
            ["merge", "sort", "parse"], ["data", "zzznotaterm", "index"]]
    want = [TermDictionary(env["term_stats"], env["segments"]).lookup3(t) for t in sets]
    td = TermDictionary(env["term_stats"], env["segments"])

    def lookups(i):
        return [td.lookup3(sets[(i + j) % len(sets)]) for j in range(8)]

    done = threading.Event()

    def invalidations():
        n = 0
        while not done.is_set():
            td.invalidate()
            n += 1
            time.sleep(0.01)
        return n

    # five threads on a 4-core host, switching often
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        with ThreadPoolExecutor(5) as ex:
            inv = ex.submit(invalidations)
            try:
                got = list(ex.map(lookups, range(4), timeout=300))
            finally:
                done.set()
            assert inv.result(timeout=60) > 1
    finally:
        sys.setswitchinterval(interval)
    for i, results in enumerate(got):
        for j, r in enumerate(results):
            assert r == want[(i + j) % len(sets)]

def test_engine_wand_uses_filtered_dictionary(spark, sf_dir):
    """DocumentsEngine.search_wand must not collect the full vocabulary:
    after one query, the resident dictionary holds only that query's
    terms (the full-vocab collect was the scale weak spot). Its batch of
    one is rank- and score-identical to the exact scorer and the
    oracle."""
    from pyspark_codesearch.engine import DocumentsEngine

    eng = DocumentsEngine(spark, sf_dir)
    try:
        q = "table scan merge join"
        rows = [(r["doc_id"], r["score"]) for r in eng.search_wand(q, k=5).collect()]
        assert len(rows) > 0
        _same_ranking(rows, [(r["doc_id"], r["score"]) for r in eng.search(q, 5).collect()])
        docs = eng.docs.select("doc_id", "content").collect()
        oracle = OracleIndex({r["doc_id"]: r["content"] for r in docs})
        _same_ranking(rows, oracle.search(q, 5))
        td = eng._term_dict
        assert td.fetched_terms == {"table", "scan", "merge", "join"}
        assert set(td._df) | td._miss == td.fetched_terms
        n_vocab = eng.term_stats.count()
        assert len(td._df) < n_vocab
    finally:
        from pyspark_codesearch.engine import _ENGINE_CACHE

        _ENGINE_CACHE.pop((id(spark), sf_dir), None)


def test_wand_batch_matches_single(env):
    """A batch of N queries equals N batches of one: the per-group
    decode cache the batch's queries share leaks nothing between them.
    The queries overlap in terms (a cached full decode of one query's
    term is reused by the next) and one misses every term."""
    qmap = {"a": "parse json string", "b": "merge sort index", "c": "zzznotaterm",
            "d": "json index", "e": "return data index query token merge sort hash"}
    batch = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, salt_range=SALT_RANGE,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qmap.items():
        single = _wand(env, q, 5)
        # scores equal bit for bit, not to a tolerance: the same arrays
        # are summed in the same order
        assert by_q.get(qid, []) == single, qid
    assert set(by_q) == {"a", "b", "d", "e"}


def test_wand_batch_rows_in_query_rank_order(env):
    """The batch result arrives in (query_id, rank) order — the order a
    driver-side sort of the same rows gives — with ranks 1..n per query."""
    texts = ["parse json string", "merge sort index", "return data", "token query",
             "uniqterm000042", "read file buffer", "index merge", "data value",
             "json parse", "sort", "string token", "zzznotaterm"]
    qmap = {f"q{i}": q for i, q in enumerate(texts)}  # q10 sorts before q2
    # uncoalesced shuffle partitions: the rows of several partitions
    # meet at the end, so the order cannot come from one window task
    spark = env["segments"].sparkSession
    key = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        rows = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            qmap, 5, salt_range=SALT_RANGE,
        ).collect()
    finally:
        spark.conf.set(key, prev)
    assert len({r["query_id"] for r in rows}) >= 10
    assert rows == sorted(rows, key=lambda r: (r["query_id"], r["rank"]))
    for qid in qmap:
        ranks = [r["rank"] for r in rows if r["query_id"] == qid]
        assert ranks == list(range(1, len(ranks) + 1)), qid


def test_wand_batch_salt_group_factor_exact(env):
    """Coarse cogroup keys (salt_group_factor > 1) are a pure scheduling
    optimization: results identical to G=1."""
    df_lookup = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    salt_lookup = _salts_of(env["segments"])
    lens_by_salt = prepare_lens_by_salt(env["doc_lens"], SALT_RANGE)
    qmap = {
        "a": "parse json string",
        "b": "uniqterm000042",
        "c": "return data index query token merge",
    }
    kw = dict(salt_range=SALT_RANGE, lens_by_salt=lens_by_salt,
              df_lookup=df_lookup, salt_lookup=salt_lookup)
    base = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, salt_group_factor=1, **kw,
    ).collect()
    for g in (8, 10**6):  # coarse, single-task
        got = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            qmap, 5, salt_group_factor=g, **kw,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, base)), g
    assert any(r["query_id"] == "b" for r in base)


def test_search_topk_auto_dispatch(env, monkeypatch):
    """Cost dispatch routes on prunable posting volume and both routes
    return the same ranking (the two paths are rank-identical; dispatch
    is purely a latency decision)."""
    from pyspark_codesearch import engine
    from pyspark_codesearch.analysis import tokenize_py
    from pyspark_codesearch.engine import search_topk_auto
    from pyspark_codesearch.wand import TermDictionary

    td = TermDictionary(env["term_stats"], env["segments"])
    q = "parse json string"
    base = [(r["doc_id"], r["score"]) for r in bm25_topk(
        env["postings"], env["term_stats"], env["stats"], q, 10,
    ).collect()]

    def run(query=q, k=10):
        route: dict = {}
        dfs, salts, imps = td.lookup3(tokenize_py(query))
        out = search_topk_auto(
            env["postings"], env["segments"], env["doc_lens"],
            env["term_stats"], env["stats"], query, k,
            salt_range=SALT_RANGE, df_lookup=dfs, salt_lookup=salts,
            imp_lookup=imps, route_out=route,
        )
        assert route["wand_plan"] in (None, "selective")
        return out, route

    # small volume (300-doc corpus) -> exact path: one JVM plan, no
    # python scorer cogroup anywhere in it
    out, route = run()
    assert route["route"] == "exact" and route["matched_postings"] > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert [d for d, _ in got] == [d for d, _ in base]

    # a threshold below zero forces the WAND route (two-phase selective
    # plan: the θ hand-off collects eagerly, so assert via route_out +
    # results, not plan shape); rank-identical, scores to 1e-9
    with monkeypatch.context() as m:
        m.setattr(engine, "SEARCH_EXACT_MAX_POSTINGS", -1)
        out, route = run()
    assert route["route"] == "wand"
    assert route["phase2"] in ("proved_away", "seeded", "no_other_salts")
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert [d for d, _ in got] == [d for d, _ in base]
    for (_, s), (_, e) in zip(got, base):
        assert s == pytest.approx(e, abs=1e-9)

    # a rare term alone has nothing to prune: exact
    out, route = run("uniqterm000042", 5)
    assert route["route"] == "exact"
    assert out.count() >= 1


def test_wand_topk_selective_exactness_and_phases(env, oracle_ix):
    """Two-phase selective WAND (global-θ hand-off) is rank- and
    score-identical to the exact scorer and the oracle for every query
    shape, and its
    phase diagnostics behave: a dominant rare term either proves phase 2
    away or seeds it with θ₀; a commons-only query degenerates to
    phase 1 over all touched salts."""
    from pyspark_codesearch.wand import TermDictionary, wand_topk_selective

    td = TermDictionary(env["term_stats"], env["segments"])
    # a rare digit uniq-marker token (df ~ 1) as the selective anchor
    rare = (
        env["term_stats"].filter(F.col("term").rlike("^[0-9]+$"))
        .orderBy("df", "term").limit(1).collect()[0]["term"]
    )
    queries = [
        (f"{rare} parse json", 1),       # dominant head, tiny k
        (f"{rare} parse json string", 5),
        ("parse json string", 10),       # commons only
        (rare, 3),                       # head term alone
    ]
    seen_phases = set()
    for q, k in queries:
        from pyspark_codesearch.analysis import tokenize_py

        dfs, salts, imps = td.lookup3(tokenize_py(q))
        route: dict = {}
        got = wand_topk_selective(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, k, salt_range=SALT_RANGE, df_lookup=dfs, salt_lookup=salts,
            imp_lookup=imps, route_out=route,
        ).collect()
        base = bm25_topk(
            env["postings"], env["term_stats"], env["stats"], q, k,
        ).collect()
        got = [(r["doc_id"], r["score"]) for r in got]
        _same_ranking(got, [(r["doc_id"], r["score"]) for r in base], q)
        _same_ranking(got, oracle_ix.search(q, k), q)
        seen_phases.add(route.get("phase2"))
    # the fixture corpus must exercise BOTH the proved-away/no-other
    # fast path and the seeded phase-2 path
    assert "seeded" in seen_phases, seen_phases
    assert seen_phases & {"proved_away", "no_other_salts"}, seen_phases


def test_wand_init_theta_soundness(env):
    """An init_theta seed never loses a doc that belongs in the top-k:
    seeding a query with its TRUE k-th score keeps its results
    identical; seeding with +inf returns nothing for it (everything
    provably below the bar decodes nothing). Seeds are per query: the
    unseeded query of the same batch is unaffected."""
    q, other = "parse json string", "merge sort index"
    base = _wand(env, q, 10)
    kth = base[-1][1]
    _same_ranking(_wand(env, q, 10, init_theta={"q": kth}), base)
    assert _wand(env, q, 10, init_theta={"q": float("inf")}) == []
    rows = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        {"a": q, "b": other}, 10, salt_range=SALT_RANGE,
        init_theta={"a": float("inf")},
    ).collect()
    assert {r["query_id"] for r in rows} == {"b"}
    assert [(r["doc_id"], r["score"]) for r in rows] == _wand(env, other, 10)


def test_wand_init_theta_applies_at_coarse_groups(env):
    """The selective route's phase 2 runs at salt_group_factor 16: a
    seed at the true k-th score is exact there too."""
    q = "return data index query token merge sort hash"
    base = _wand(env, q, 3)
    seeded = _wand(env, q, 3, salt_group_factor=16, init_theta={"q": base[-1][1]})
    _same_ranking(seeded, base)


def test_term_dictionary_miss_does_not_block_hits(env):
    """A lookup whose terms are resident returns while another thread's
    miss is still collecting; a fill collected before an invalidate is
    returned to its caller but not kept."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    from pyspark_codesearch.wand import TermDictionary

    want = TermDictionary(env["term_stats"], env["segments"]).lookup3(["json"])
    td = TermDictionary(env["term_stats"], env["segments"])
    hit = td.lookup3(["parse"])
    entered, release = threading.Event(), threading.Event()
    real = td._side

    class Slow:
        """The side table, but its filtered collect waits to be released."""

        def __getattr__(self, name):
            return getattr(real, name)

        def filter(self, cond):
            q = real.filter(cond)

            class Held:
                def collect(self):
                    entered.set()
                    release.wait(120)
                    return q.collect()

            return Held()

    td._side = Slow()
    with ThreadPoolExecutor(2) as ex:
        try:
            miss = ex.submit(td.lookup3, ["json"])
            assert entered.wait(120)
            assert ex.submit(td.lookup3, ["parse"]).result(timeout=60) == hit
            td.invalidate()
        finally:
            release.set()
        assert miss.result(timeout=120) == want
    assert "json" not in td._df and not td._miss
