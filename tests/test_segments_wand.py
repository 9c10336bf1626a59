"""Compressed segments + block-max WAND scorer.

- segment roundtrip: decode(segments) == raw postings
- salting invariance: different salt_range -> identical decoded postings
- WAND rank identity: wand_topk == exact bm25_topk == oracle, incl. the
  pruning-active regime (small k, many candidates)
"""

import warnings

import numpy as np
import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.codecs import delta_decode, varbyte_decode
from pyspark_codesearch.corpus import corpus_df, ingest
from pyspark_codesearch.indexing import (
    build_postings,
    build_postings_with_dl,
    build_segments,
    build_term_stats,
    corpus_stats,
)
from pyspark_codesearch.oracle import OracleIndex
from pyspark_codesearch.scoring import bm25_topk
from pyspark_codesearch.wand import prepare_lens_by_salt, wand_topk

N_DOCS = 300
SALT_RANGE = 64  # small so salting actually splits the corpus


@pytest.fixture(scope="module")
def env(spark):
    docs = ingest(corpus_df(spark, N_DOCS, seed=7)).cache()
    postings = build_postings(docs).cache()
    postings_dl = build_postings_with_dl(docs).cache()
    stats = corpus_stats(docs)
    doc_lens = docs.select("doc_id", "doc_len").cache()
    segments = build_segments(postings_dl, stats, salt_range=SALT_RANGE).cache()
    return {
        "docs": docs,
        "postings": postings,
        "postings_dl": postings_dl,
        "stats": stats,
        "doc_lens": doc_lens,
        "segments": segments,
        "term_stats": build_term_stats(postings),
    }


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
    unsalted = build_segments(env["postings_dl"], env["stats"], salt_range=1 << 40)
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
    exact = bm25_topk(
        env["postings"], env["doc_lens"], env["term_stats"], env["stats"], query, k
    ).collect()
    wand = wand_topk(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        query, k, salt_range=SALT_RANGE,
    ).collect()
    assert [r["doc_id"] for r in wand] == [r["doc_id"] for r in exact], query
    for w, e in zip(wand, exact):
        assert w["score"] == pytest.approx(e["score"], abs=1e-9)
    expected = oracle_ix.search(query, k)
    assert [r["doc_id"] for r in wand] == [d for d, _ in expected], query
    for w, (_, s) in zip(wand, expected):
        assert w["score"] == pytest.approx(s, abs=1e-9)


@pytest.fixture(scope="module")
def oracle_ix(env):
    rows = env["docs"].select("doc_id", "content").collect()
    return OracleIndex({r["doc_id"]: r["content"] for r in rows})


def test_wand_pruned_residents_match_unpruned(env):
    """salt pruning + resident term dictionaries are pure optimizations:
    results must be identical to the unpruned paths, including queries
    whose terms touch only a few salts."""
    from pyspark_codesearch.wand import (
        collect_term_salts,
        prepare_lens_by_salt,
        wand_topk_batch,
    )

    df_lookup = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    salt_lookup = collect_term_salts(env["segments"])
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
    # single-query pruned path too
    for q in ["uniqterm000042", "parse json string"]:
        plain1 = wand_topk(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, 5, salt_range=SALT_RANGE,
        ).collect()
        pruned1 = wand_topk(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, 5, salt_range=SALT_RANGE, lens_by_salt=lens_by_salt,
            df_lookup=df_lookup, salt_lookup=salt_lookup,
        ).collect()
        assert [tuple(r) for r in pruned1] == [tuple(r) for r in plain1], q


@pytest.mark.parametrize("g", [2, 4, 100])
def test_wand_salt_group_factor_exact(env, g):
    """Coarse cogroup keys (salt_group_factor) are a pure task-dispatch
    optimization: results must be identical to G=1 at any factor,
    including one coarser than the salt count."""
    for q in ["parse json string", "return data index query token merge sort hash"]:
        base = wand_topk(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, 10, salt_range=SALT_RANGE,
        ).collect()
        coarse = wand_topk(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, 10, salt_range=SALT_RANGE, salt_group_factor=g,
        ).collect()
        assert [r["doc_id"] for r in coarse] == [r["doc_id"] for r in base], (q, g)
        for c, b in zip(coarse, base):
            assert c["score"] == pytest.approx(b["score"], abs=1e-9)


def test_term_dictionary_filtered_lookups(env):
    """The driver-resident term dictionary must (a) return the same df /
    salt sets as the full collects, (b) send ONLY the query's terms to
    its filtered collect — never the corpus vocabulary — and (c) cache
    hits and misses so repeats cost nothing."""
    from pyspark_codesearch.wand import TermDictionary, collect_term_salts

    td = TermDictionary(env["term_stats"], env["segments"])
    full_df = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    full_salts = collect_term_salts(env["segments"])

    terms = ["parse", "json", "zzznotaterm"]
    dfs, salts = td.lookup(terms)
    assert dfs == {t: full_df[t] for t in ["parse", "json"]}
    assert salts == {t: full_salts[t] for t in ["parse", "json"]}
    # only the asked-for terms ever reached a collect
    assert td.fetched_terms == set(terms)
    assert set(td._df) <= set(terms)
    # repeat + subset: no new fetches (hits AND the miss are cached)
    td.lookup(["json", "zzznotaterm"])
    assert td.fetched_terms == set(terms)


def test_engine_wand_uses_filtered_dictionary(spark):
    """DocumentsEngine.search_wand must not collect the full vocabulary:
    after one query, the resident dictionary holds only that query's
    terms (the full-vocab collect was the scale weak spot)."""
    from pyspark_codesearch.engine import DocumentsEngine

    eng = DocumentsEngine(spark, "/root/testdata/sf0.001")
    try:
        rows = eng.search_wand("table scan merge join", k=5).collect()
        assert len(rows) > 0
        td = eng._term_dict
        assert td.fetched_terms == {"table", "scan", "merge", "join"}
        assert set(td._df) | td._miss == td.fetched_terms
        n_vocab = eng.term_stats.count()
        assert len(td._df) < n_vocab
    finally:
        from pyspark_codesearch.engine import _ENGINE_CACHE

        _ENGINE_CACHE.pop((id(spark), "/root/testdata/sf0.001"), None)


def test_wand_batch_matches_single(env):
    from pyspark_codesearch.wand import wand_topk_batch

    qmap = {"a": "parse json string", "b": "merge sort index", "c": "zzznotaterm"}
    batch = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, salt_range=SALT_RANGE,
    ).collect()
    by_q = {}
    for r in batch:
        by_q.setdefault(r["query_id"], []).append((r["doc_id"], r["score"]))
    for qid, q in qmap.items():
        single = wand_topk(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            q, 5, salt_range=SALT_RANGE,
        ).collect()
        got = by_q.get(qid, [])
        assert [d for d, _ in got] == [r["doc_id"] for r in single], qid
        for (_, s), r in zip(got, single):
            assert s == pytest.approx(r["score"], abs=1e-9)


def test_wand_batch_salt_group_factor_exact(env):
    """Coarse cogroup keys (salt_group_factor > 1, incl. auto) are a pure
    scheduling optimization: results identical to G=1."""
    from pyspark_codesearch.wand import (
        collect_term_salts,
        prepare_lens_by_salt,
        wand_topk_batch,
    )

    df_lookup = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    salt_lookup = collect_term_salts(env["segments"])
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
    for g in (8, 10**6, None):  # coarse, single-task, auto
        got = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            qmap, 5, salt_group_factor=g, **kw,
        ).collect()
        assert sorted(map(tuple, got)) == sorted(map(tuple, base)), g
    assert any(r["query_id"] == "b" for r in base)


def test_search_topk_auto_dispatch(env):
    """Cost dispatch routes on matched posting volume and both routes
    return the same ranking (the two paths are rank-identical; dispatch
    is purely a latency decision)."""
    from pyspark_codesearch.engine import search_topk_auto

    q = "parse json string"
    base = [(r["doc_id"], r["score"]) for r in bm25_topk(
        env["postings_dl"], env["doc_lens"], env["term_stats"], env["stats"], q, 10,
    ).collect()]

    def run(budget):
        route: dict = {}
        out = search_topk_auto(
            env["postings_dl"], env["segments"], env["doc_lens"],
            env["term_stats"], env["stats"], q, 10,
            salt_range=SALT_RANGE, max_exact_postings=budget, route_out=route,
        )
        return out, route

    # small volume (300-doc corpus) -> exact path: one JVM plan, no
    # python scorer cogroup anywhere in it
    out, route = run(10**9)
    assert route["route"] == "exact" and route["matched_postings"] > 0
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapCoGroupsInPandas" not in plan
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert [d for d, _ in got] == [d for d, _ in base]

    # budget 0 forces the WAND route (two-phase selective plan: the θ
    # hand-off collects eagerly, so assert via route_out + results, not
    # plan shape); rank-identical, scores to 1e-9
    out, route = run(0)
    assert route["route"] == "wand"
    assert route["phase2"] in ("proved_away", "seeded", "no_other_salts")
    got = [(r["doc_id"], r["score"]) for r in out.collect()]
    assert [d for d, _ in got] == [d for d, _ in base]
    for (_, s), (_, e) in zip(got, base):
        assert s == pytest.approx(e, abs=1e-9)

    # no df_lookup provided -> the dispatcher seeks term_stats itself
    route = {}
    out = search_topk_auto(
        env["postings_dl"], env["segments"], env["doc_lens"],
        env["term_stats"], env["stats"], "uniqterm000042", 5,
        salt_range=SALT_RANGE, route_out=route,
    )
    assert route["route"] == "exact"
    assert out.count() >= 1


def test_wand_topk_selective_exactness_and_phases(env):
    """Two-phase selective WAND (global-θ hand-off) is rank- and
    score-identical to the exact scorer for every query shape, and its
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
            env["postings_dl"], env["doc_lens"], env["term_stats"],
            env["stats"], q, k,
        ).collect()
        assert [r["doc_id"] for r in got] == [r["doc_id"] for r in base], q
        for g, e in zip(got, base):
            assert g["score"] == pytest.approx(e["score"], abs=1e-9), q
        seen_phases.add(route.get("phase2"))
    # the fixture corpus must exercise BOTH the proved-away/no-other
    # fast path and the seeded phase-2 path
    assert "seeded" in seen_phases, seen_phases
    assert seen_phases & {"proved_away", "no_other_salts"}, seen_phases


def test_wand_init_theta_soundness(env):
    """wand_topk with an init_theta seed never loses a doc that belongs
    in the top-k: seeding with the TRUE k-th score keeps results
    identical; seeding with +inf returns nothing (everything provably
    below the bar decodes nothing)."""
    q = "parse json string"
    base = wand_topk(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"], q, 10,
        salt_range=SALT_RANGE,
    ).collect()
    kth = base[-1]["score"]
    seeded = wand_topk(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"], q, 10,
        salt_range=SALT_RANGE, init_theta=kth,
    ).collect()
    assert [r["doc_id"] for r in seeded] == [r["doc_id"] for r in base]
    for s, e in zip(seeded, base):
        assert s["score"] == pytest.approx(e["score"], abs=1e-9)
    none = wand_topk(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"], q, 10,
        salt_range=SALT_RANGE, init_theta=float("inf"),
    ).collect()
    assert none == []


def test_wand_batch_gemm_strategy_exact(env):
    """strategy='gemm' (one C @ W matmul per group) is result-identical
    to the MaxScore loop: same docs, same ranks, scores to 1e-9."""
    from pyspark_codesearch.wand import (
        collect_term_salts,
        prepare_lens_by_salt,
        wand_topk_batch,
    )

    df_lookup = {r["term"]: int(r["df"]) for r in env["term_stats"].collect()}
    salt_lookup = collect_term_salts(env["segments"])
    lens_by_salt = prepare_lens_by_salt(env["doc_lens"], SALT_RANGE)
    qmap = {
        "a": "parse json string",
        "b": "uniqterm000042",
        "c": "return data index query token merge",
        "d": "zzznotaterm only unknowns qq",
        "e": "index",
    }
    kw = dict(salt_range=SALT_RANGE, lens_by_salt=lens_by_salt,
              df_lookup=df_lookup, salt_lookup=salt_lookup)
    base = wand_topk_batch(
        env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
        qmap, 5, strategy="maxscore", **kw,
    ).collect()
    bk = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in base}
    for strat in ("gemm", "auto"):
        got = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            qmap, 5, strategy=strat, **kw,
        ).collect()
        gk = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in got}
        assert bk.keys() == gk.keys(), strat
        for key in bk:
            assert bk[key][0] == gk[key][0], (strat, key)
            assert gk[key][1] == pytest.approx(bk[key][1], abs=1e-9), (strat, key)
    # auto falls back to maxscore when the dense matrix would exceed budget
    import pyspark_codesearch.wand as wand_mod
    old_budget = wand_mod.GEMM_BUDGET_CELLS
    try:
        wand_mod.GEMM_BUDGET_CELLS = 0
        tiny = wand_topk_batch(
            env["segments"], env["doc_lens"], env["term_stats"], env["stats"],
            qmap, 5, strategy="auto", **kw,
        ).collect()
    finally:
        wand_mod.GEMM_BUDGET_CELLS = old_budget
    tk = {(r["query_id"], r["rank"]): (r["doc_id"], r["score"]) for r in tiny}
    assert tk.keys() == bk.keys()
    assert any(r["query_id"] == "b" for r in base)
    with pytest.raises(ValueError):
        wand_topk_batch(env["segments"], env["doc_lens"], env["term_stats"],
                        env["stats"], qmap, 5, strategy="nope", **kw)
