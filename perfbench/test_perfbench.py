"""Tests of the benchmark's own logic (no Spark session needed).

    python -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from reference import Reference, check_topk  # noqa: E402
from spans import Tracer  # noqa: E402
from stats import goodput  # noqa: E402


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_corpus_parquet_is_byte_identical_per_seed(tmp_path):
    paths = []
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        p = str(tmp_path / f"{name}.parquet")
        gen.write_corpus(gen.make_corpus(60, seed), p)
        paths.append(p)
    assert _sha(paths[0]) == _sha(paths[1])
    assert _sha(paths[0]) != _sha(paths[2])


def test_query_lists_are_deterministic_per_seed():
    pool = gen.make_query_pool(100, 3)
    assert pool == gen.make_query_pool(100, 3)
    assert pool != gen.make_query_pool(100, 4)
    assert gen.draw_queries(pool, 50, 3, 1) == gen.draw_queries(pool, 50, 3, 1)
    assert gen.draw_queries(pool, 50, 3, 1) != gen.draw_queries(pool, 50, 3, 2)
    assert {k for k, _ in pool} == set(gen.QUERY_KINDS)


def test_every_draw_has_the_same_kind_mix():
    assert gen.kind_counts(20) == [8, 6, 5, 1]
    assert all(sum(gen.kind_counts(n)) == n for n in range(1, 50))
    for seed in (3, 4):
        pool = gen.make_query_pool(100, seed)
        assert [k for k, _ in pool].count("rare") == gen.kind_counts(gen.N_TEMPLATES)[2]
        drawn = [k for k, _ in gen.draw_queries(pool, 20, seed, 1)]
        assert [drawn.count(k) for k in gen.QUERY_KINDS] == gen.kind_counts(20)


def test_templates_repeat_under_zipf_draws():
    qs = gen.draw_queries(gen.make_query_pool(100, 3), 200, 3, 0)
    assert len(set(qs)) < len(qs)


def test_generated_tokens_match_the_analyzer():
    c = gen.make_corpus(40, 5)
    for text, toks in zip(c.content, c.tokens):
        assert gen.analyze(text) == toks
    assert gen.analyze("parseJson read_file utf8 uniqterm000012 HTTPServer the") == [
        "parse", "json", "read", "file", "utf", "8", "uniqterm", "000012", "http", "server",
    ]


def test_analyzer_agrees_with_the_program():
    analysis = pytest.importorskip("pyspark_codesearch.analysis")
    c = gen.make_corpus(40, 6)
    for text in c.content:
        assert analysis.tokenize_py(text) == gen.analyze(text)


def test_oov_queries_match_nothing():
    c = gen.make_corpus(200, 9)
    ref = Reference(dict(zip(c.path, c.tokens)))
    oov = [q for k, q in gen.make_query_pool(200, 9) if k == "oov"]
    assert oov and all(ref.scores(q) == {} for q in oov)


def test_due_times_are_seeded_sorted_poisson_arrivals():
    a = gen.due_times(2.0, 10.0, 1)
    assert a == gen.due_times(2.0, 10.0, 1)
    assert a != gen.due_times(2.0, 10.0, 2)
    assert len(a) == 20 and a == sorted(a) and 0.0 <= a[0] and a[-1] < 10.0
    # given the count, Poisson arrivals are uniform over the window: the
    # gaps are exponential with mean 1 / rate (coefficient of variation 1)
    gaps = np.concatenate([np.diff(gen.due_times(2.0, 10.0, s)) for s in range(300)])
    assert np.mean(gaps) == pytest.approx(10.0 / 21, rel=0.05)
    assert np.std(gaps) / np.mean(gaps) == pytest.approx(1.0, rel=0.1)
    assert gen.due_times(0.01, 1.0, 3) != [] and len(gen.due_times(0.01, 1.0, 3)) == 1


def test_goodput_counts_correct_requests_within_the_limit():
    # a failed request (None) and one over the limit do not count
    assert goodput([0.2, None, 3.0, 0.4], 2.5, 2.0) == pytest.approx(1.0)


def test_reference_bm25_formula():
    ref = Reference({"a": ["x", "y"], "b": ["x", "x", "z"]})
    n, avgdl = 2, 2.5
    idf = math.log(1 + (n - 2 + 0.5) / (2 + 0.5))
    want_b = idf * 2 / (2 + 1.2 * (1 - 0.75 + 0.75 * 3 / avgdl))
    assert ref.scores("x")["b"] == pytest.approx(want_b, rel=1e-12)
    assert set(ref.scores("x y")) == {"a", "b"} and ref.scores("w") == {}


def test_tie_aware_comparator():
    expected = {"a": 3.0, "b": 2.0, "c": 2.0, "d": 1.0}
    assert check_topk([("a", 3.0), ("b", 2.0)], expected, 2) is None
    # c ties b at the boundary: either may fill the last slot
    assert check_topk([("a", 3.0), ("c", 2.0 + 1e-15)], expected, 2) is None
    assert "missing" in check_topk([("b", 2.0), ("c", 2.0)], expected, 2)
    assert "scored" in check_topk([("a", 3.0), ("b", 2.1)], expected, 2)
    assert "results" in check_topk([("a", 3.0)], expected, 2)
    assert "sorted" in check_topk([("b", 2.0), ("a", 3.0)], expected, 2)
    assert "does not match" in check_topk([("a", 3.0), ("e", 2.0)], expected, 2)
    assert check_topk([], {}, 10) is None


def test_self_time_subtracts_children():
    t = Tracer(True)
    with t.span("request", "r1"):
        with t.span("engine.plan"):
            pass
    root = next(s for s in t.spans if s["name"] == "request")
    child = next(s for s in t.spans if s["name"] == "engine.plan")
    assert child["parent"] == root["id"] and child["request"] == "r1"
    own = t.self_times()
    assert own["request"] + own["engine"] == pytest.approx(root["end"] - root["start"])
    shares = t.request_shares(("engine", "wand"))
    assert shares["wand.self_share"] == 0.0 and 0.0 <= shares["engine.self_share"] <= 1.0
    assert Tracer(False).span("x") is not None and Tracer(False).spans == []


def test_normalize_scales_times_and_rates_only():
    from calib import normalize

    e2e = {"t": (2.0, "s", "time"), "r": (10.0, "1/s", "rate"), "m": (5.0, "MB", None)}
    # a host twice as slow as the reference: scale 0.5
    assert normalize(e2e, 0.5) == {"t": (1.0, "s"), "r": (20.0, "1/s"), "m": (5.0, "MB")}


def test_calibration_probe_samples_and_stops(tmp_path):
    import time

    from calib import Calibration

    cal = Calibration(str(tmp_path / "probe.txt"))
    cal.start()
    time.sleep(1.0)
    proc = cal.proc
    cal.stop()
    assert proc.poll() is not None and cal.proc is None
    assert len(cal.samples) >= 2 and cal.probe_s() > 0 and cal.scale() > 0
