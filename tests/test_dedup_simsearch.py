"""Behavioral tests for the dedup operators on planted cases."""

import pytest

from pyspark_codesearch.operators.dedup import (
    exact_duplicates,
    lsh_candidate_pairs,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_pairs,
)

BASE = (
    "def parse_json_string(buffer): return decode(buffer) "
    "read file stream and merge sort the index tokens for query scan"
)


@pytest.fixture(scope="module")
def planted(spark):
    rows = [
        (0, BASE),
        (1, BASE),                                   # exact dup of 0
        (2, BASE.replace("merge sort", "quick sort")),  # near dup
        (3, "completely different content about transformer attention models"),
        (4, BASE),                                   # another exact dup
        (5, "unrelated short text"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string").cache()


def test_exact_duplicates(planted):
    got = {(r["doc_id"], r["canonical_id"]) for r in exact_duplicates(planted).collect()}
    assert got == {(0, 0), (1, 0), (4, 0)}


def test_lsh_finds_exact_and_near(planted):
    pairs = {(r["doc_a"], r["doc_b"]) for r in lsh_candidate_pairs(planted).collect()}
    assert (0, 1) in pairs and (0, 4) in pairs and (1, 4) in pairs
    assert (0, 2) in pairs  # near dup shares most shingles
    assert (0, 3) not in pairs and (3, 5) not in pairs


def test_lsh_production_sized_signatures(planted):
    """The defaults (16 hashes / 4 bands) are fixture-sized; the operator
    must behave at production settings too. (128, 32) keeps r=4 but
    lowers the S-curve threshold to ~0.42 (recall-oriented); (128, 16)
    raises r to 8, threshold ~0.71 with a sharper curve (precision-
    oriented) — exact dups always collide, unrelated docs never do."""
    for n_hashes, n_bands in ((128, 32), (128, 16)):
        pairs = {
            (r["doc_a"], r["doc_b"])
            for r in lsh_candidate_pairs(
                planted, n_hashes=n_hashes, n_bands=n_bands
            ).collect()
        }
        assert {(0, 1), (0, 4), (1, 4)} <= pairs, (n_hashes, n_bands)
        assert (0, 3) not in pairs and (3, 5) not in pairs, (n_hashes, n_bands)
    # recall-oriented setting must catch the near dup
    recall_pairs = {
        (r["doc_a"], r["doc_b"])
        for r in lsh_candidate_pairs(planted, n_hashes=128, n_bands=32).collect()
    }
    assert (0, 2) in recall_pairs


def test_ngram_jaccard_scores(planted):
    rows = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in ngram_jaccard_pairs(planted, threshold=0.3).collect()}
    assert rows[(0, 1)] == 1.0 and rows[(0, 4)] == 1.0
    assert 0.3 <= rows[(0, 2)] < 1.0


def test_simhash_properties(planted):
    sh = {r["doc_id"]: r["simhash"] for r in simhash(planted).collect()}
    assert sh[0] == sh[1] == sh[4]
    assert all(v >= 0 for v in sh.values())
    ham02 = bin(sh[0] ^ sh[2]).count("1")
    ham03 = bin(sh[0] ^ sh[3]).count("1")
    assert ham02 < ham03  # near dup closer than unrelated


def test_simhash_pandas_bit_identical(planted, spark, sf_dir):
    """The shuffle-free Arrow variant must produce the EXACT signatures of
    the column-expression version — on the planted fixture and on the
    driver documents table (varied real-ish texts)."""
    from pyspark_codesearch.operators.dedup import simhash_pandas

    for df in (planted, spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)):
        a = {r["doc_id"]: r["simhash"] for r in simhash(df).collect()}
        b = {r["doc_id"]: r["simhash"] for r in simhash_pandas(df).collect()}
        assert a == b and len(a) > 0
    # and the plan really is shuffle-free: one ArrowEvalPython, no exchange
    plan = simhash_pandas(planted)._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan
    assert "Exchange hashpartitioning" not in plan


def test_simhash_near_pairs(planted):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in simhash_near_pairs(planted, max_hamming=10).collect()}
    assert pairs[(0, 1)] == 0 and pairs[(0, 4)] == 0
    assert (0, 3) not in pairs


def test_simhash_chunk_plan():
    from pyspark_codesearch.operators.dedup import chunk_plan

    assert chunk_plan(3) == (4, 15)   # the historical default
    assert chunk_plan(8) == (10, 6)   # pigeonhole needs >= 9 chunks
    assert chunk_plan(0) == (1, 60)
    assert chunk_plan(11) == (12, 5)
    with pytest.raises(ValueError):
        chunk_plan(60)


def test_simhash_near_pairs_complete_at_radius_8(spark, sf_dir):
    """Recall-completeness at hamming 8 (the driver entry's radius): the
    chunk-equality candidate join must find EXACTLY the pairs a brute
    force O(n^2) hamming scan finds — the old fixed 4-chunk split only
    guaranteed radius 3 and silently dropped pairs differing in all four
    chunks."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(200)
    sigs = {r["doc_id"]: r["simhash"] for r in simhash(docs).collect()}
    ids = sorted(sigs)
    brute = {
        (a, b): bin(sigs[a] ^ sigs[b]).count("1")
        for i, a in enumerate(ids)
        for b in ids[i + 1 :]
        if bin(sigs[a] ^ sigs[b]).count("1") <= 8
    }
    got = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(docs, max_hamming=8).collect()
    }
    assert got == brute


def test_near_pairs_signature_side_shuffle_free(planted):
    """simhash_near_pairs rides the Arrow signature path by default: the
    chunks side of the candidate join must contain NO Exchange (the only
    shuffles in the full plan are the equi-join + candidate distinct)."""
    from pyspark_codesearch.operators.dedup import chunk_plan, simhash_pandas

    sig = simhash_pandas(planted, ordered=False)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan, plan
    # and the pandas default equals the column-expr variant's pairs
    a = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(planted, max_hamming=6).collect()
    }
    b = {
        (r["doc_a"], r["doc_b"]): r["hamming"]
        for r in simhash_near_pairs(planted, max_hamming=6, use_pandas=False).collect()
    }
    assert a == b
