"""Mimic the driver's correctness gate: for every queries() entry with an
oracle, run the Spark DataFrame AND the DuckDB SQL on the same parquet and
compare row count, column names, and (column-name-sorted) values."""

import math

import duckdb
import pytest

import __spark_entry__ as entry_mod

TABLES = ["documents", "embeddings"]

# every search behaviour that remains keeps an entry AND an oracle; a
# deletion that drops one of these fails here, not silently
SEARCH_ENTRIES = {
    "bm25_bestfields_multifield", "bm25_topk_camelcase", "bm25_topk_scan_merge",
    "bm25_topk_with_miss", "bm25_wand_mixed_rarity", "bm25_wand_scan_merge",
    "a1_bucket_order_best_chunk", "hybrid_bm25_cosine_topk",
    "sc6_minmax_normalized_topk", "t4_offset_pagination", "chunker_1_to_n",
    "merge_upsert_docs", "s9_delete_by_id", "s9_point_lookup",
}


def _duck(sf_dir):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    return v


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


@pytest.fixture(scope="module")
def con(sf_dir):
    c = _duck(sf_dir)
    yield c
    c.close()


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.collect()
    assert len(rows) >= 0
    assert df.columns == ["doc_id", "score"]
    assert len(rows) > 0  # flagship query should actually match docs


def test_every_oracle_key_has_query():
    q = entry_mod.queries()
    o = entry_mod.oracle_sql()
    assert set(o) <= set(q)
    assert len(q) > 0


def test_search_entries_keep_their_oracles():
    bm25 = {n for n in entry_mod.queries() if n.startswith("bm25_")}
    missing = (SEARCH_ENTRIES | bm25) - set(entry_mod.oracle_sql())
    assert not missing, sorted(missing)


def test_bm25_queries_nonempty(spark, sf_dir):
    # guard against vacuous parity: every bm25 entry must actually match docs
    for name, fn in entry_mod.queries().items():
        if name.startswith("bm25_"):
            assert fn(spark, sf_dir).count() > 0, f"{name} matched nothing"


@pytest.mark.parametrize("name", sorted(entry_mod.oracle_sql()))
def test_query_matches_oracle(spark, sf_dir, con, name):
    q = entry_mod.queries()[name]
    sql = entry_mod.oracle_sql()[name]
    sdf = q(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    scols = list(sdf.columns)
    ores = con.execute(sql).fetchall()
    ocols = [d[0] for d in con.description]
    assert sorted(scols) == sorted(ocols), f"{name}: column names differ"
    assert len(srows) == len(ores), f"{name}: row count {len(srows)} != {len(ores)}"
    assert _normalize(srows, scols) == _normalize(ores, ocols), f"{name}: values differ"
