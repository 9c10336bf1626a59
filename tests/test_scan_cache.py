"""Snapshot-pinned scans are kept per index version: reading an unchanged
table or bucket set again returns the same DataFrame and plans nothing,
and a rewrite of any file behind a scan (an upsert, a rebuild that
re-creates a version dir under its old name) is never served from the
cache. Threads share the cache and the listing memo of
``session.read_rows``."""

import os
import sys
import threading

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameReader

from pyspark_codesearch import lineage
from pyspark_codesearch.codecs import delta_decode
from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.lineage import (
    build_index_resumable,
    buckets_for_terms,
    load_segments,
    load_segments_for_terms,
    read_table,
    upsert_index,
)
from pyspark_codesearch.session import MEMO_LOCK, read_rows

SALT_RANGE = 32
TERMS = {"parse", "json", "merge", "sort"}


@pytest.fixture
def parquet_reads(monkeypatch):
    """Counts DataFrameReader.parquet calls: each one builds a scan."""
    calls = []
    parquet = DataFrameReader.parquet

    def counted(self, *paths, **options):
        calls.append(paths)
        return parquet(self, *paths, **options)

    monkeypatch.setattr(DataFrameReader, "parquet", counted)
    return calls


def _terms(df):
    return {r["term"] for r in df.select("term").distinct().collect()}


def test_scan_reused_while_version_unchanged(spark, tmp_path, parquet_reads):
    """Two reads of an unchanged index return the same DataFrames and the
    second builds no scan; after an upsert the next read sees its doc."""
    out = str(tmp_path / "idx")
    build_index_resumable(ingest_bucketed(corpus_df(spark, 80, seed=4), n_buckets=1),
                          out, n_buckets=4, salt_range=SALT_RANGE)
    first = (load_segments_for_terms(spark, out, TERMS), read_table(spark, out, "doc_lens"))
    n_reads = len(parquet_reads)
    again = (load_segments_for_terms(spark, out, TERMS), read_table(spark, out, "doc_lens"))
    assert again[0] is first[0] and again[1] is first[1]
    assert len(parquet_reads) == n_reads

    delta = ingest_documents_df(spark.createDataFrame(
        [(10_000, "uniqscanterm parse json")], "doc_id long, text string"
    )).withColumn("lang", F.lit("python"))
    upsert_index(spark, out, delta)
    segs = load_segments_for_terms(spark, out, TERMS)
    assert segs is not first[0]
    blocks = read_rows(segs, {"term": ["parse"]})["doc_ids_enc"]
    assert 10_000 in {int(i) for b in blocks for i in delta_decode(b)}
    lens = read_table(spark, out, "doc_lens")
    assert lens is not first[1] and 10_000 in set(read_rows(lens)["doc_id"])


def _pinned_dirs(out):
    """The version dirs named by the kept scans of index ``out``."""
    root = os.path.realpath(out) + os.sep
    with MEMO_LOCK:
        keys = list(lineage._SCANS)
    return {d for k in keys for d, _ in k[2] if d.startswith(root)}


def _superseded(vdir):
    """Whether the table path of version dir ``vdir`` now points elsewhere."""
    vroot = os.path.dirname(vdir)
    name = os.path.basename(vroot)[1:-len(".versions")]
    return os.path.realpath(os.path.join(os.path.dirname(vroot), name)) != vdir


def test_swap_drops_scans_of_superseded_versions(spark, tmp_path):
    """The writer reads the versions it publishes through read_table, and
    a reader keeps the scans of its batches: once an upsert supersedes
    a version, no kept scan names it, so dead versions take no slot of
    SCAN_CACHE_SIZE. Scans of versions the upsert left alone stay."""
    out = str(tmp_path / "idx")
    build_index_resumable(ingest_bucketed(corpus_df(spark, 80, seed=6), n_buckets=1),
                          out, n_buckets=4, salt_range=SALT_RANGE)
    load_segments_for_terms(spark, out, TERMS)
    read_table(spark, out, "doc_lens")
    before = _pinned_dirs(out)
    assert before and not any(_superseded(d) for d in before)
    delta = ingest_documents_df(spark.createDataFrame(
        [(10_000, "uniqscanterm parse")], "doc_id long, text string"
    )).withColumn("lang", F.lit("python"))
    upsert_index(spark, out, delta)
    assert any(_superseded(d) for d in before)
    after = _pinned_dirs(out)
    assert after and not any(_superseded(d) for d in after)
    assert after & before  # the buckets the upsert did not rewrite


def _word(gen, j):
    """A one-token word of its own per (gen, j): letters only, which the
    analyzer keeps whole."""
    return f"gen{'xyz'[gen - 1]}" + "".join(chr(97 + int(c)) for c in str(j))


def _docs(spark, gen):
    rows = [(j, f"{_word(gen, j)} {_word(gen, j + 1)}") for j in range(40)]
    return ingest_documents_df(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).withColumn("lang", F.lit("python"))


def _bucket2_terms(spark, docs):
    tokens = _terms(docs.select(F.explode("tokens").alias("term")))
    return {t for t in tokens if buckets_for_terms(spark, [t], 4) == [2]}


def test_rebuilt_version_dir_is_not_served_from_cache(spark, tmp_path):
    """Rebuilding into one out_dir with 4, then 2, then 4 term buckets
    drops bucket 2 and re-creates ``.bucket=2.versions/v000000001`` with
    other files: the scan of that path read after the first build must
    not answer for it after the third (a cache keyed by path would)."""
    out = str(tmp_path / "idx")
    bucket2 = os.path.join(out, "segments", "bucket=2")
    vdir = os.path.join(out, "segments", ".bucket=2.versions", "v000000001")
    first, last = _docs(spark, 1), _docs(spark, 3)
    build_index_resumable(first, out, n_buckets=4, salt_range=SALT_RANGE)
    assert os.path.realpath(bucket2) == os.path.realpath(vdir)
    stale = load_segments(spark, out, buckets=[2])
    assert _terms(stale) == _bucket2_terms(spark, first)
    build_index_resumable(_docs(spark, 2), out, n_buckets=2, salt_range=SALT_RANGE)
    assert not os.path.exists(vdir)
    build_index_resumable(last, out, n_buckets=4, salt_range=SALT_RANGE)
    assert os.path.realpath(bucket2) == os.path.realpath(vdir)
    segs = load_segments(spark, out, buckets=[2])
    want = _bucket2_terms(spark, last)
    assert segs is not stale and want and want != _bucket2_terms(spark, first)
    assert _terms(segs) == want
    assert set(read_rows(segs)["term"]) == want


def test_threads_share_scans_within_bound(spark, tmp_path, monkeypatch):
    """4 threads x 20 calls of load_segments_for_terms + read_rows on one
    index, over term sets that touch different buckets, with a cache
    smaller than the bucket sets: every call of a term set reads the
    same rows, and the cache never holds more than its bound."""
    out = str(tmp_path / "idx")
    build_index_resumable(ingest_bucketed(corpus_df(spark, 80, seed=5), n_buckets=1),
                          out, n_buckets=4, salt_range=SALT_RANGE)
    monkeypatch.setattr(lineage, "SCAN_CACHE_SIZE", 2)
    sets = [{"parse"}, {"json"}, {"merge"}, {"sort"}, TERMS]
    assert len({tuple(buckets_for_terms(spark, s, 4)) for s in sets}) > 2

    def rows(terms):
        segs = load_segments_for_terms(spark, out, terms)
        got = read_rows(segs, {"term": sorted(terms)})
        return sorted(zip(got["term"], got["salt"], got["block_id"], got["doc_ids_enc"]))

    want = [rows(s) for s in sets]
    assert all(want)
    seen, errors, sizes = [], [], []

    def worker(w):
        try:
            for i in range(20):
                j = (w + i) % len(sets)
                seen.append(rows(sets[j]) == want[j])
                with MEMO_LOCK:
                    sizes.append(len(lineage._SCANS))
        except Exception as e:  # noqa: BLE001 - reported below
            errors.append(repr(e))

    threads = [threading.Thread(target=worker, args=(w,)) for w in range(4)]
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)  # switch threads often: races show sooner
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=300)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(seen) == 80 and all(seen)
    assert max(sizes) <= 2 and len(lineage._SCANS) <= 2
