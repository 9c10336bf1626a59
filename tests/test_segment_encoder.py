"""The per-partition segment encoder equals a per-group reference encode.

The reference collects the postings into Python and encodes each
(term, salt) group on its own with ``encode_blocked`` and
``np.maximum.reduceat``. ``build_segments`` must reproduce its rows byte
for byte (block_max_impact included) at every salt range and at Arrow
batch sizes small enough that groups and blocks span several batches.
"""

from contextlib import contextmanager

import numpy as np
import pytest

from pyspark_codesearch.codecs import encode_blocked
from pyspark_codesearch.corpus import corpus_df, ingest
from pyspark_codesearch.indexing import (
    BLOCK_SIZE,
    B,
    K1,
    build_postings_with_dl,
    build_segments,
    corpus_stats,
)

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def corpus(spark):
    # Zipfian terms; the hottest appear in all 140 docs, so at salt range
    # 1<<20 their groups run past one 128-posting block. Kept small: at
    # one record per Arrow batch every posting is its own batch.
    docs = ingest(corpus_df(spark, 140, seed=11)).cache()
    postings = build_postings_with_dl(docs).cache()
    rows = postings.collect()
    yield postings, corpus_stats(docs), rows
    postings.unpersist()
    docs.unpersist()


@contextmanager
def arrow_batch(spark, records):
    old = spark.conf.get(BATCH_CONF, None)
    if records is not None:
        spark.conf.set(BATCH_CONF, str(records))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(BATCH_CONF)
        else:
            spark.conf.set(BATCH_CONF, old)


def reference_segments(rows, stats, salt_range):
    avgdl = max(stats.avgdl, 1e-9)
    kb, kbn = float(K1 * (1.0 - B)), float(K1 * B / avgdl)
    groups = {}
    for r in rows:
        key = (r["term"], r["doc_id"] // salt_range)
        groups.setdefault(key, []).append((r["doc_id"], r["tf"], r["dl"]))
    out = []
    for (term, salt), posts in groups.items():
        posts.sort()
        ids = np.array([p[0] for p in posts], dtype=np.int64)
        tfs = np.array([p[1] for p in posts], dtype=np.int64)
        dls = np.array([p[2] for p in posts], dtype=np.float64)
        tfd = tfs.astype(np.float64)
        imp = tfd / (tfd + kb + kbn * dls)
        id_bufs, tf_bufs = encode_blocked(ids, tfs, BLOCK_SIZE)
        starts = np.arange(0, ids.size, BLOCK_SIZE)
        ends = np.minimum(starts + BLOCK_SIZE, ids.size)
        max_tf = np.maximum.reduceat(tfs, starts)
        max_imp = np.maximum.reduceat(imp, starts)
        for i, (s, e) in enumerate(zip(starts, ends)):
            out.append((term, salt, i, int(e - s), int(ids[s]), int(ids[e - 1]),
                        id_bufs[i], tf_bufs[i], int(max_tf[i]), float(max_imp[i])))
    return sorted(out)


def segment_rows(df):
    return sorted(
        (r["term"], r["salt"], r["block_id"], r["n_docs"], r["first_doc"], r["last_doc"],
         bytes(r["doc_ids_enc"]), bytes(r["tfs_enc"]), r["block_max_tf"],
         r["block_max_impact"])
        for r in df.collect()
    )


@pytest.mark.parametrize("records", [1, 7, None], ids=["batch1", "batch7", "default"])
@pytest.mark.parametrize("salt_range", [1 << 20, 64, 7])
def test_build_segments_matches_per_group_encode(spark, corpus, salt_range, records):
    postings, stats, rows = corpus
    expected = reference_segments(rows, stats, salt_range)
    if salt_range > BLOCK_SIZE:
        assert any(r[2] > 0 for r in expected)  # some group spans several blocks
    with arrow_batch(spark, records):
        got = segment_rows(build_segments(postings, stats, salt_range=salt_range))
    assert got == expected


def test_build_segments_rejects_duplicate_doc_in_group(spark):
    rows = [("a", 1, 2, 5), ("a", 3, 1, 5), ("a", 3, 1, 5), ("b", 0, 1, 4)]
    postings = spark.createDataFrame(rows, "term string, doc_id long, tf int, dl int")
    stats = corpus_stats(spark.createDataFrame([(5,), (4,)], "doc_len int"))
    with pytest.raises(Exception, match="doc ids must be strictly increasing"):
        build_segments(postings, stats).collect()
