"""Inverted-index build: tokens -> postings -> compressed block-max segments.

Spark-first design (vs the reference, which delegates all of this to Lucene
inside Elasticsearch — declared by the ES mapping, es_indexer.py:78-143):

  docs(doc_id, tokens, doc_len)
    -> postings(term, doc_id, tf)                 [explode + groupBy]
    -> term_stats(term, df)                       [groupBy, broadcastable]
    -> corpus_stats(n_docs, avgdl)                [2 scalars]
    -> segments(term, salt, block_id, ...)        [salted repartition +
                                                   sortWithinPartitions +
                                                   mapInPandas encoder,
                                                   one pass per partition]

Salting: ``salt = doc_id // salt_range`` (a doc-id RANGE bucket, not a random
salt) so a hot Zipfian term ("return", "data") is split across many shuffle
partitions — defeating build-time skew — while each (term, salt) segment
still holds a contiguous, sorted doc-id run. Query-time merge is therefore a
concatenation in salt order, never a re-sort. AQE skew-join stays on as a
backstop (session.py).

Blocks of 128 postings carry ``block_max_tf`` and ``block_max_impact``
(max of tf/(tf + k1(1-b+b*dl/avgdl))) — the block-max WAND upper bound is
``idf * block_max_impact`` (wand.py).
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .codecs import encode_runs

BLOCK_SIZE = 128
K1 = 1.2
B = 0.75

SEGMENT_SCHEMA = (
    "term string, salt int, block_id int, n_docs int, first_doc long, "
    "last_doc long, doc_ids_enc binary, tfs_enc binary, "
    "block_max_tf int, block_max_impact double"
)


class CorpusStats(NamedTuple):
    n_docs: int
    avgdl: float


def build_postings(docs: DataFrame) -> DataFrame:
    """(doc_id, tokens) -> (term, doc_id, tf). One shuffle, map-side combined."""
    return (
        docs.select("doc_id", F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )


def build_postings_with_dl(docs: DataFrame, *, cluster_by_doc: bool = True) -> DataFrame:
    """(term, doc_id, tf, dl) — doc_len carried THROUGH the groupBy key
    (functionally dependent on doc_id) instead of joined back afterwards:
    saves a full postings<->doc_lens shuffle join in the build.

    ``cluster_by_doc`` (default) publishes repartition("doc_id") (r8):
    a cached postings frame is then hash(doc_id)-partitioned, which
    subset-satisfies the exact scorer's groupBy("doc_id") clustering —
    every literal-plan BM25 query runs as ONE stage (scan → filter →
    CASE → complete agg → TakeOrderedAndProject, zero exchanges;
    measured 0.22 → 0.10 s/q at 80k docs). The batch scorer's
    groupBy(query_id, doc_id) elides the same way. Costs one
    postings-sized exchange per build — build-only consumers that
    immediately re-partition by another key (lineage bucket rewrites,
    write_index) pass False and skip it."""
    out = (
        docs.select("doc_id", F.col("doc_len").alias("dl"), F.explode("tokens").alias("term"))
        .groupBy("term", "doc_id", "dl")
        .agg(F.count(F.lit(1)).cast("int").alias("tf"))
    )
    return out.repartition("doc_id") if cluster_by_doc else out


def build_term_stats(postings: DataFrame) -> DataFrame:
    """(term, df). Small relative to postings; broadcast at query time."""
    return postings.groupBy("term").agg(F.count(F.lit(1)).alias("df"))


def corpus_stats(docs: DataFrame) -> CorpusStats:
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doc_len").alias("avgdl")
    ).collect()[0]
    return CorpusStats(int(row["n"]), float(row["avgdl"] or 0.0))


def build_segments(
    postings_dl: DataFrame,
    stats: CorpusStats,
    *,
    salt_range: int = 1 << 20,
    k1: float = K1,
    b: float = B,
) -> DataFrame:
    """Compressed block-max segments, salted by doc-id range.

    Input: (term, doc_id, tf, dl) from :func:`build_postings_with_dl` —
    no join in this stage; the ONLY shuffle is repartition(term, salt).

    ``salt_range`` bounds the postings of one (term, salt) group, so even a
    term appearing in EVERY doc of a 10^12-file corpus yields groups of at
    most ``salt_range`` postings (~1M → a few MB decoded) — no single
    reducer ever sees a whole hot posting list. Per-term df lives in the
    (small, broadcastable) term_stats side table, not in segment rows.
    """
    avgdl = max(stats.avgdl, 1e-9)
    enriched = postings_dl.withColumn(
        "salt", (F.col("doc_id") / F.lit(salt_range)).cast("int")
    )

    kb = float(k1 * (1.0 - b))
    kbn = float(k1 * b / avgdl)

    def encode(cols: list[np.ndarray], heads: np.ndarray) -> pd.DataFrame:
        """Block rows of complete (term, salt) groups; ``heads`` are the
        offsets of the groups' first postings."""
        term, salt, ids, tfs, dls = cols
        blocks = encode_runs(ids, tfs, heads, BLOCK_SIZE)
        starts = blocks.starts
        ends = np.append(starts[1:], ids.size)
        tfd = tfs.astype(np.float64)
        imp = tfd / (tfd + kb + kbn * dls)
        return pd.DataFrame(
            {
                "term": term[starts],
                "salt": salt[starts],
                "block_id": blocks.ordinals,
                "n_docs": (ends - starts).astype(np.int32),
                "first_doc": ids[starts],
                "last_doc": ids[ends - 1],
                "doc_ids_enc": blocks.ids,
                "tfs_enc": blocks.tfs,
                "block_max_tf": np.maximum.reduceat(tfs, starts),
                "block_max_impact": np.maximum.reduceat(imp, starts),
            }
        )

    def encode_partition(batches):
        """One pass over a partition's (term, salt, doc_id)-sorted Arrow
        batches. Each batch's complete groups are encoded together; its
        last group may continue in the next batch, so it is kept as a list
        of pieces and concatenated once, when a later key closes it."""
        pending: list[list[np.ndarray]] = []  # pieces of the open group
        for pdf in batches:
            if pdf.empty:
                continue
            cols = [
                pdf["term"].to_numpy(object),
                pdf["salt"].to_numpy(np.int32),
                pdf["doc_id"].to_numpy(np.int64),
                pdf["tf"].to_numpy(np.int64),
                pdf["dl"].to_numpy(np.float64),
            ]
            term, salt = cols[0], cols[1]
            # offsets in this batch where a group starts; 0 too when the
            # batch's first key differs from the open group's
            heads = np.flatnonzero((term[1:] != term[:-1]) | (salt[1:] != salt[:-1])) + 1
            if pending and (term[0], salt[0]) != (pending[-1][0][-1], pending[-1][1][-1]):
                heads = np.concatenate(([0], heads))
            if heads.size == 0:
                pending.append(cols)
                continue
            cut = int(heads[-1])
            done = pending + [[c[:cut] for c in cols]]
            held = sum(p[2].size for p in pending)
            yield encode(
                [np.concatenate(c) for c in zip(*done)],
                np.concatenate(([0], held + heads[:-1])),
            )
            pending = [[c[cut:] for c in cols]]
        if pending:
            yield encode([np.concatenate(c) for c in zip(*pending)], np.zeros(1, np.int64))

    parted = enriched.repartition("term", "salt").sortWithinPartitions(
        "term", "salt", "doc_id"
    )
    encoded = parted.mapInPandas(encode_partition, SEGMENT_SCHEMA)
    # publish the (small) block table hash-partitioned by salt: a cached
    # segments frame then co-partitions with the packed lens table, so a
    # query-time cogroup on salt plans ZERO exchanges (single-stage job
    # — Sort + FlatMapCoGroupsInPandas straight over the two caches).
    # One extra build-time exchange of block rows (postings/128), which
    # the per-query savings repay after a handful of queries.
    return encoded.repartition("salt")


def write_index(
    docs: DataFrame,
    out_dir: str,
    *,
    salt_range: int = 1 << 20,
    k1: float = K1,
    b: float = B,
) -> CorpusStats:
    """Materialize the full index (postings segments + doc side tables).

    Segments parquet is sorted by term within files so parquet row-group
    min/max stats prune term lookups (the scan-level analogue of Lucene's
    term dictionary seek); at cluster scale you'd layer a term-hash bucket
    partitioning on top (bucketBy) for static pruning.
    """
    stats = corpus_stats(docs)
    doc_lens = docs.select("doc_id", "doc_len")
    # build-only path: segments re-partition by (term, salt) and the
    # parquet outputs carry their own layout — skip the doc_id exchange
    postings_dl = build_postings_with_dl(docs, cluster_by_doc=False)
    segs = build_segments(postings_dl, stats, salt_range=salt_range, k1=k1, b=b)
    segs.sortWithinPartitions("term", "salt", "block_id").write.mode("overwrite").parquet(
        f"{out_dir}/segments"
    )
    postings_dl.select("term", "doc_id", "tf").write.mode("overwrite").parquet(
        f"{out_dir}/postings"
    )
    build_term_stats(postings_dl).write.mode("overwrite").parquet(f"{out_dir}/term_stats")
    docs.drop("tokens").write.mode("overwrite").parquet(f"{out_dir}/docs")
    doc_lens.write.mode("overwrite").parquet(f"{out_dir}/doc_lens")
    spark = docs.sparkSession
    spark.createDataFrame(
        [(stats.n_docs, stats.avgdl, k1, b)], "n_docs long, avgdl double, k1 double, b double"
    ).write.mode("overwrite").parquet(f"{out_dir}/stats")
    return stats
