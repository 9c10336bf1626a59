#!/usr/bin/env python
"""spark-submit entrypoint: top-k BM25 queries against a built index.

    spark-submit --py-files pyspark_codesearch.zip scripts/query.py \
        --index /tmp/ix --query "parse json string" [-k 10]

Block-max WAND over the compressed segments (term-pruned parquet scan);
the scores are exact. The salt range is read from the index's segments
manifests. Multiple --query flags batch into ONE job (wand_topk_batch).
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--index", required=True)
    ap.add_argument("--query", action="append", required=True)
    ap.add_argument("-k", type=int, default=10)
    args = ap.parse_args()

    from pyspark_codesearch.analysis import tokenize_py
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.lineage import (
        impact_scale,
        load_segments_for_terms,
        read_table,
        salt_range_of,
    )
    from pyspark_codesearch.pyfiles import ensure_py_files
    from pyspark_codesearch.session import get_spark
    from pyspark_codesearch.wand import wand_topk_batch

    spark = get_spark("query")
    ensure_py_files(spark)
    ix = args.index
    doc_lens = read_table(spark, ix, "doc_lens")
    term_stats = read_table(spark, ix, "term_stats")
    st = read_table(spark, ix, "stats").collect()[0]
    stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))

    # static bucket pruning: only the bucket directories the queries'
    # terms hash into are listed/read (term-dictionary seek at the
    # directory level), then the term IN-filter prunes row groups
    all_terms = {t for q in args.query for t in tokenize_py(q)}
    segments = load_segments_for_terms(spark, ix, all_terms)
    # after upserts shift avgdl, stored block maxima need scaling for
    # pruning to stay lossless (no-op scale=1.0 on a fresh build)
    out = wand_topk_batch(
        segments, doc_lens, term_stats, stats,
        {f"q{i}": q for i, q in enumerate(args.query)}, args.k,
        salt_range=salt_range_of(ix), impact_scale=impact_scale(ix, stats.avgdl),
    )
    for r in out.collect():
        print(json.dumps({"query_id": r["query_id"], "rank": r["rank"],
                          "doc_id": r["doc_id"], "score": round(r["score"], 6)}))
    spark.stop()


if __name__ == "__main__":
    main()
