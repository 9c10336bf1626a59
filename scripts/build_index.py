#!/usr/bin/env python
"""spark-submit entrypoint: resumable index build.

    python -m pyspark_codesearch.pyfiles  # writes pyspark_codesearch.zip
    spark-submit --py-files pyspark_codesearch.zip scripts/build_index.py \
        --input /root/testdata/sf0.01/documents.parquet \
        --out /tmp/ix --buckets 8 [--salt-range 1048576]

Reads an input_hint-shaped table (or the driver documents table), builds
the compressed inverted index with per-unit lineage; safe to kill and
re-run — committed units are skipped.
"""

from __future__ import annotations

import argparse
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True, help="parquet path (documents or corpus shape)")
    ap.add_argument("--out", required=True)
    ap.add_argument("--buckets", type=int, default=8)
    ap.add_argument("--salt-range", type=int, default=1 << 20)
    ap.add_argument(
        "--dense-ids", action="store_true",
        help="dense doc ids 0..n-1: one id bucket (ingest_bucketed n_buckets=1) "
             "instead of the default 1024",
    )
    args = ap.parse_args()

    from pyspark_codesearch.corpus import ingest_bucketed, ingest_documents_df
    from pyspark_codesearch.lineage import build_index_resumable, read_metrics
    from pyspark_codesearch.pyfiles import ensure_py_files
    from pyspark_codesearch.session import get_spark

    spark = get_spark("build-index")
    ensure_py_files(spark)
    raw = spark.read.parquet(args.input)
    if "content" in raw.columns:  # corpus shape (repo, path, commit, lang, content)
        docs = ingest_bucketed(raw, n_buckets=1) if args.dense_ids else ingest_bucketed(raw)
    else:  # documents shape (doc_id, text, ...)
        docs = ingest_documents_df(raw)
    res = build_index_resumable(
        docs, args.out, n_buckets=args.buckets, salt_range=args.salt_range
    )
    metrics = {r["unit"]: r["rows"] for r in read_metrics(spark, args.out).collect()}
    print(json.dumps({"out": args.out, "executed_units": res["executed_units"],
                      "units": metrics}))
    spark.stop()


if __name__ == "__main__":
    main()
