"""pyspark-codesearch — a PySpark-native full-text (BM25) engine.

Brand-new engine with the query/data-processing capabilities of the public
DatTruonggg/paper-search-engine reference (FastAPI + Elasticsearch/Lucene),
re-expressed Spark-first: DataFrame/SQL plans, Arrow-vectorized UDFs only
where built-ins can't express the semantics, compressed posting lists,
salted shuffles, block-max WAND top-k.

Layout
------
analysis    one tokenizer spec, four implementations (Column expr, pandas
            UDF, pure python, DuckDB SQL snippet) locked by parity tests
codecs      delta + varbyte posting-list compression (numpy vectorized)
corpus      deterministic source-code corpus generator + ingest
indexing    posting-list build (tokens → postings → compressed segments)
scoring     exact DataFrame BM25 top-k (Catalyst-optimized path)
wand        block-max WAND scorer over compressed segments (mapInPandas)
search      reference-parity search service (multi_match best_fields,
            bool-sum, grouped best-chunk, min-max normalize, paginate)
oracle      pure-python BM25 oracle for rank-identity tests
operators/  keyed MERGE/upsert + DELETE by id (the upsert's docs merge)
streaming/  incremental index over a docs stream + delta compaction
lineage     checkpoint/resume manifest + per-partition metrics
"""

__version__ = "0.1.0"
