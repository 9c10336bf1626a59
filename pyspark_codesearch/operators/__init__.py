"""Operator library beside the search engine.

``merge`` is the table-format surface (keyed MERGE/upsert and DELETE by
id); ``merge.merge_upsert`` is the docs-table merge inside
``lineage.upsert_index``. ``dedup`` (exact, MinHash-LSH, n-gram Jaccard,
SimHash), ``multimodal`` with its ``media_codecs`` and ``relational``
(the reference's relational inventory over the driver testdata) are not
on any search path. Every SQL-expressible operator ships a DuckDB oracle
via entry_queries.
"""
