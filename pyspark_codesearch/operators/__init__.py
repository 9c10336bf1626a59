"""Operator library beside the search engine.

``merge`` is the table-format surface (keyed MERGE/upsert and DELETE by
id); ``merge.merge_upsert`` is the docs-table merge inside
``lineage.upsert_index``. Every merge operator ships a DuckDB oracle
via entry_queries.
"""
