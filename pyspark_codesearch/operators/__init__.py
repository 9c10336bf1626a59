"""Operator library beside the search engine.

``merge`` is the table-format surface (keyed MERGE/upsert and DELETE by
id); ``merge.merge_upsert`` is the docs-table merge inside
``lineage.upsert_index``. ``media_codecs`` (pure-python image, audio
and GIF decoders) has no caller in the package. Every merge operator
ships a DuckDB oracle via entry_queries.
"""
