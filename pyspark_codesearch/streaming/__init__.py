"""Structured Streaming surfaces.

The reference is batch-only (SURVEY §2.10) — its closest analogues are
resume/skip-if-exists loops. Here incremental re-index maps to
Trigger.AvailableNow over a docs directory (exactly-once per file via
checkpoint), and :func:`compact_delta_into_index` folds the streamed
delta into a built index through the lineage upsert.
"""

from .incremental import compact_delta_into_index, incremental_index  # noqa: F401
