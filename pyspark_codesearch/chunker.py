"""Document chunker — sentence/section-aware overlapping chunks (1 -> N).

Behavior-parity rebuild of the reference chunking semantics (declared in
data_pipeline/document_chunker.py:49-237 — studied for behavior, written
fresh): markdown section split on '#' header lines, sentence split on
``(?<=[.!?])\\s+(?=[A-Z])``, greedy sentence packing up to ``chunk_size``
tokens with a sentence-granular ``chunk_overlap`` carry, oversize
sentences truncated to ``chunk_size*4`` chars (tail dropped), chunk
indexes continuous across sections, reference position arithmetic
mirrored exactly.

Token counting: the reference uses tiktoken cl100k_base
(document_chunker.py:45-47). tiktoken isn't installable in this
container (no network), so counting is layered:

- with tiktoken present: exact cl100k_base counts (first import branch);
- fallback: the EXACT cl100k_base PRE-TOKENIZER regex (the public
  pattern from the tiktoken project) segments text into the same pieces
  the real encoder BPE-merges within. Piece boundaries therefore match
  the reference exactly; 1-3-digit runs and contraction suffixes ('s,
  'll, ...) are genuinely single tokens in cl100k, so those counts are
  exact too. The only approximation left is multi-token LETTER pieces:
  estimated as 1 token for the first 7 characters + 1 per 4 thereafter
  (the tiktoken project's published ~4-chars/token English average).
  Divergence is therefore bounded to long/rare words; it shifts chunk
  SIZING slightly, never chunk-boundary logic.

Spark surface: :func:`chunk_docs` — a pandas UDF producing
``array<struct>`` + ``explode`` (the UDTF shape, SURVEY §2.9), fully
distributed, one python batch per Arrow batch.
"""

from __future__ import annotations

import math
import re

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

_SENT_SPLIT = re.compile(r"(?<=[.!?])\s+(?=[A-Z])")

try:  # pragma: no cover - tiktoken absent in this container
    import tiktoken

    _ENC = tiktoken.get_encoding("cl100k_base")

    def count_tokens(text: str) -> int:
        return len(_ENC.encode(text))

except ImportError:
    import regex as _regex

    # the cl100k_base pre-tokenizer (public pattern, tiktoken project):
    # BPE merges happen only WITHIN these pieces, so piece boundaries are
    # exactly the reference's. Requires the `regex` module (possessive
    # quantifiers + \p classes).
    _CL100K_PAT = _regex.compile(
        r"""'(?i:[sdmt]|ll|ve|re)|[^\r\n\p{L}\p{N}]?+\p{L}+|\p{N}{1,3}"""
        r"""| ?[^\s\p{L}\p{N}]++[\r\n]*|\s*[\r\n]|\s+(?!\S)|\s+"""
    )

    def count_tokens(text: str) -> int:
        """cl100k piece segmentation (exact) + per-piece estimate: digit
        runs and contraction suffixes are true single tokens; letter
        pieces cost 1 for the first 7 chars + 1 per 4 after (published
        ~4 chars/token English average). See module docstring."""
        n = 0
        for piece in _CL100K_PAT.findall(text):
            p = piece.lstrip(" ")
            n += 1 + max(0, math.ceil((len(p) - 7) / 4))
        return n


def split_sentences(text: str) -> list[str]:
    return [s.strip() for s in _SENT_SPLIT.split(text) if s.strip()]


def split_markdown_sections(text: str) -> list[tuple[str, str]]:
    sections, title, body = [], "", []
    for line in text.split("\n"):
        if line.startswith("#"):
            if body:
                sections.append((title, "\n".join(body)))
                body = []
            title = line.strip("#").strip()
        else:
            body.append(line)
    if body:
        sections.append((title, "\n".join(body)))
    return sections or [("", text)]


def chunk_text_py(
    text: str,
    chunk_size: int = 512,
    chunk_overlap: int = 100,
    respect_sections: bool = True,
) -> list[dict]:
    """-> [{text, start_pos, end_pos, chunk_index, token_count}]"""
    if not text:
        return []
    out: list[dict] = []
    pieces = (
        [(f"## {t}\n\n{c}" if t else c) for t, c in split_markdown_sections(text)]
        if respect_sections
        else [text]
    )
    for piece in pieces:
        out.extend(_pack(piece, chunk_size, chunk_overlap, len(out)))
    return out


def _emit(out, text, start, index, token_count=None):
    # greedy-packed chunks carry the RUNNING SUM of per-sentence counts
    # (the reference emits current_tokens, document_chunker.py — recounting
    # the joined text diverges when a real tiktoken merges across a join
    # boundary); only truncated-oversize chunks recount their cut text
    out.append(
        {
            "text": text,
            "start_pos": start,
            "end_pos": start + len(text),
            "chunk_index": index,
            "token_count": count_tokens(text) if token_count is None else token_count,
        }
    )


def _pack(text: str, size: int, overlap: int, start_index: int) -> list[dict]:
    sentences = split_sentences(text)
    out: list[dict] = []
    cur: list[str] = []
    cur_tokens = 0
    pos = 0
    idx = start_index
    for sent in sentences:
        st = count_tokens(sent)
        if st > size:
            if cur:
                _emit(out, " ".join(cur), pos, idx, cur_tokens)
                idx += 1
            truncated = sent[: size * 4]
            # reference position quirk mirrored: the truncated chunk's
            # start offsets by the PREVIOUS chunk text length, and only the
            # truncated length advances pos
            _emit(out, truncated, pos + len(" ".join(cur)), idx)
            idx += 1
            cur, cur_tokens = [], 0
            pos += len(truncated) + 1
        elif cur_tokens + st > size:
            closed = " ".join(cur)
            _emit(out, closed, pos, idx, cur_tokens)
            idx += 1
            carry: list[str] = []
            if overlap > 0:
                carry_tokens = 0
                for prev in reversed(cur):
                    pt = count_tokens(prev)
                    if carry_tokens + pt > overlap:
                        break
                    carry.insert(0, prev)
                    carry_tokens += pt
                cur = carry + [sent]
                cur_tokens = carry_tokens + st
            else:
                cur, cur_tokens = [sent], st
            pos += len(closed) + 1
        else:
            cur.append(sent)
            cur_tokens += st
    if cur:
        _emit(out, " ".join(cur), pos, idx, cur_tokens)
    return out


def chunks_oracle_sql(
    sf_dir: str,
    max_doc_id: int = 50,
    chunk_size: int = 30,
    chunk_overlap: int = 5,
) -> str:
    """DuckDB VALUES oracle for the ``chunker_1_to_n`` driver entry.

    The chunker is pure deterministic python (no Spark), so the oracle is
    computed here by running :func:`chunk_text_py` over the same documents
    the Spark entry reads (doc_id < max_doc_id) and pinning every projected
    column by value. Built lazily at oracle_sql() call time because the
    literal values depend on which SF dir the comparison runs against."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    t = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
    t = t.filter(pc.less(t["doc_id"], max_doc_id)).sort_by("doc_id")
    vals = []
    for doc_id, text in zip(t["doc_id"].to_pylist(), t["text"].to_pylist()):
        for c in chunk_text_py(text or "", chunk_size, chunk_overlap):
            vals.append(
                f"({doc_id}, {c['chunk_index']}, '{doc_id}_chunk_{c['chunk_index']}', "
                f"{c['token_count']}, {c['start_pos']}, {c['end_pos']})"
            )
    return (
        "SELECT * FROM (VALUES "
        + ", ".join(vals)
        + ") AS t(id, chunk_index, doc_id, token_count, chunk_start, chunk_end) "
        + "ORDER BY id, chunk_index"
    )


CHUNK_STRUCT = (
    "array<struct<text:string,start_pos:int,end_pos:int,"
    "chunk_index:int,token_count:int>>"
)


def chunk_docs(
    docs: DataFrame,
    id_col: str = "paper_id",
    text_col: str = "content",
    chunk_size: int = 512,
    chunk_overlap: int = 100,
) -> DataFrame:
    """Distributed 1->N chunking: pandas UDF -> array<struct> -> explode.

    Output: (id, chunk_index, chunk_text, chunk_start, chunk_end,
    token_count, doc_id = '{id}_chunk_{i}') — deterministic ids make
    re-indexing idempotent (reference es_indexer.py:176-179)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf(CHUNK_STRUCT)
    def _chunks(s):
        return s.map(lambda t: chunk_text_py(t or "", chunk_size, chunk_overlap))

    exploded = (
        docs.select(F.col(id_col).alias("id"), _chunks(F.col(text_col)).alias("cs"))
        .select("id", F.explode("cs").alias("c"))
    )
    return exploded.select(
        "id",
        F.col("c.chunk_index").alias("chunk_index"),
        F.col("c.text").alias("chunk_text"),
        F.col("c.start_pos").alias("chunk_start"),
        F.col("c.end_pos").alias("chunk_end"),
        F.col("c.token_count").alias("token_count"),
        F.concat_ws("_chunk_", F.col("id"), F.col("c.chunk_index")).alias("doc_id"),
    )
