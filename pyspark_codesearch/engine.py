"""High-level engine facade over the driver `documents` table.

Bundles ingest -> index -> query for in-memory use (tests, driver entry,
bench) and exposes the SQL strings the DuckDB oracle runs side-by-side.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import duckdb_tokens_expr, tokenize_py
from .corpus import ingest_documents_table
from .indexing import B, K1, CorpusStats, build_term_stats, corpus_stats
from .scoring import bm25_topk

# -------------------------------------------------- single-query cost dispatch
# The constant is MEASURED (scripts/crossover.py, replicated+needle sf0.1
# corpora at 1.28M and 3.84M docs, local[32], warm caches, best-of-N
# with exact/WAND/selective runs interleaved per point — r6, re-measured
# r7 with per-point ALU controls; raw data BENCH/crossover_r7.json):
#
# COMMON shape (no dominant term): the JVM exact plan beat full-decode
# WAND at every measured volume up to 110.9M matched postings (7.39 s
# vs 15.9 s there, clean control), and the margin widened with volume:
# without a dominant term WAND has no pruning mechanism and is only a
# slower full decode. So a query with no dominant term always goes
# exact.
#
# SELECTIVE shape (one dominant high-idf term — rare identifier plus
# common context, the canonical code-search query): exact won through
# 4M matched postings (0.38-0.63 s), WAND variants won from 8M on
# (0.90-1.44 s vs exact 1.44-8.0 s, flat in volume). The routed plan is
# the two-phase global-θ wand_topk_selective: locally it measured
# 0.1-0.5 s behind single-phase WAND (its θ hand-off pays a second job
# round-trip, and the in-memory segment cache scans fully either way),
# but at scale it is the only plan whose I/O is bounded by df(head) —
# phase 2 was PROVED AWAY at every measured selective point, and on
# disk-backed salt-partitioned segments that is the difference between
# reading one term's salts and reading the whole matched index.
#
# Prunable volume = matched volume minus the head term's df, counted
# only when the head's max contribution bound (qtf·idf·max_impact from
# the TermDictionary) dominates the rest's sum — the driver-side
# predictor that phase 2 will be proved away or freeze immediately.
# Non-dominated queries have zero prunable volume and take the exact
# plan. Both paths are rank-identical (tests), so routing is purely a
# latency decision.
# Selective band re-measured AFTER scoring.py's literal-plan codegen
# fix (run C, BENCH/crossover_r7.json — 1.28M docs, interleaved, clean
# per-point controls): exact 0.44/0.75/1.08 s vs WAND 0.83/0.84/0.81 s at
# 2M/4M/8M prunable — WAND's selective cost is FLAT in volume (it
# decodes candidate-intersecting blocks only), so the crossover tracks
# exact's slope.
SEARCH_EXACT_MAX_POSTINGS = 6_000_000  # selective band: exact ≤4M, WAND ≥8M


def search_topk_auto(
    postings: DataFrame,
    segments: DataFrame,
    doc_lens: DataFrame,
    term_stats: DataFrame,
    stats: CorpusStats,
    query: str,
    k: int = 10,
    *,
    salt_range: int,
    lens_by_salt: DataFrame | None = None,
    df_lookup: dict[str, int],
    salt_lookup: dict[str, tuple[int, ...]],
    imp_lookup: dict[str, float],
    impact_scale: float = 1.0,
    route_out: dict | None = None,
) -> DataFrame:
    """Single-query top-k with shape-aware cost dispatch (see the
    constant's comment for the measurements behind it): PRUNABLE volume
    above ``SEARCH_EXACT_MAX_POSTINGS`` — a dominant-term query whose
    common-term tail is big — routes to the two-phase selective WAND
    plan (global-θ hand-off, phase 2 usually proved away); everything
    else takes the literal-CASE exact JVM plan. ``route_out`` (if a dict
    is passed) records the routing decision and the selective plan's
    phase diagnostics. ``df_lookup``, ``salt_lookup`` and ``imp_lookup``
    are the query terms' df, touched salts and max block impact, as
    ``wand.TermDictionary.lookup3`` returns them.

    EXECUTION SEMANTICS: the exact route returns a lazy DataFrame (cost
    paid at action time, composable into larger plans); the SELECTIVE
    route executes eagerly — ``wand_topk_selective``'s global-θ hand-off
    needs two driver collects, so its result is a snapshot-at-call
    ``session.DriverFrame`` holding its rows in this process, whose
    ``collect()`` makes no JVM call. Callers composing the result into
    a bigger unexecuted plan get call-time data on that route (planned
    once as a LocalRelation); collect()-immediately callers (tests,
    bench, the driver entry) see no difference."""
    from .wand import _idf, wand_topk_selective

    qtf = Counter(tokenize_py(query))
    matched = {t: c for t, c in qtf.items() if t in df_lookup}
    matched_volume = sum(df_lookup[t] for t in matched)
    # driver-side freeze predictor: head's max contribution bound vs the
    # rest's sum
    c_of = {
        t: c * _idf(stats.n_docs, float(df_lookup[t])) * imp_lookup[t]
        for t, c in matched.items()
    }
    head = max(c_of, key=lambda t: (c_of[t], t)) if c_of else None
    dominated = head is not None and c_of[head] >= sum(
        v for t, v in c_of.items() if t != head
    )
    prunable = matched_volume - df_lookup[head] if dominated else 0
    # read at call time so a test can patch the module constant
    selective = prunable > SEARCH_EXACT_MAX_POSTINGS
    if route_out is not None:
        route_out.update(
            matched_postings=matched_volume,
            prunable_postings=prunable,
            route="wand" if selective else "exact",
            wand_plan="selective" if selective else None,
        )
    if not selective:
        return bm25_topk(postings, term_stats, stats, query, k, df_lookup=df_lookup)
    return wand_topk_selective(
        segments, doc_lens, term_stats, stats, query, k,
        salt_range=salt_range, lens_by_salt=lens_by_salt,
        df_lookup=df_lookup, salt_lookup=salt_lookup, imp_lookup=imp_lookup,
        impact_scale=impact_scale, route_out=route_out,
    )


class DocumentsEngine:
    """BM25 engine over documents.parquet (doc_id, text, lang, source, n_chars)."""

    SALT_RANGE = 128  # small so doc-range salting is exercised at test scale

    def __init__(self, spark: SparkSession, sf_dir: str):
        from .pyfiles import ensure_py_files

        ensure_py_files(spark)  # executors need the package for pandas UDFs
        self.spark = spark
        self.docs = ingest_documents_table(spark, sf_dir).cache()
        # dl-carrying postings: queries skip the doc_lens join entirely
        from .indexing import build_postings_with_dl

        self.postings = build_postings_with_dl(self.docs).cache()
        self.doc_lens = self.docs.select("doc_id", "doc_len").cache()
        self.term_stats = build_term_stats(self.postings)
        self.stats: CorpusStats = corpus_stats(self.docs)
        self._segments = None

    @property
    def segments(self) -> DataFrame:
        if self._segments is None:
            from .indexing import build_segments

            self._segments = build_segments(
                self.postings, self.stats, salt_range=self.SALT_RANGE
            ).cache()
        return self._segments

    def search(self, query: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        out = bm25_topk(self.postings, self.term_stats, self.stats, query, k)
        if round_to is not None:
            out = out.select("doc_id", F.round("score", round_to).alias("score"))
        return out

    def search_scores(self, query: str, round_to: int | None = None) -> DataFrame:
        """ALL matching docs' BM25 scores, unordered — for consumers that
        group/rank downstream (e.g. the A1 terms-agg entry)."""
        from .scoring import bm25_scores

        out = bm25_scores(self.postings, self.term_stats, self.stats, query)
        if round_to is not None:
            out = out.select("doc_id", F.round("score", round_to).alias("score"))
        return out

    def _wand_residents(self):
        """Driver-resident query-time side state: pre-partitioned lens and
        a lazily-populated term dictionary (Lucene term-dict analogue).
        The dictionary issues FILTERED lookups per query — no full-vocab
        collect ever happens, so the resident state is bounded by the
        queried vocabulary even on a 10^12-file corpus."""
        from .wand import TermDictionary, prepare_lens_by_salt

        if not hasattr(self, "_lens_by_salt"):
            self._lens_by_salt = prepare_lens_by_salt(self.doc_lens, self.SALT_RANGE)
        if not hasattr(self, "_term_dict"):
            self._term_dict = TermDictionary(self.term_stats, self.segments)
        return self._lens_by_salt, self._term_dict

    def search_wand(self, query: str, k: int = 10, round_to: int | None = None) -> DataFrame:
        """Block-max WAND top-k (doc_id, score): a batch of one query."""
        from .wand import wand_topk_batch

        lens_by_salt, td = self._wand_residents()
        df_lookup, salt_lookup, _ = td.lookup3(tokenize_py(query))
        out = wand_topk_batch(
            self.segments, self.doc_lens, self.term_stats, self.stats, {"q": query}, k,
            salt_range=self.SALT_RANGE, lens_by_salt=lens_by_salt,
            df_lookup=df_lookup, salt_lookup=salt_lookup,
        ).select("doc_id", "score")
        if round_to is not None:
            out = out.select("doc_id", F.round("score", round_to).alias("score"))
        return out


_ENGINE_CACHE: dict[tuple[int, str], DocumentsEngine] = {}


def documents_engine(spark: SparkSession, sf_dir: str) -> DocumentsEngine:
    key = (id(spark), sf_dir)
    if key not in _ENGINE_CACHE:
        _ENGINE_CACHE[key] = DocumentsEngine(spark, sf_dir)
    return _ENGINE_CACHE[key]


def bm25_oracle_sql(query: str, k: int = 10, round_to: int = 4,
                    k1: float = K1, b: float = B) -> str:
    """ANSI-SQL BM25 over the `documents` view, runnable by DuckDB.

    Same tokenizer spec (analysis.duckdb_tokens_expr — parity-tested), same
    formula as scoring.bm25_topk; used by __spark_entry__.oracle_sql().
    """
    qterms = Counter(tokenize_py(query))
    if not qterms:
        return "SELECT CAST(NULL AS BIGINT) AS doc_id, CAST(NULL AS DOUBLE) AS score WHERE 1=0"
    qvals = ", ".join(f"('{t}', {float(c)})" for t, c in sorted(qterms.items()))
    toks = duckdb_tokens_expr("text")
    return f"""
WITH tokd AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
lens AS (
  SELECT doc_id, len(toks)::DOUBLE AS dl FROM tokd
),
stats AS (
  SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM lens
),
tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM tokd)
  GROUP BY doc_id, term
),
df AS (
  SELECT term, count(*)::DOUBLE AS df FROM tf GROUP BY term
),
q(term, qtf) AS (VALUES {qvals}),
scored AS (
  SELECT tf.doc_id,
         sum(q.qtf
             * ln(1.0 + (s.n - df.df + 0.5) / (df.df + 0.5))
             * tf.tf / (tf.tf + {k1} * (1.0 - {b} + {b} * l.dl / s.avgdl))) AS score
  FROM tf
  JOIN q USING (term)
  JOIN df USING (term)
  JOIN lens l ON tf.doc_id = l.doc_id
  CROSS JOIN stats s
  GROUP BY tf.doc_id
)
SELECT doc_id, round(score, {round_to}) AS score
FROM scored
ORDER BY scored.score DESC, doc_id ASC
LIMIT {k}
"""
