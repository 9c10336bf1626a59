"""Exact BM25 top-k over uncompressed postings — the pure-DataFrame path.

The whole query is ONE Catalyst plan over dl-carrying postings (term,
doc_id, tf, dl): filter the postings to the query terms, fold the term
weights in as literals (a broadcast query-term frame only past
``LITERAL_TERM_BUDGET`` terms, J5 in SURVEY §2.3), compute per-(doc,
term) BM25 as a column expression (whole-stage codegen, no python), sum
per doc, and let ``orderBy(...).limit(k)`` plan a TakeOrderedAndProject
(per-partition bounded heap + driver merge — exactly the north rule's
"bounded top-k heap", provided by Spark's physical planner).

BM25 (reference-declared semantics, SURVEY §2.5 SC1; ES/Lucene defaults
k1=1.2, b=0.75):

    idf(t)  = ln(1 + (N - df + 0.5) / (df + 0.5))
    s(d,t)  = idf(t) * tf / (tf + k1 * (1 - b + b * dl/avgdl))
    score(d)= sum over query terms (counted with multiplicity)

Tie-break everywhere: score desc, doc_id asc (SURVEY §7 hard parts).
"""

from __future__ import annotations

import math
from collections import Counter

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import tokenize_py
from .indexing import B, K1, CorpusStats
from .session import in_expr, local_frame


def bm25_score_col(tf, df, dl, n_docs: int, avgdl: float, k1: float = K1, b: float = B):
    """BM25 per-(doc,term) partial score as a Column expression."""
    idf = F.log(1.0 + (F.lit(float(n_docs)) - df + 0.5) / (df + 0.5))
    return idf * tf / (tf + k1 * (1.0 - b + b * dl / F.lit(float(max(avgdl, 1e-9)))))


# Below this many matched query terms the per-term weights are folded
# into the plan as a literal CASE chain instead of a broadcast-joined
# side frame: the tiny createDataFrame + broadcast-build is a separate
# driver job per query (~0.3s of the measured 0.85s/q at bench scale),
# while a <=32-arm CASE costs nothing. Interactive queries are far below
# the budget; degenerate mega-queries keep the join path.
LITERAL_TERM_BUDGET = 32


def bm25_topk(
    postings: DataFrame,
    term_stats: DataFrame,
    stats: CorpusStats,
    query: str,
    k: int = 10,
    *,
    k1: float = K1,
    b: float = B,
    df_lookup: dict[str, float] | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) for a free-text query over dl-carrying
    postings (term, doc_id, tf, dl) from
    :func:`indexing.build_postings_with_dl`. Columns: doc_id, score.

    ``df_lookup`` (term -> df), e.g. from a resident wand.TermDictionary,
    skips the per-query term_stats collect — with the literal plan path
    that makes a single query exactly ONE Spark job (scan + agg + top-k).
    """
    return bm25_scores(
        postings, term_stats, stats, query,
        k1=k1, b=b, df_lookup=df_lookup,
    ).orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


def bm25_scores(
    postings: DataFrame,
    term_stats: DataFrame,
    stats: CorpusStats,
    query: str,
    *,
    k1: float = K1,
    b: float = B,
    df_lookup: dict[str, float] | None = None,
) -> DataFrame:
    """ALL matching docs' scores, unordered (doc_id, score) — the
    consumer adds its own top-k/grouping. Never use orderBy().limit(N)
    with a sentinel-huge N for this: TakeOrderedAndProject allocates a
    2N-slot buffer per partition."""
    spark = postings.sparkSession
    qterms = Counter(tokenize_py(query))
    if not qterms:
        return local_frame(spark, "doc_id long, score double")
    # term-dictionary seek on the driver: df for the handful of query terms
    if df_lookup is not None:
        dfs = {t: float(df_lookup[t]) for t in qterms if t in df_lookup}
    else:
        dfs = {
            r["term"]: float(r["df"])
            for r in term_stats.filter(F.col("term").isin(list(qterms))).collect()
        }
    rows = [(t, float(c), dfs[t]) for t, c in qterms.items() if t in dfs]
    if not rows:
        return local_frame(spark, "doc_id long, score double")

    # Both plan paths share the factored form w_t * tfnorm: the per-term
    # weight qtf*idf(df) is a driver-computed float64 CONSTANT (df is
    # known here either way), and the term-independent tf/(tf+norm)
    # factor is emitted ONCE. Same association as the WAND scorer's
    # cached contribs; per-row partials stay bit-identical between the
    # two exact paths. The old shape (full BM25 expression inside every
    # CASE branch) crossed the JIT's 8 KB generated-method limit at
    # 25-28 branches and fell out of compiled codegen — 22.8 s vs 5.2 s
    # at 24 branches on the same 83M-posting scan (r7 probe,
    # BENCH/crossover_r7.json); a constant-only branch is a few bytes,
    # so the CASE stays compiled through LITERAL_TERM_BUDGET and beyond.
    weights = [
        (t, qtf * math.log(1.0 + (stats.n_docs - dfv + 0.5) / (dfv + 0.5)))
        for t, qtf, dfv in rows
    ]
    tf = F.col("tf").cast("double")
    tfnorm = tf / (
        tf
        + k1
        * (
            1.0
            - b
            + b * F.col("dl").cast("double") / F.lit(float(max(stats.avgdl, 1e-9)))
        )
    )
    if len(rows) <= LITERAL_TERM_BUDGET:
        # literal plan: term IN-filter (pushed to the scan) + one CASE
        # of literal weights — no side frame, no broadcast build, whole-
        # stage codegen end to end
        weight = None
        for t, w in weights:
            weight = (
                F.when(F.col("term") == t, F.lit(w))
                if weight is None
                else weight.when(F.col("term") == t, F.lit(w))
            )

        matched = postings.filter(in_expr("term", [t for t, _, _ in rows]))
        scored = matched.withColumn("partial", weight * tfnorm)
    else:
        qdf = local_frame(spark, "term string, w double", weights)
        # broadcast tiny query-term set into the postings scan; Catalyst
        # pushes the term IN-filter down to the parquet scan
        matched = postings.join(F.broadcast(qdf), "term")
        scored = matched.withColumn("partial", F.col("w") * tfnorm)
    return scored.groupBy("doc_id").agg(F.sum("partial").alias("score"))
