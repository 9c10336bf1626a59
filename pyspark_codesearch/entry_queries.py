"""Registry backing __spark_entry__.queries() / oracle_sql().

Every search behaviour the engine keeps (exact and WAND BM25, the
analyzer, best-fields, hybrid, bucket order, normalization, pagination,
point lookup, chunking, merge/delete, enrichment) gets (a) a Spark
callable (spark, sf_dir) -> DataFrame and (b) a DuckDB oracle SQL
string over the driver's pre-registered ``documents`` and
``embeddings`` views. Register with :func:`register` so both dicts stay
in sync.

Determinism rules applied to every entry:
- every computed column aliased identically on both sides
- float aggregates rounded to 4 decimals on both sides
- any LIMIT is preceded by a total tie-broken ORDER BY on both sides
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import duckdb_tokens_expr, tokens_col
from .engine import bm25_oracle_sql, documents_engine

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
# values are SQL strings, or zero-arg callables producing one (lazy oracles
# whose literal values depend on the comparison SF dir — materialized by
# oracle_sql_dict() at call time, i.e. when the driver asks)
ORACLE_SQL: dict[str, str | Callable[[], str]] = {}


def oracle_sql_dict() -> dict[str, str]:
    return {k: (v() if callable(v) else v) for k, v in ORACLE_SQL.items()}


def oracle_sf_dir() -> str:
    """The SF dir lazy oracles compute their literals from: the driver
    compares at sf0.01 (the documented gate); local pytest overrides via
    SPARK_GRAFT_ORACLE_SF_DIR (set by tests/conftest.py to the test SF)."""
    import os

    return (
        os.environ.get("SPARK_GRAFT_ORACLE_SF_DIR")
        or os.environ.get("SPARK_GRAFT_TEST_SF_DIR")
        or "/root/testdata/sf0.01"
    )


def register(name: str, sql: str | Callable[[], str]):
    def deco(fn):
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            # executors must be able to import this package (pandas UDF
            # closures) no matter where the calling driver process lives;
            # the analyzer's JVM NFC UDF must resolve on THE CALLING
            # session (tokens_col falls back to Arrow otherwise, but the
            # explicit ensure removes any active-session ambiguity)
            from .analysis import ensure_nfc_udf
            from .pyfiles import ensure_py_files

            ensure_py_files(spark)
            ensure_nfc_udf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = getattr(fn, "__name__", name)
        QUERIES[name] = wrapped
        ORACLE_SQL[name] = sql
        return fn

    return deco


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


# ---------------------------------------------------------------- BM25 core

# query strings drawn from the documents-table vocabulary (hot multi-term
# and a query with a missing term; the camelCase analyzer shape is
# registered with the variants at the bottom of this module)
_BM25_QUERIES = {
    "bm25_topk_scan_merge": ("table scan merge join", 20),
    "bm25_topk_with_miss": ("filter zzznotaterm", 10),
}

for _name, (_q, _k) in _BM25_QUERIES.items():

    def _mk(q=_q, k=_k):
        def f(spark: SparkSession, sf_dir: str) -> DataFrame:
            return documents_engine(spark, sf_dir).search(q, k, round_to=4)

        return f

    register(_name, bm25_oracle_sql(_q, _k))(_mk())


def _mk_wand(q, k):
    def f(spark: SparkSession, sf_dir: str) -> DataFrame:
        return documents_engine(spark, sf_dir).search_wand(q, k, round_to=4)

    return f


# the same mixed-rarity query through the compressed-segment block-max WAND
# path — proves the scale path is rank-identical, checked by the same oracle
register("bm25_wand_mixed_rarity", bm25_oracle_sql("window agg stream dup", 20))(
    _mk_wand("window agg stream dup", 20)
)


# ---- A1: ES terms-agg bucket order (search.group_best_chunk) as a driver
# entry. The counterintuitive reference semantics (es_indexer.py:376-397 +
# :438): buckets survive by (doc_count DESC, key ASC) LIMIT size FIRST,
# then the survivors re-sort by (max_score DESC, doc_count DESC, key ASC)
# — so a high-scoring group with few matching chunks can be pruned by a
# low-scoring prolific one. Here: documents are the "chunks", source is
# the parent "paper" key, chunk scores are the engine's BM25 (12dp on
# both sides so group max/tie-breaks see identical values).
# query chosen so per-source match counts VARY (15..23 at the gate SF):
# both the count-desc survival and the key-asc tiebreak decide buckets,
# and the surviving set provably differs from a plain top-8-by-score
_A1_QUERY, _A1_SIZE = "dup vector", 8


def _a1_bucket_order_sql(query: str, size: int) -> str:
    hits = bm25_oracle_sql(query, k=10**9, round_to=12)
    return f"""
WITH hits AS ({hits}),
joined AS (
  SELECT h.doc_id, h.score, d.source
  FROM hits h JOIN documents d USING (doc_id)
),
grouped AS (
  SELECT source,
         count(*) AS matching_chunks,
         max(score) AS score,
         first(doc_id ORDER BY score DESC, doc_id ASC) AS best_chunk_id
  FROM joined GROUP BY source
),
survivors AS (
  SELECT * FROM grouped ORDER BY matching_chunks DESC, source ASC LIMIT {size}
)
SELECT source, matching_chunks, round(score, 4) AS best_score, best_chunk_id
FROM survivors
ORDER BY score DESC, matching_chunks DESC, source ASC
"""


@register("a1_bucket_order_best_chunk", _a1_bucket_order_sql(_A1_QUERY, _A1_SIZE))
def a1_bucket_order_best_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .search import group_best_chunk

    eng = documents_engine(spark, sf_dir)
    hits = eng.search_scores(_A1_QUERY, round_to=12).withColumnRenamed("doc_id", "id")
    chunks = eng.docs.select(
        "doc_id",
        F.col("source").alias("paper_id"),
        F.lit(0).alias("chunk_index"),
        F.col("content").alias("chunk_text"),
    )
    res = group_best_chunk(hits, chunks, size=_A1_SIZE)
    return res.select(
        F.col("paper_id").alias("source"),
        "matching_chunks",
        F.round("score", 4).alias("best_score"),
        "best_chunk_id",
    )


# ------------------------------------------------- analyzer-derived columns

@register(
    "doc_token_stats",
    f"""SELECT doc_id,
               len({duckdb_tokens_expr('text')}) AS n_tokens,
               sha256(text) AS sha
        FROM documents ORDER BY doc_id""",
)
def doc_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    # F12 sha256 + A8 token count, JVM-side expressions only
    return (
        _docs(spark, sf_dir)
        .select(
            "doc_id",
            F.size(tokens_col("text")).alias("n_tokens"),
            F.sha2("text", 256).alias("sha"),
        )
        .orderBy("doc_id")
    )


@register(
    "term_frequencies_top50",
    f"""SELECT term, count(*) AS cnt
        FROM (SELECT unnest({duckdb_tokens_expr('text')}) AS term FROM documents)
        GROUP BY term ORDER BY cnt DESC, term ASC LIMIT 50""",
)
def term_frequencies_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A9: explode + groupBy + ordered top-n (map-side partial agg)
    return (
        _docs(spark, sf_dir)
        .select(F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("term"))
        .limit(50)
    )


@register(
    "document_frequencies_top50",
    f"""SELECT term, count(DISTINCT doc_id) AS df
        FROM (SELECT doc_id, unnest({duckdb_tokens_expr('text')}) AS term FROM documents)
        GROUP BY term ORDER BY df DESC, term ASC LIMIT 50""",
)
def document_frequencies_top50(spark: SparkSession, sf_dir: str) -> DataFrame:
    # A11: df(term) — the BM25 side-table aggregation
    return (
        _docs(spark, sf_dir)
        .select("doc_id", F.explode(tokens_col("text")).alias("term"))
        .groupBy("term")
        .agg(F.countDistinct("doc_id").alias("df"))
        .orderBy(F.desc("df"), F.asc("term"))
        .limit(50)
    )


# --------------------------------------------- multi-field best_fields BM25


def _bestfields_sql(query: str, k: int, title_boost: float, body_boost: float) -> str:
    """DuckDB oracle for multi_match best_fields over two derived fields
    (title = first 80 chars, body = full text), per-field statistics,
    score = max(boost_f * BM25_f) — SURVEY §2.5 SC1 semantics."""
    from collections import Counter

    from .analysis import tokenize_py

    qterms = Counter(tokenize_py(query))
    qvals = ", ".join(f"('{t}', {float(c)})" for t, c in sorted(qterms.items()))

    def field_cte(fname, expr):
        toks = duckdb_tokens_expr(expr)
        return f"""
{fname}_tok AS (
  SELECT doc_id, {toks} AS toks FROM documents
),
{fname}_lens AS (
  SELECT doc_id, len(toks)::DOUBLE AS dl FROM {fname}_tok WHERE len(toks) > 0
),
{fname}_stats AS (SELECT count(*)::DOUBLE AS n, avg(dl) AS avgdl FROM {fname}_lens),
{fname}_tf AS (
  SELECT doc_id, term, count(*)::DOUBLE AS tf
  FROM (SELECT doc_id, unnest(toks) AS term FROM {fname}_tok) GROUP BY doc_id, term
),
{fname}_df AS (SELECT term, count(*)::DOUBLE AS df FROM {fname}_tf GROUP BY term),
{fname}_score AS (
  SELECT tf.doc_id,
         sum(q.qtf * ln(1.0 + (s.n - d.df + 0.5) / (d.df + 0.5))
             * tf.tf / (tf.tf + 1.2 * (0.25 + 0.75 * l.dl / s.avgdl))) AS score
  FROM {fname}_tf tf
  JOIN q USING (term) JOIN {fname}_df d USING (term)
  JOIN {fname}_lens l ON tf.doc_id = l.doc_id CROSS JOIN {fname}_stats s
  GROUP BY tf.doc_id
)"""

    return f"""
WITH q(term, qtf) AS (VALUES {qvals}),
{field_cte("t1", "substring(text, 1, 80)")},
{field_cte("t2", "text")},
best AS (
  SELECT coalesce(a.doc_id, b.doc_id) AS doc_id,
         greatest(coalesce({title_boost} * a.score, -1e300),
                  coalesce({body_boost} * b.score, -1e300)) AS score
  FROM t1_score a FULL OUTER JOIN t2_score b ON a.doc_id = b.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM best ORDER BY round(score, 4) DESC, doc_id ASC LIMIT {k}
"""


@register("bm25_bestfields_multifield", _bestfields_sql("table scan merge join", 20, 3.0, 1.0))
def bm25_bestfields_multifield(spark: SparkSession, sf_dir: str) -> DataFrame:
    """multi_match best_fields over derived (title, body) fields."""
    from .search import MultiFieldIndex

    docs = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring("text", 1, 80).alias("title"),
        F.col("text").alias("body"),
    )
    ix = MultiFieldIndex.build(docs, "doc_id", ["title", "body"])
    out = ix.best_fields_scores("table scan merge join", {"title": 3.0, "body": 1.0})
    return (
        out.select(F.col("id").cast("long").alias("doc_id"), F.round("score", 4).alias("score"))
        .orderBy(F.desc("score"), F.asc("doc_id"))
        .limit(20)
    )


# ----------------------------------------------- hybrid + normalize + page

_HYBRID_QUERY = "window agg stream dup"


def _hybrid_sql(query: str, k: int) -> str:
    """bool should-sum (SC4): 0.3 * BM25 + 1.0 * (cosine(query_vec=vec of
    doc 0) + 1) — hybrid mode (SC5) with embeddings joined on doc_id."""
    bm25 = bm25_oracle_sql(query, k=10**9, round_to=12)
    # strip the oracle's own ordering/limit/rounding; reuse its scored set
    bm25_cte = bm25[: bm25.index("SELECT doc_id, round(score,")].rstrip().rstrip(",")
    return f"""{bm25_cte},
qv AS (SELECT embedding AS v FROM embeddings WHERE vec_id = 0),
cos AS (
  SELECT e.vec_id AS doc_id,
         list_sum(list_transform(list_zip(e.embedding, qv.v),
                  p -> p[1]::DOUBLE * p[2]::DOUBLE))
         / (sqrt(list_sum(list_transform(e.embedding, x -> x::DOUBLE * x::DOUBLE)))
            * sqrt(list_sum(list_transform(qv.v, x -> x::DOUBLE * x::DOUBLE)))) AS c
  FROM embeddings e, qv
),
hybrid AS (
  SELECT cos.doc_id,
         coalesce(0.3 * scored.score, 0.0) + (cos.c + 1.0) AS score
  FROM cos LEFT JOIN scored ON cos.doc_id = scored.doc_id
)
SELECT doc_id, round(score, 4) AS score
FROM hybrid ORDER BY score DESC, doc_id ASC LIMIT {k}
"""


@register("hybrid_bm25_cosine_topk", _hybrid_sql(_HYBRID_QUERY, 20))
def hybrid_bm25_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid mode: BM25 clause (boost 0.3) + cosine clause, should-sum."""
    def dot(a, b):
        return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)

    def norm(a):
        return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))

    eng = documents_engine(spark, sf_dir)
    bm25 = eng.search(_HYBRID_QUERY, k=10**9).withColumnRenamed("score", "b")
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    qv_arr = emb.filter(F.col("vec_id") == 0).collect()[0]["embedding"]
    qv = F.array(*[F.lit(float(x)) for x in qv_arr])
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    qd = F.transform(qv, lambda x: x)
    cos = dot(v, qd) / (norm(v) * norm(qd))
    cdf = emb.select(F.col("vec_id").alias("doc_id"), (cos + F.lit(1.0)).alias("c"))
    out = (
        cdf.join(bm25, "doc_id", "left")
        .select(
            "doc_id",
            F.round(F.coalesce(F.lit(0.3) * F.col("b"), F.lit(0.0)) + F.col("c"), 4).alias("score"),
        )
    )
    return out.orderBy(F.desc("score"), F.asc("doc_id")).limit(20)


@register(
    "sc6_minmax_normalized_topk",
    f"""
WITH ranked AS ({bm25_oracle_sql(_HYBRID_QUERY, 20, round_to=12)}),
ext AS (SELECT doc_id, score, min(score) OVER () AS mn, max(score) OVER () AS mx FROM ranked)
SELECT doc_id,
       CASE WHEN mx = mn THEN 1.0 ELSE round((score - mn) / (mx - mn), 6) END AS norm
FROM ext ORDER BY norm DESC, doc_id ASC
""",
)
def sc6_minmax_normalized_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SC6 min-max normalization over the returned result list."""
    from .search import minmax_normalize

    eng = documents_engine(spark, sf_dir)
    top = eng.search(_HYBRID_QUERY, k=20, round_to=12)
    return (
        minmax_normalize(top)
        .select("doc_id", F.col("score").alias("norm"))
        .orderBy(F.desc("norm"), F.asc("doc_id"))
    )


@register(
    "t4_offset_pagination",
    """SELECT doc_id, n_chars FROM (
         SELECT doc_id, n_chars,
                row_number() OVER (ORDER BY n_chars DESC, doc_id ASC) AS rn
         FROM documents) t
       WHERE rn > 10 AND rn <= 20 ORDER BY rn""",
)
def t4_offset_pagination(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql import Window

    w = Window.partitionBy().orderBy(F.desc("n_chars"), F.asc("doc_id"))
    return (
        _docs(spark, sf_dir)
        .select("doc_id", "n_chars", F.row_number().over(w).alias("rn"))
        .filter((F.col("rn") > 10) & (F.col("rn") <= 20))
        .orderBy("rn")
        .drop("rn")
    )


# -------------------------------------------- rows-only pipeline surfaces


def _chunker_oracle() -> str:
    # lazy: the chunker is deterministic pure python, so the oracle is a
    # VALUES literal computed by running chunk_text_py over the SAME docs
    # the entry reads — resolved against the comparison SF dir at
    # oracle_sql() call time
    from .chunker import chunks_oracle_sql

    return chunks_oracle_sql(oracle_sf_dir(), max_doc_id=50, chunk_size=30, chunk_overlap=5)


@register("chunker_1_to_n", _chunker_oracle)
def chunker_1_to_n(spark: SparkSession, sf_dir: str) -> DataFrame:
    from .chunker import chunk_docs

    return (
        chunk_docs(
            _docs(spark, sf_dir).filter(F.col("doc_id") < 50),
            id_col="doc_id", text_col="text", chunk_size=30, chunk_overlap=5,
        )
        .select("id", "chunk_index", "doc_id", "token_count", "chunk_start", "chunk_end")
        .orderBy("id", "chunk_index")
    )


# ------------------------------------------- misc §2 operator parity entries


@register(
    "p5_token_set_overlap",
    f"""SELECT doc_id FROM documents
        WHERE len(list_intersect({duckdb_tokens_expr('text')}, ['dup', 'spark'])) > 0
        ORDER BY doc_id""",
)
def p5_token_set_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    # P5: set-overlap filter (arrays_overlap over analyzer tokens)
    return (
        _docs(spark, sf_dir)
        .filter(F.arrays_overlap(tokens_col("text"), F.array(F.lit("dup"), F.lit("spark"))))
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "s9_point_lookup",
    "SELECT doc_id, lang, source, n_chars FROM documents WHERE doc_id = 42",
)
def s9_point_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S9: point lookup by id (predicate pushdown to the scan)
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") == 42)
        .select("doc_id", "lang", "source", "n_chars")
    )


# ----------------------------------------- table-format surface (MERGE/DELETE)

from .operators import merge as _mg  # noqa: E402

_DELETE_IDS = (3, 42, 99, 123, 200)


@register("s9_delete_by_id", _mg.delete_by_ids_sql(_DELETE_IDS))
def s9_delete_by_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    # S9 row-level DELETE (reference es_indexer.py:442-472 delete-by-id):
    # broadcast anti-join against the delete list — the big side never
    # shuffles. All five ids exist at every SF (doc_id 0..499).
    return (
        _mg.delete_by_ids(_docs(spark, sf_dir), _DELETE_IDS, key="doc_id")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


@register("merge_upsert_docs", _mg.merge_upsert_docs_sql())
def merge_upsert_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # keyed MERGE/upsert (reference idempotent re-ingest via deterministic
    # _ids, es_indexer.py:176-179): delta rows replace base rows on key,
    # base-only rows survive, new keys insert. The delta is derived
    # deterministically: every doc_id % 7 == 0 is "modified", five brand
    # new keys are inserted — all three MERGE branches are non-vacuous.
    d = _docs(spark, sf_dir)
    base = d.select("doc_id", F.substring("text", 1, 16).alias("payload"))
    delta = (
        d.filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            F.concat(F.lit("updated:"), F.col("doc_id").cast("string")).alias("payload"),
        )
        .unionByName(
            d.filter(F.col("doc_id") < 5).select(
                (F.col("doc_id") + 1000000).alias("doc_id"),
                F.concat(F.lit("new:"), F.col("doc_id").cast("string")).alias("payload"),
            )
        )
    )
    return _mg.merge_upsert(base, delta, key="doc_id").orderBy("doc_id")


@register(
    "j1_meta_enrich_coalesce",
    """
WITH extracted AS (
  SELECT doc_id, substring(text, 1, 24) AS title FROM documents
),
meta AS (
  SELECT doc_id,
         CASE WHEN doc_id % 3 = 0 THEN NULL
              ELSE 'meta:' || CAST(doc_id AS VARCHAR) END AS title
  FROM documents WHERE doc_id % 2 = 0
)
SELECT e.doc_id, coalesce(m.title, e.title) AS title
FROM extracted e LEFT JOIN meta m ON e.doc_id = m.doc_id
ORDER BY e.doc_id
""",
)
def j1_meta_enrich_coalesce(spark: SparkSession, sf_dir: str) -> DataFrame:
    # J1 metadata-enrichment join (reference ingest_papers.py:72-129,
    # :241-269): broadcast-join a (deterministically derived) metadata
    # dimension onto the extracted side, coalesce meta over extracted per
    # field. Half the docs have a meta row; a third of those have a NULL
    # meta title — both fallback branches are exercised (non-vacuous).
    from .pipeline import enrich_with_metadata

    d = _docs(spark, sf_dir)
    extracted = d.select("doc_id", F.substring("text", 1, 24).alias("title"))
    meta = d.filter(F.col("doc_id") % 2 == 0).select(
        "doc_id",
        F.when(F.col("doc_id") % 3 == 0, F.lit(None).cast("string"))
        .otherwise(F.concat(F.lit("meta:"), F.col("doc_id").cast("string")))
        .alias("title"),
    )
    return enrich_with_metadata(extracted, meta, key="doc_id", fields=("title",)).orderBy(
        "doc_id"
    )


# ------------------------------------------------------------ variants
# Redundant variants of shapes already covered above.

# the multi-term WAND shape (scan_merge query via the exact path is #1)
register("bm25_wand_scan_merge", bm25_oracle_sql("table scan merge join", 20))(
    _mk_wand("table scan merge join", 20)
)


# camelCase-analyzer BM25 (demoted r4: the code-aware analyzer is driver-
# covered by doc_token_stats/term_frequencies; slot given to A1 bucket order)
def _bm25_camel(spark: SparkSession, sf_dir: str) -> DataFrame:
    return documents_engine(spark, sf_dir).search("tableScan mergeJoin the", 20, round_to=4)


register("bm25_topk_camelcase", bm25_oracle_sql("tableScan mergeJoin the", 20))(_bm25_camel)


# D4 array_distinct (the array-function shape also lives in the
# analyzer entries' token pipelines)
@register(
    "d4_array_distinct_tokens",
    f"""SELECT doc_id,
               array_to_string(list_sort(list_distinct({duckdb_tokens_expr('text')})), ' ')
                   AS uniq_tokens
        FROM documents WHERE doc_id < 25 ORDER BY doc_id""",
)
def d4_array_distinct_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    # D4 (sorted: Spark array_distinct keeps first-occurrence order,
    # DuckDB list_distinct does not — sort both for a stable compare).
    # Returned space-joined: the driver's canonicalizer value-hashes via
    # pandas sort_values, which cannot hash list columns (round-1 crash);
    # the array-typed variant stays pinned in pytest.
    return (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") < 25)
        .select(
            "doc_id",
            F.array_join(F.array_sort(F.array_distinct(tokens_col("text"))), " ").alias(
                "uniq_tokens"
            ),
        )
        .orderBy("doc_id")
    )
