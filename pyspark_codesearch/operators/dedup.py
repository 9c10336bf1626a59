"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale notes (the point of each design):
- exact: one hash-shuffle on sha256(text); canonical = min doc_id per
  group (deterministic winner).
- MinHash+LSH: signatures are per-doc map-side work; the ONLY shuffle is
  the band-key self-join, and band keys are high-cardinality (md5 of 4
  minhashes) so the join is skew-free by construction. Candidate pairs
  then verified with exact shingle Jaccard — classic
  shingle->minhash->band->bucket-join.
- SimHash: 60-bit fingerprint (15 hex chars so the value fits a SIGNED
  long — Spark has no unsigned 64-bit; DuckDB side uses the same 60
  bits). Near-dup candidates join on chunk equality with the chunk count
  derived from the requested radius (pigeonhole: max_hamming+1 chunks,
  so recall is complete at ANY radius — see :func:`chunk_plan`).

All hash functions are md5-derived so the DuckDB oracles are exactly
reproducible cross-engine (Spark md5() == DuckDB md5()).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..analysis import duckdb_tokens_expr, tokens_col

N_HASHES = 16
N_BANDS = 4
ROWS_PER_BAND = N_HASHES // N_BANDS

# Documented (n_hashes, n_bands) presets from the S-curve calculus in
# lsh_candidate_pairs: threshold ~ (1/n_bands)^(n_bands/n_hashes).
# "fixture" sizes the test corpus; corpus-scale near-dup passes pick
# "recall" (threshold ~0.42, r=4) or "precision" (threshold ~0.71, r=8).
LSH_PRESETS: dict[str, tuple[int, int]] = {
    "fixture": (16, 4),
    "recall": (128, 32),
    "precision": (128, 16),
}
SHINGLE = 3
# last two _with_shingles barrier caches (older ones are unpersisted on
# the next call so a long session doesn't accumulate token frames)
_SHINGLE_TOKS_CACHES: list = []
SIMHASH_BITS = 60
SIMHASH_CHUNKS = 4
CHUNK_BITS = SIMHASH_BITS // SIMHASH_CHUNKS  # 15


# ----------------------------------------------------------------- exact
def exact_duplicates(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    key=None,
) -> DataFrame:
    """(doc_id, canonical_id) for every doc in a >1-sized hash group.

    ``key`` defaults to sha256(raw text); pass e.g. the bag-of-words
    fingerprint for canonicalized exact-dedup (same hash-groupBy shape).
    """
    h = docs.select(
        F.col(id_col).alias("doc_id"),
        (key if key is not None else F.sha2(text_col, 256)).alias("h"),
    )
    w = Window.partitionBy("h")
    return (
        h.withColumn("canonical_id", F.min("doc_id").over(w))
        .withColumn("group_size", F.count(F.lit(1)).over(w))
        .filter(F.col("group_size") > 1)
        .select("doc_id", "canonical_id")
        .orderBy("doc_id")
    )


def exact_duplicates_sql(key_sql: str | None = None, text_col: str = "text") -> str:
    key_sql = key_sql or f"sha256({text_col})"
    return f"""
WITH h AS (SELECT doc_id, {key_sql} AS h FROM documents),
g AS (SELECT doc_id, min(doc_id) OVER (PARTITION BY h) AS canonical_id,
             count(*) OVER (PARTITION BY h) AS group_size FROM h)
SELECT doc_id, canonical_id FROM g WHERE group_size > 1 ORDER BY doc_id
"""


# ----------------------------------------------------------- minhash + LSH
def shingle_list(toks: list[str], n: int = SHINGLE) -> list[str]:
    """n-gram shingles of a token list (shared by UDF and tests)."""
    if len(toks) >= n:
        return [" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)]
    return [" ".join(toks)]


def shingles_udf():
    """Arrow-batched pandas UDF: text -> array<string> of shingles.

    Kept for parity tests; the query path is :func:`_with_shingles`,
    which stays in the JVM.
    """
    from pyspark.sql.functions import pandas_udf

    from ..analysis import tokenize_series

    @pandas_udf("array<string>")
    def _sh(s):
        return tokenize_series(s).map(shingle_list)

    return _sh


def _with_shingles(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(doc_id, sh array<string>) with tokens computed exactly once.

    JVM end to end (r8): the tokenizer runs as the usual column
    expression and the shingle window is a higher-order ``transform``
    over the token array. The tokenized frame is cache()d as a
    materialization barrier first — without it CollapseProject inlines
    the tokenizer regex chain into the transform lambda and re-evaluates
    it PER ELEMENT (measured 50s vs 2.9s on sf0.1 back when this was
    why the pandas UDF existed; the barrier keeps it one evaluation per
    doc while dropping the python boundary entirely — the UDF path
    measured ~2.9 s of the 3.6 s minhash signature build)."""
    # repartition BEFORE deriving tokens: the documents parquet is one
    # file = one scan partition, and without an exchange below it the
    # tokenizer AND the downstream map-side md5 mins would run serially
    # in that single task (keyed on doc_id — deterministic under task
    # retry, unlike round-robin)
    n_parts = docs.sparkSession.sparkContext.defaultParallelism
    toks = (
        docs.repartition(n_parts, F.col(id_col))
        .select(F.col(id_col).alias("doc_id"), tokens_col(F.col(text_col)).alias("t"))
        .cache()
    )
    # bound barrier-cache retention: drop blocks of frames cached by
    # EARLIER calls (keep the previous one — ngram_jaccard_pairs holds
    # two live shingle frames at once). Unpersist only drops cached
    # blocks; any plan still referencing the InMemoryRelation recomputes
    # through it, so the CollapseProject barrier survives.
    while len(_SHINGLE_TOKS_CACHES) > 1:
        _SHINGLE_TOKS_CACHES.pop(0).unpersist()
    _SHINGLE_TOKS_CACHES.append(toks)
    win = F.transform(
        F.sequence(F.lit(1), F.size("t") - (SHINGLE - 1)),
        lambda i: F.concat_ws(" ", F.slice(F.col("t"), i, SHINGLE)),
    )
    sh = F.when(F.size("t") >= SHINGLE, win).otherwise(
        F.array(F.concat_ws(" ", F.col("t")))
    )
    return toks.select("doc_id", sh.alias("sh"))


def minhash_signatures(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", n_hashes: int = N_HASHES
) -> DataFrame:
    """(doc_id, sig array<string>[n_hashes]) — sig_i = min md5(i|shingle).

    min over fixed-width hex strings == min over the underlying 128-bit
    ints, so string MIN aggregates are exact and cross-engine stable.
    """
    # no ``.distinct()`` before the min-aggregation: min over a multiset
    # equals min over its distinct set, so dedup'ing shingles first only
    # added a full (doc_id, shingle) shuffle — without it the 16 mins
    # partial-aggregate map-side (each doc's shingles are colocated) and
    # the exchange carries one 16-hash row per doc
    sh = _with_shingles(docs, id_col, text_col).select(
        "doc_id", F.explode("sh").alias("s")
    )
    aggs = [
        F.min(F.md5(F.concat(F.lit(f"{i}|"), F.col("s")))).alias(f"h{i}")
        for i in range(n_hashes)
    ]
    sig = sh.groupBy("doc_id").agg(*aggs)
    return sig.select(
        "doc_id", F.array(*[F.col(f"h{i}") for i in range(n_hashes)]).alias("sig")
    )


def lsh_candidate_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    scale_preset: str | None = None,
) -> DataFrame:
    """(doc_a, doc_b) sharing at least one LSH band. doc_a < doc_b.

    Choosing (n_hashes, n_bands): with r = n_hashes/n_bands rows per
    band, the S-curve's similarity threshold is ~(1/n_bands)^(1/r).
    The defaults (16, 4) -> r=4, threshold ~0.71 are sized for the test
    fixture; a 100 TB near-dup pass would run e.g. (128, 32) -> same
    r=4 but threshold ~0.42 (higher recall) or (128, 16) -> r=8,
    threshold ~0.71 with a much sharper curve (higher precision). Cost
    scales linearly in n_hashes (map-side mins) and n_bands (band rows
    in the self-join); the join stays skew-free at any setting because
    band keys are md5 of r minhashes. Both production shapes are
    exercised in tests.
    """
    if scale_preset is not None:
        n_hashes, n_bands = LSH_PRESETS[scale_preset]
    rows = n_hashes // n_bands
    sig = minhash_signatures(docs, id_col, text_col, n_hashes)
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.md5(
                            F.concat_ws(
                                "|", *[F.col("sig")[b * rows + r] for r in range(rows)]
                            )
                        ).alias("key"),
                    )
                    for b in range(n_bands)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", F.col("bk.band").alias("band"), F.col("bk.key").alias("key"))
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
        .orderBy("doc_a", "doc_b")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
) -> DataFrame:
    """LSH candidates verified with exact Jaccard over distinct shingles.

    (doc_a, doc_b, jaccard) with jaccard >= threshold; the candidate
    stage bounds the pair join (never O(n^2) on the full corpus).
    """
    cands = lsh_candidate_pairs(docs, id_col, text_col)
    sets_ = _with_shingles(docs, id_col, text_col).select(
        "doc_id", F.array_distinct("sh").alias("sh")
    )
    return (
        cands.join(sets_.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("sh", "sh_a"), "doc_a")
        .join(sets_.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("sh", "sh_b"), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.size(F.array_intersect("sh_a", "sh_b"))
                / F.size(F.array_union("sh_a", "sh_b")),
                4,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        .orderBy("doc_a", "doc_b")
    )


def _duck_shingle_ctes(text_col: str = "text") -> str:
    """CTE prefix defining shing(doc_id, shs array<string>)."""
    t = duckdb_tokens_expr(text_col)
    return f"""
tokd AS (SELECT doc_id, {t} AS t FROM documents),
shing AS (
  SELECT doc_id,
         CASE WHEN len(t) >= {SHINGLE}
              THEN list_transform(range(1, len(t) - {SHINGLE - 2}),
                   i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
              ELSE [array_to_string(t, ' ')] END AS shs
  FROM tokd
)"""


def minhash_lsh_pairs_sql(text_col: str = "text",
                          n_hashes: int = N_HASHES, n_bands: int = N_BANDS) -> str:
    rows = n_hashes // n_bands
    mins = ", ".join(
        f"min(md5('{i}|' || s)) AS h{i}" for i in range(n_hashes)
    )
    band_rows = " UNION ALL ".join(
        f"""SELECT doc_id, {b} AS band,
            md5({" || '|' || ".join(f'h{b * rows + r}' for r in range(rows))}) AS key
            FROM sig"""
        for b in range(n_bands)
    )
    return f"""
WITH {_duck_shingle_ctes(text_col)},
sh AS (
  SELECT DISTINCT doc_id, unnest(shs) AS s FROM shing
),
sig AS (SELECT doc_id, {mins} FROM sh GROUP BY doc_id),
bands AS ({band_rows})
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
WHERE a.doc_id < b.doc_id
ORDER BY doc_a, doc_b
"""


def ngram_jaccard_pairs_sql(text_col: str = "text", threshold: float = 0.5) -> str:
    pairs = minhash_lsh_pairs_sql(text_col).replace("ORDER BY doc_a, doc_b", "")
    return f"""
WITH cand AS ({pairs}),
{_duck_shingle_ctes(text_col)},
sets_ AS (SELECT doc_id, list_distinct(shs) AS sh FROM shing)
SELECT c.doc_a, c.doc_b,
       round(len(list_intersect(a.sh, b.sh))::DOUBLE
             / len(list_distinct(list_concat(a.sh, b.sh))), 4) AS jaccard
FROM cand c
JOIN sets_ a ON c.doc_a = a.doc_id
JOIN sets_ b ON c.doc_b = b.doc_id
WHERE round(len(list_intersect(a.sh, b.sh))::DOUBLE
            / len(list_distinct(list_concat(a.sh, b.sh))), 4) >= {threshold}
ORDER BY doc_a, doc_b
"""


# ----------------------------------------------------------------- simhash
def _hex60_to_long(col):
    """first 15 hex chars of md5 -> 60-bit non-negative long (JVM conv)."""
    return F.conv(F.substring(col, 1, 15), 16, 10).cast("long")


def simhash(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, ordered: bool = True
) -> DataFrame:
    """(doc_id, simhash long) — 60-bit, tf-weighted, md5 token hashes.

    Pure column-expression implementation: explode tokens -> tf ->
    explode bit positions -> signed sums -> bit reassembly. The 60x bit
    fanout stays JVM-side (no python) but costs two shuffles; the 100 TB
    path is :func:`simhash_pandas` (one shuffle-free Arrow map,
    bit-identical — parity-pinned in tests).
    """
    tf = (
        docs.select(F.col(id_col).alias("doc_id"), F.explode(tokens_col(text_col)).alias("t"))
        .groupBy("doc_id", "t")
        .agg(F.count(F.lit(1)).alias("tf"))
        .withColumn("hv", _hex60_to_long(F.md5("t")))
    )
    bits = tf.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(SIMHASH_BITS - 1))).alias("b"),
        "hv",
        "tf",
    ).withColumn(
        "w",
        F.when(F.expr("(shiftright(hv, CAST(b AS INT)) & 1) = 1"), F.col("tf")).otherwise(
            -F.col("tf")
        ),
    )
    out = (
        bits.groupBy("doc_id", "b")
        .agg(F.sum("w").alias("s"))
        .groupBy("doc_id")
        .agg(
            F.sum(
                F.when(
                    F.col("s") > 0, F.expr("shiftleft(CAST(1 AS BIGINT), CAST(b AS INT))")
                ).otherwise(F.lit(0).cast("long"))
            ).alias("simhash")
        )
    )
    return out.orderBy("doc_id") if ordered else out


def simhash_pandas(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text", *, ordered: bool = True
) -> DataFrame:
    """Bit-identical to :func:`simhash`, but as ONE Arrow-batched map —
    zero shuffles, no 60x bit fanout.

    The column-expression version shuffles doc x term x 60 rows through
    two groupBys; this variant computes each doc's signature inside a
    pandas UDF (tokenize -> tf -> signed bit sums, numpy per doc) and is
    the 100 TB path: embarrassingly parallel over doc partitions, the
    only cost is python md5 per (doc, distinct term). Parity with the
    JVM version is pinned by tests (same md5-prefix hash, same
    tf-weighted majority rule; docs with zero tokens are absent from
    both outputs)."""
    import hashlib
    from collections import Counter

    import numpy as np
    import pandas as pd
    from pyspark.sql.functions import pandas_udf

    from ..analysis import tokenize_py

    shifts = np.arange(SIMHASH_BITS, dtype=np.uint64)

    def sig_of(text):
        toks = tokenize_py(text or "")
        if not toks:
            return None
        acc = np.zeros(SIMHASH_BITS, dtype=np.int64)
        for t, tf in Counter(toks).items():
            hv = int(hashlib.md5(t.encode()).hexdigest()[:15], 16)
            bits = (np.uint64(hv) >> shifts) & np.uint64(1)
            acc += np.where(bits == 1, tf, -tf)
        return int(((acc > 0).astype(np.uint64) << shifts).sum())

    @pandas_udf("long")
    def _sig(s):
        return pd.Series(s.map(sig_of), dtype="object")

    out = docs.select(
        F.col(id_col).alias("doc_id"), _sig(F.col(text_col)).alias("simhash")
    ).filter(F.col("simhash").isNotNull())
    return out.orderBy("doc_id") if ordered else out


def simhash_sql(text_col: str = "text") -> str:
    t = duckdb_tokens_expr(text_col)
    return f"""
WITH tf AS (
  SELECT doc_id, t, count(*)::BIGINT AS tf,
         (('0x' || substring(md5(t), 1, 15))::UBIGINT)::BIGINT AS hv
  FROM (SELECT doc_id, unnest({t}) AS t FROM documents)
  GROUP BY doc_id, t
),
bits AS (
  SELECT doc_id, b,
         sum(CASE WHEN (hv >> b) & 1 = 1 THEN tf ELSE -tf END) AS s
  FROM tf, unnest(range(0, {SIMHASH_BITS})) AS u(b)
  GROUP BY doc_id, b
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b::INT) ELSE 0 END)::BIGINT AS simhash
FROM bits GROUP BY doc_id ORDER BY doc_id
"""


def chunk_plan(max_hamming: int) -> tuple[int, int]:
    """(n_chunks, chunk_bits) guaranteeing recall at the requested radius.

    Pigeonhole: a pair within hamming distance h differs in at most h
    chunks, so with n_chunks >= h+1 the pair MUST share at least one
    equal chunk. Round n_chunks up to the next divisor of SIMHASH_BITS
    so chunks stay equal-width (hamming 3 -> 4x15 bits, the historical
    default; hamming 8 -> 10x6 bits). More chunks = more candidate rows
    but the join stays an equi-join on (chunk_index, chunk_value)."""
    need = max_hamming + 1
    if need > SIMHASH_BITS:
        raise ValueError(f"max_hamming {max_hamming} >= {SIMHASH_BITS} bits")
    n = next(n for n in range(need, SIMHASH_BITS + 1) if SIMHASH_BITS % n == 0)
    return n, SIMHASH_BITS // n


def simhash_near_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 3,
    *,
    signatures: DataFrame | None = None,
    use_pandas: bool = True,
) -> DataFrame:
    """(doc_a, doc_b, hamming<=max_hamming) via chunk-equality join.

    The chunk count is DERIVED from max_hamming (:func:`chunk_plan`) so
    the pigeonhole recall guarantee holds at any requested radius — a
    fixed 4-chunk split is only complete up to hamming 3. The candidate
    join is an equi-join (shuffle on chunk value), never a cross product.

    Signatures ride the shuffle-free Arrow path (:func:`simhash_pandas`,
    bit-identical to the column-expr :func:`simhash` — parity-pinned) by
    default, so the ONLY shuffles in the plan are the chunk equi-join and
    the candidate distinct — the 100 TB shape. Pass ``use_pandas=False``
    for the pure-JVM signature (two extra groupBy shuffles), or
    ``signatures`` (a (doc_id, simhash) frame) to reuse precomputed ones.
    """
    n_chunks, chunk_bits = chunk_plan(max_hamming)
    if signatures is not None:
        sh = signatures
    elif use_pandas:
        sh = simhash_pandas(docs, id_col, text_col, ordered=False)
    else:
        sh = simhash(docs, id_col, text_col, ordered=False)
    chunks = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("c"),
                        F.shiftright("simhash", c * chunk_bits)
                        .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                        .alias("v"),
                    )
                    for c in range(n_chunks)
                ]
            )
        ).alias("ck"),
    ).select("doc_id", "simhash", F.col("ck.c").alias("c"), F.col("ck.v").alias("v"))
    a, b = chunks.alias("a"), chunks.alias("b")
    cand = (
        a.join(b, ["c", "v"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.col("a.simhash").alias("sa"),
            F.col("b.simhash").alias("sb"),
        )
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .orderBy("doc_a", "doc_b")
    )


def simhash_near_pairs_sql(text_col: str = "text", max_hamming: int = 3) -> str:
    base = simhash_sql(text_col).replace("ORDER BY doc_id", "")
    n_chunks, chunk_bits = chunk_plan(max_hamming)
    chunk_rows = " UNION ALL ".join(
        f"SELECT doc_id, simhash, {c} AS c, (simhash >> {c * chunk_bits}) & {(1 << chunk_bits) - 1} AS v FROM sh"
        for c in range(n_chunks)
    )
    return f"""
WITH sh AS ({base}),
chunks AS ({chunk_rows}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sa, b.simhash AS sb
  FROM chunks a JOIN chunks b ON a.c = b.c AND a.v = b.v
  WHERE a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sa, sb)) AS hamming
FROM cand WHERE bit_count(xor(sa, sb)) <= {max_hamming}
ORDER BY doc_a, doc_b
"""
