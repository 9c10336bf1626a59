"""Deterministic synthetic source-code corpus + ingest.

Generates the BASELINE.json input_hint table
``(repo string, path string, commit string, lang string, content string)``
with Zipfian repo sizes and Zipfian hot terms (skew exercise), then ingests
it into the engine's canonical ``docs`` shape with derived columns:

  doc_id   bigint  — bucket << BUCKET_BITS | rank by (repo, path, commit)
                     within the bucket (dense 0..n-1 at n_buckets=1)
  sha256   string  — sha2(content, 256); per-row invariant vs the generator
  doc_len  int     — token count post-analysis

Mirrors (in behavior, not code) the reference ingest
``ingest_papers.py:457-542`` which lists files in lexicographic order and
derives ids deterministically (``es_indexer.py:176-179``).

Everything is seeded — no wall clock, no randomness outside numpy PCG64.
"""

from __future__ import annotations

import hashlib

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .analysis import tokens_col

LANGS = ("python", "java", "js", "go", "md")
# last replicated_documents fast-path base cache (unpersisted on the
# next call so repeated bench builds don't accumulate token frames)
_REPLICA_BASE_CACHES: list = []
_EXT = {"python": "py", "java": "java", "js": "js", "go": "go", "md": "md"}

_KEYWORDS = (
    "def class import return if else for while try except lambda yield "
    "public static void new extends implements interface function var let "
    "const async await package func type struct range chan map the and "
    "data value result buffer parse json string read file write stream "
    "index search query token merge sort hash join filter group count"
).split()

_IDENT_HEADS = (
    "parse read write merge build encode decode fetch load store scan "
    "split score rank index flush apply reduce emit walk visit probe"
).split()
_IDENT_TAILS = (
    "Json Buffer File String Stream Token Index Query Block Segment "
    "Record Batch Posting Score Heap Cache Table Shard Chunk Doc"
).split()
_SNAKE_TAILS = (
    "json buffer file string stream token index query block segment "
    "record batch posting score heap cache table shard chunk doc"
).split()


def generate_corpus(n_docs: int = 500, seed: int = 42) -> pd.DataFrame:
    """Deterministic pandas corpus; code-like content with Zipfian terms."""
    rng = np.random.default_rng(seed)
    n_repos = max(2, n_docs // 40)
    # Zipfian repo sizes
    repo_w = 1.0 / np.arange(1, n_repos + 1)
    repo_w /= repo_w.sum()
    rows = []
    kw = np.array(_KEYWORDS)
    kw_w = 1.0 / np.arange(1, len(kw) + 1) ** 1.1
    kw_w /= kw_w.sum()
    for i in range(n_docs):
        r = int(rng.choice(n_repos, p=repo_w))
        lang = LANGS[int(rng.integers(0, len(LANGS)))]
        repo = f"org{r % 7}/proj{r}"
        path = f"src/mod{int(rng.integers(0, 20))}/file{i}.{_EXT[lang]}"
        commit = hashlib.sha1(f"{repo}/{path}@rev{i}".encode()).hexdigest()
        n_terms = int(rng.integers(30, 220))
        words = list(rng.choice(kw, size=n_terms, p=kw_w))
        # identifiers: camelCase + snake_case + digit-suffixed
        for _ in range(max(3, n_terms // 8)):
            h = _IDENT_HEADS[int(rng.integers(0, len(_IDENT_HEADS)))]
            if rng.random() < 0.5:
                words.append(h + _IDENT_TAILS[int(rng.integers(0, len(_IDENT_TAILS)))])
            else:
                words.append(h + "_" + _SNAKE_TAILS[int(rng.integers(0, len(_SNAKE_TAILS)))])
            if rng.random() < 0.3:
                words.append(f"utf{int(rng.integers(2, 64))}")
        # one globally-unique rare term per doc (exact-match tests)
        words.append(f"uniqterm{i:06d}")
        perm = rng.permutation(len(words))
        toks = [words[j] for j in perm]
        # sprinkle code punctuation deterministically
        content = ""
        for j, t in enumerate(toks):
            sep = "(" if j % 11 == 3 else ("); " if j % 11 == 7 else (".\n" if j % 17 == 16 else " "))
            content += t + sep
        rows.append((repo, path, commit, lang, content))
    return pd.DataFrame(rows, columns=["repo", "path", "commit", "lang", "content"])


def corpus_df(spark: SparkSession, n_docs: int = 500, seed: int = 42, n_partitions: int = 8) -> DataFrame:
    pdf = generate_corpus(n_docs, seed)
    return spark.createDataFrame(pdf).repartition(n_partitions, "repo", "path")


BUCKET_BITS = 40  # local ids live in the low 40 bits: 1T docs per bucket


def ingest_bucketed(corpus: DataFrame, n_buckets: int = 1024) -> DataFrame:
    """Scale-safe deterministic doc-id assignment (no global sort).

    bucket = pmod(xxhash64(repo, path), n_buckets); within each bucket a
    row_number ordered by (repo, path, commit);
    doc_id = bucket << BUCKET_BITS | (local - 1).

    The window is PARTITIONED by bucket, so the plan is one hash exchange
    on bucket + per-partition sorts — every executor assigns its buckets'
    ids independently; no ``Exchange SinglePartition`` anywhere (asserted
    by tests/test_plan_contracts.py). Ids are unique (buckets are
    disjoint bit-ranges), deterministic (hash + total order within
    bucket), and doc-id-RANGE salting still behaves: each bucket's ids
    form a contiguous run, so a (term, salt) group never straddles
    buckets for salt_range <= 2^BUCKET_BITS. ``n_buckets=1`` gives dense
    ids 0..n-1 in (repo, path, commit) order, the shape tests pin;
    score parity across bucket counts is pinned by
    tests/test_bm25_rank_identity.py::test_bucketed_ingest_rank_parity.

    Replaces the reference's sequential lexicographic id loop
    (ingest_papers.py:457-542) at cluster scale.
    """
    w = Window.partitionBy("_bucket").orderBy("repo", "path", "commit")
    return (
        corpus.withColumn(
            "_bucket", F.pmod(F.xxhash64("repo", "path"), F.lit(n_buckets)).cast("long")
        )
        .withColumn(
            "doc_id",
            F.shiftleft(F.col("_bucket"), BUCKET_BITS)
            + (F.row_number().over(w).cast("long") - F.lit(1)),
        )
        .drop("_bucket")
        .withColumn("sha256", F.sha2(F.col("content"), 256))
        .withColumn("tokens", tokens_col("content"))
        .withColumn("doc_len", F.size("tokens"))
    )


def ingest_documents_df(df: DataFrame) -> DataFrame:
    """Apply the canonical ingest transforms to a raw documents frame."""
    return (
        df.withColumnRenamed("text", "content")
        .withColumn("sha256", F.sha2(F.col("content"), 256))
        .withColumn("tokens", tokens_col("content"))
        .withColumn("doc_len", F.size("tokens"))
    )


def ingest_documents_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest the driver's documents.parquet (doc_id, text, lang, source,
    n_chars) into the same canonical shape (text ~ content)."""
    return ingest_documents_df(spark.read.parquet(f"{sf_dir}/documents.parquet"))


def replicated_documents(
    spark: SparkSession, sf_dir: str, factor: int, n_partitions: int,
    perturb: bool = False,
    needle_every: int | None = None,
) -> DataFrame:
    """Bench corpus: documents x factor with distinct doc_ids,
    REPARTITIONED BEFORE the ingest transforms.

    Order matters: the driver parquet is one file = one input partition,
    and Catalyst keeps projections next to the scan — deriving
    tokens/sha256 before a repartition serializes the whole tokenize on
    one core (measured: flat 8->32-core scaling until this split).

    ``perturb`` varies each replica's term frequencies: vanilla
    replication makes every replica of a doc score IDENTICALLY, which
    structurally defeats block-max pruning (no block's upper bound can
    fall below a top-k threshold made of the same tied scores) — fine
    for throughput scaling runs (same work at both levels), degenerate
    for measuring pruned-vs-exact query plans. The perturbation appends
    the doc's own first whitespace token extra times, keyed on
    xxhash64(doc_id): a mild body (0-3 extras) that breaks the ties,
    plus RARE extreme outliers (15 extras on ~0.4% of docs). Rarity is
    the point — real zipfian corpora prune because the top-k threshold
    is set by scarce high-tf outliers while most blocks' upper bounds
    stay in the low-tf body; frequent outliers would put one in every
    block and defeat block-max exactly like the ties do.

    ``needle_every=P`` appends the token ``uniqneedle`` to every P-th
    replica (keyed on xxhash64(doc_id)): a rare identifier term with
    df ~= n_docs/P — the base sf tables have no rare tokens at all, and
    selective-query experiments (rare identifier + common context, the
    canonical code-search shape) need one."""
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_base = raw.count()
    if not perturb and factor >= 1:
        # Fast path (r8): every replica of a base doc carries IDENTICAL
        # text (modulo the appended needle token), so the expensive
        # per-row ingest transforms — the tokenizer regex chain and
        # sha256 — are computed ONCE PER BASE DOC (5k rows) instead of
        # once per replica (factor x that), and the replicas are
        # produced by a JVM explode over the precomputed columns.
        # Row-for-row identical output to the replicate-then-ingest
        # plan: same content/sha256/tokens/doc_len per (base doc,
        # needle?) variant, same needle condition on the final doc_id.
        # The base is cache()d as a materialization barrier — without
        # it CollapseProject inlines the tokenizer expression into the
        # post-explode projection and re-runs it per replica. ~5k rows,
        # a few MB. The explode also preserves the base's round-robin
        # partitioning, so the old full-corpus repartition shuffle
        # (text bytes x factor) disappears outright.
        base = raw.repartition(n_partitions).withColumnRenamed("text", "content")
        variant_cols = [
            F.sha2(F.col("content"), 256).alias("sha256"),
            tokens_col("content").alias("tokens"),
        ]
        if needle_every:
            ncontent = F.concat(F.col("content"), F.lit(" uniqneedle"))
            variant_cols += [
                ncontent.alias("content_n"),
                F.sha2(ncontent, 256).alias("sha256_n"),
                tokens_col(ncontent).alias("tokens_n"),
            ]
        base = base.select(
            "doc_id", "content", "lang", "source", "n_chars", *variant_cols
        ).cache()
        # bound barrier-cache retention: drop
        # the previous call's base blocks (plans referencing the old
        # InMemoryRelation recompute through it — barrier semantics keep)
        while _REPLICA_BASE_CACHES:
            _REPLICA_BASE_CACHES.pop().unpersist()
        _REPLICA_BASE_CACHES.append(base)
        out = (
            base.withColumn(
                "rep", F.explode(F.sequence(F.lit(0), F.lit(factor - 1)))
            )
            .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_base)
            .drop("rep")
        )
        if needle_every:
            is_needle = (
                F.pmod(F.xxhash64(F.col("doc_id") + 1), F.lit(needle_every)) == 0
            )
            out = out.select(
                "doc_id",
                F.when(is_needle, F.col("content_n")).otherwise(F.col("content")).alias("content"),
                "lang",
                "source",
                "n_chars",
                F.when(is_needle, F.col("sha256_n")).otherwise(F.col("sha256")).alias("sha256"),
                F.when(is_needle, F.col("tokens_n")).otherwise(F.col("tokens")).alias("tokens"),
            )
        else:
            out = out.select(
                "doc_id", "content", "lang", "source", "n_chars", "sha256", "tokens"
            )
        return out.withColumn("doc_len", F.size("tokens"))
    rep = spark.range(factor).withColumnRenamed("id", "rep")
    replicated = (
        raw.crossJoin(F.broadcast(rep))
        .withColumn("doc_id", F.col("doc_id") + F.col("rep") * n_base)
        .drop("rep")
        .repartition(n_partitions)
    )
    if perturb:
        first_tok = F.split(F.col("text"), " ").getItem(0)
        h = F.xxhash64("doc_id")
        extra = (
            F.when(F.pmod(h, F.lit(256)) == 0, F.lit(15))
            .otherwise(F.pmod(h, F.lit(4)))
            .cast("int")
        )
        replicated = replicated.withColumn(
            "text",
            F.concat(
                F.col("text"),
                F.array_join(
                    F.array_repeat(F.concat(F.lit(" "), first_tok), extra), ""
                ),
            ),
        )
    if needle_every:
        replicated = replicated.withColumn(
            "text",
            F.when(
                F.pmod(F.xxhash64(F.col("doc_id") + 1), F.lit(needle_every)) == 0,
                F.concat(F.col("text"), F.lit(" uniqneedle")),
            ).otherwise(F.col("text")),
        )
    return ingest_documents_df(replicated)
