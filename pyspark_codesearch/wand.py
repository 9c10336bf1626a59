"""Top-k BM25 over compressed segments with MaxScore/block-max pruning.

This is the scale path the north rule asks for (the reference delegates the
equivalent to Lucene's WAND/MAXSCORE inside Elasticsearch — implied by its
multi_match DSL, es_indexer.py:276-284). One WAND plan,
:func:`wand_topk_batch`, wraps the one group scorer, :func:`_score_group`
(every query of the batch through :func:`_score_salt`); a single query is
a batch of one. Per doc-id-range salt:

  segments(term, salt, blocks...)  cogroup  doc_lens(salt, doc_id, doc_len)
      -> group scorer, once per query of the batch
      -> per-salt top-k -> per-query top-k

Two dispatchers run that group scorer, chosen by predicted cost:
- the DRIVER route, when the batch's matched postings (Σ df of its
  in-index terms) plus a bound on its lens rows fall below
  ``LOCAL_MAX_POSTINGS``: both pruned frames are collected through Arrow
  (JVM scans: no shuffle, no Python worker task, whose fixed start cost
  is most of a small batch's time) and scored in this process, once per
  group key; the ranked rows come back as a LocalRelation;
- the COGROUP plan above it: ``applyInPandas`` runs the group scorer on
  the executors and a window ranks each query.
The scorer and the groups are the same, so the two routes are
rank-identical by construction (tests/test_wand_routes.py).

Pruning (lossless for top-k):
- terms processed in descending max-contribution C_t = qtf * idf_t * max
  block impact; once the sum of remaining C_t falls below the running
  k-th-best score θ, the remaining terms become *lookup* terms — they can
  no longer introduce new candidate docs, so their blocks are decoded only
  where [first_doc, last_doc] intersects the candidate set (block-max
  metadata = the skip index).
- per-salt top-k lists are unioned and re-limited per query; doc-range
  salting guarantees a doc's postings never straddle salts, so the union
  is exact.
- :func:`wand_topk_selective` runs the plan twice on one query: the head
  term's salts first, then the other touched salts seeded with the
  global θ₀ of the first phase (or not at all, when a driver-side bound
  proves them out).

Parallelism story at 100 TB: every (salt) group holds at most
``salt_range`` postings per term; hot Zipfian terms fan out across salts =
across executors. doc_lens arrives cogrouped by the same salt key (in a
real deployment both sides are bucketed by salt, making this co-located).
"""

from __future__ import annotations

from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark import inheritable_thread_target
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import tokenize_py
from .codecs import varbyte_decode
from .indexing import B, K1, CorpusStats
from .session import local_frame


def _idf(n_docs: int, df: float) -> float:
    return float(np.log(1.0 + (n_docs - df + 0.5) / (df + 0.5)))


def _in_expr(col: str, values):
    """``col IN (...)`` as ONE SQL string. ``F.col(..).isin(list)`` costs
    a py4j round-trip per literal — at 64 touched salts plus the term
    list that was ~460 py4j calls (~60 ms measured) of per-query PLAN
    BUILD latency; the expr string is a single call and plans to the
    same Catalyst ``In`` (pushdown unchanged). String values are
    backslash- and single-quote-escaped (analyzer tokens never contain
    either, but the helper should not rely on that — Spark SQL string
    literals process backslash escapes by default).

    Only all-``str`` or all-integer (bool excluded) lists are accepted:
    anything else — None, floats, bools, a mix — raises TypeError instead
    of being stringified into a wrong predicate."""
    vals = list(values)
    if not vals:
        # SQL `IN ()` does not parse; match isin([])'s semantics
        return F.lit(False)
    if all(isinstance(v, (int, np.integer)) and not isinstance(v, bool) for v in vals):
        body = ", ".join(str(int(v)) for v in vals)
    elif all(isinstance(v, str) for v in vals):
        body = ", ".join(
            "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'" for v in vals
        )
    else:
        raise TypeError(
            f"_in_expr takes all-str or all-int values, got "
            f"{sorted({type(v).__name__ for v in vals})}"
        )
    return F.expr(f"{col} IN ({body})")


def _lens_arrays(lens_pdf: pd.DataFrame):
    """(doc_ids int64, doc_lens float64) from either lens layout: the
    packed one-row-per-salt table from :func:`prepare_lens_by_salt`
    (binary buffers, frombuffer round-trip is exact) or the plain
    (doc_id, doc_len) row format of a raw ``doc_lens`` frame."""
    if "ids" in lens_pdf.columns:
        ids = np.concatenate(
            [np.frombuffer(b, dtype=np.int64) for b in lens_pdf["ids"]]
        )
        dls = np.concatenate(
            [np.frombuffer(b, dtype=np.int32) for b in lens_pdf["lens"]]
        ).astype(np.float64)
        return ids, dls
    return (
        lens_pdf["doc_id"].to_numpy(np.int64),
        lens_pdf["doc_len"].to_numpy(np.float64),
    )


def _prep_lens(lens_pdf: pd.DataFrame, avgdl: float, k1: float, b: float):
    """(base, per-doc norm constant array) for one salt — query-independent,
    computed once per salt and shared across a batch's queries."""
    ids, dls = _lens_arrays(lens_pdf)
    base = int(ids.min())
    span = int(ids.max()) - base + 1
    dl = np.zeros(span, dtype=np.float64)
    dl[ids - base] = dls
    return base, k1 * (1.0 - b + b * dl / max(avgdl, 1e-9))


def _decode_term_blocks(g: pd.DataFrame):
    """Decode a (term, salt) block run in TWO varbyte passes total.

    Blocks are independently decodable (absolute first id per block), so
    the concatenated buffers decode in one vectorized call each; block-
    start absolutes are restored with a segmented-cumsum fixup. Replaces
    the per-128-posting-block decode loop (~15 numpy calls per block —
    the measured hot spot of the batch scorer at 3.84M docs)."""
    id_buf = b"".join(g["doc_ids_enc"])
    tf_buf = b"".join(g["tfs_enc"])
    gaps = varbyte_decode(id_buf).astype(np.int64)
    tfs = varbyte_decode(tf_buf).astype(np.float64)
    counts = g["n_docs"].to_numpy(np.int64)
    starts = np.concatenate(([0], np.cumsum(counts)[:-1]))
    # gaps[start] IS the absolute first id of its block (encode_blocked
    # restarts there). Zero the block-start slots BEFORE the cumsum so
    # the running sum only ever accumulates within-block gaps (bounded by
    # n_blocks * salt_range) — cumsumming the absolutes would approach
    # 2^63 with bucket-composed doc ids (~2^50) over ~8k blocks and wrap.
    firsts = gaps[starts].copy()
    gaps[starts] = 0
    c = np.cumsum(gaps)
    # ids[i] = first_of_block + (c[i] - c[block_start])
    ids = c + np.repeat(firsts - c[starts], counts)
    return ids, tfs


def _no_hits(**lead: str) -> pd.DataFrame:
    """An empty scorer result; ``lead`` names extra leading columns and
    their dtypes (the batch's ``query_id``)."""
    dtypes = {**lead, "doc_id": "int64", "score": "float64"}
    return pd.DataFrame({c: pd.Series(dtype=t) for c, t in dtypes.items()})


def _score_salt(
    term_groups: dict[str, pd.DataFrame],
    prep: tuple,
    cache: dict,
    qtf: dict[str, float],
    dfs: dict[str, int],
    n_docs: int,
    k: int,
    impact_scale: float,
    init_theta: float,
) -> pd.DataFrame:
    """MaxScore scoring of one query in one cogroup group. ``term_groups``
    (term -> block rows sorted by (salt, block_id), split ONCE per
    group), ``prep`` (base, norm_c) and ``cache`` (term -> (ids,
    query-independent contrib)) are shared by the queries of a batch —
    hot terms decode and divide ONCE per group, and no per-query
    isin/groupby re-scans the group frame. A coarse group
    (salt_group_factor > 1) holds several salts' block runs; doc-range
    salting makes each term's run ascending in doc_id, so one fused
    decode still works.

    ``init_theta`` seeds the MaxScore threshold with a GLOBAL k-th-best
    score already known to the caller (``-inf`` when none is known; phase
    2 of :func:`wand_topk_selective` passes phase 1's k-th score):
    per-salt scoring alone can never freeze a salt that lacks the
    query's dominant term — its local θ comes only from its own
    low-scoring docs — so the global seed is what lets whole salts skip
    decode. Correctness: freezing drops only docs provably below a score
    the GLOBAL top-k already reached; emitted scores are untouched, the
    final cross-salt merge is unchanged."""
    base, norm_c = prep

    # per-term block table + max contribution C_t (df from the broadcast
    # term_stats side table, not duplicated into segment rows)
    terms = []
    for term in sorted(qtf):
        if term not in term_groups:
            continue
        g = term_groups[term]
        w = qtf[term] * _idf(n_docs, float(dfs[term]))
        # impact_scale > 1 after index upserts shifted avgdl: stored block
        # maxima were computed with built_avgdl, scaling keeps the MaxScore
        # bound sound (lineage.impact_scale); scores stay exact either way
        c_t = w * float(g["block_max_impact"].max()) * impact_scale
        terms.append((term, w, c_t, g))
    if not terms:
        return _no_hits()
    terms.sort(key=lambda t: (-t[2], t[0]))

    def term_arrays(g: pd.DataFrame, term: str):
        """(ids, contrib) where contrib = tf/(tf + norm) — the whole
        QUERY-INDEPENDENT part of the BM25 term score. Cached per
        (term, group): in a batch, the decode AND the division/gather
        (the two heaviest memory-streaming ops) run once per term, not
        once per (query, term); each query then pays one scalar
        multiply by w = qtf * idf."""
        if term not in cache:
            ids, tfs = _decode_term_blocks(g)
            cache[term] = (ids, tfs / (tfs + norm_c[ids - base]))
        return cache[term]

    def lookup_arrays(g: pd.DataFrame, term: str, hi_ids):
        """(ids, contrib) restricted to blocks that can intersect the
        candidate set. A cached full decode is strictly cheaper than a
        fresh partial decode, so prefer it."""
        if hi_ids.size == 0:
            # frozen-from-the-start salt (global init_theta): nothing can
            # enter, decode nothing — not even a term another query of
            # the batch cached (the candidate probe needs a candidate)
            return np.empty(0, np.int64), np.empty(0, np.float64)
        if term in cache:
            return cache[term]
        # block-range skip: keep only blocks whose [first_doc, last_doc]
        # intersects the (sorted) candidate ids, then one fused decode
        first = g["first_doc"].to_numpy(np.int64)
        last = g["last_doc"].to_numpy(np.int64)
        j = np.searchsorted(hi_ids, first)
        keep = (j < hi_ids.size) & (hi_ids[np.minimum(j, hi_ids.size - 1)] <= last)
        if not keep.any():
            return np.empty(0, np.int64), np.empty(0, np.float64)
        ids, tfs = _decode_term_blocks(g[keep])
        return ids, tfs / (tfs + norm_c[ids - base])

    cand_ids = np.empty(0, np.int64)
    cand_scores = np.empty(0, np.float64)
    c_values = [c for _, _, c, _ in terms]
    lookup_mode = False
    for i, (term, w, c_t, g) in enumerate(terms):
        if not lookup_mode:
            theta = init_theta
            if cand_ids.size >= k:
                kth = float(
                    np.partition(cand_scores, cand_scores.size - k)[
                        cand_scores.size - k
                    ]
                )
                theta = max(theta, kth)
            # MaxScore switch: docs NOT yet candidates can gain at most the
            # sum of ALL remaining max-contributions; below θ they can never
            # enter the top-k, so the candidate set freezes. Every remaining
            # term is still applied to candidates (scores stay EXACT — the
            # north rule demands rank-identical scores, so pruning may drop
            # only provably-losing docs, never contributions of winners).
            # With a global init_theta the freeze can fire at i=0 with an
            # EMPTY candidate set: the whole salt is provably out.
            if float(sum(c_values[i:])) < theta:
                lookup_mode = True
        if lookup_mode:
            ids, contrib = lookup_arrays(g, term, cand_ids)
            if ids.size == 0:
                continue
            part = w * contrib
            pos = np.searchsorted(cand_ids, ids)
            hit = (pos < cand_ids.size) & (cand_ids[np.minimum(pos, cand_ids.size - 1)] == ids)
            np.add.at(cand_scores, pos[hit], part[hit])
        else:
            ids, contrib = term_arrays(g, term)
            part = w * contrib
            all_ids = np.concatenate([cand_ids, ids])
            all_sc = np.concatenate([cand_scores, part])
            cand_ids, inv = np.unique(all_ids, return_inverse=True)
            cand_scores = np.zeros(cand_ids.size, np.float64)
            np.add.at(cand_scores, inv, all_sc)

    if cand_ids.size == 0:
        return _no_hits()
    top = min(k, cand_ids.size)
    order = np.lexsort((cand_ids, -cand_scores))[:top]
    return pd.DataFrame({"doc_id": cand_ids[order], "score": cand_scores[order]})


def prepare_lens_by_salt(doc_lens: DataFrame, salt_range: int) -> DataFrame:
    """doc_lens PACKED one row per salt (salt, ids binary, lens binary)
    and cached: the lens side of every query's cogroup is then a
    handful of buffer rows instead of a corpus-sized row stream — the
    per-query lens scan+shuffle+Arrow cost collapses (measured 83 ms ->
    ~10 ms per query at 80k docs), and the scorer rebuilds the arrays
    with an exact frombuffer round-trip (int64 ids, int32 lens).

    This is index-build-time work (one pass over doc_lens), done once
    per resident index. (Production analogue: store the packed doc-norm
    table bucketed by salt next to the segments.)"""

    # no type hints: partial ones make applyInPandas warn that it cannot
    # infer the eval type
    def pack(key, pdf):
        return pd.DataFrame(
            {
                "salt": [int(key[0])],
                "ids": [pdf["doc_id"].to_numpy(np.int64).tobytes()],
                "lens": [pdf["doc_len"].to_numpy(np.int32).tobytes()],
            }
        )

    return (
        doc_lens.withColumn("salt", (F.col("doc_id") / F.lit(salt_range)).cast("int"))
        .groupBy("salt")
        .applyInPandas(pack, "salt int, ids binary, lens binary")
        .repartition("salt")
        .cache()
    )


def _lens(doc_lens: DataFrame, lens_by_salt: DataFrame | None, salt_range: int) -> DataFrame:
    if lens_by_salt is not None:
        return lens_by_salt
    return doc_lens.withColumn(
        "salt", (F.col("doc_id") / F.lit(salt_range)).cast("int")
    )


class TermDictionary:
    """Driver-resident term -> (df, touched salts) lookups, populated by
    FILTERED collects only — never a full-vocabulary collect.

    The distributed side is one cached (term, salts, df) table (segments'
    per-term salt sets joined with term_stats — at 10^12-file scale this
    is vocab-sized but stays distributed, a few bytes per term like a
    Lucene term dictionary). ``lookup3(terms)`` collects exactly the rows
    for terms it has not seen before (negative results cached too), so
    the resident dict is bounded by the QUERIED vocabulary, not the
    corpus vocabulary. ``fetched_terms`` records every term ever sent to
    a filtered collect — tests assert it never exceeds the query terms.

    Staleness: the dictionary snapshots (df, salts) at lookup time. After
    ANY index mutation (lineage.upsert_index / delete_from_index /
    compact_delta_into_index) call :meth:`invalidate` before the next
    query, or lookups return pre-mutation df (wrong idf) and
    pre-mutation salt sets (new salts silently skipped). For FILE-BACKED
    indexes, construct via :meth:`for_index` (or pass
    ``frames_factory``): a DataFrame object pins the file listing it was
    planned with, so invalidate() must re-plan from fresh reads — merely
    re-caching the old plan would read renamed/deleted files.
    """

    def __init__(
        self,
        term_stats: DataFrame,
        segments: DataFrame,
        *,
        frames_factory=None,
    ):
        self._frames_factory = frames_factory
        self._build(term_stats, segments)
        self._df: dict[str, int] = {}
        self._salts: dict[str, tuple[int, ...]] = {}
        self._imp: dict[str, float] = {}
        self._miss: set[str] = set()
        self.fetched_terms: set[str] = set()

    def _build(self, term_stats: DataFrame, segments: DataFrame) -> None:
        # max_impact = the term's best block impact anywhere in the index:
        # the driver-side upper bound Σ qtf·idf·max_impact that lets
        # wand_topk_selective PROVE phase 2 away (like Lucene's per-term
        # max score metadata for WAND)
        self._side = (
            segments.groupBy("term")
            .agg(
                F.collect_set("salt").alias("salts"),
                F.max("block_max_impact").alias("max_impact"),
            )
            .join(term_stats, "term")
            .cache()
        )

    @classmethod
    def for_index(cls, spark, out_dir: str) -> "TermDictionary":
        """Dictionary over a lineage-built index directory whose
        invalidate() re-reads the (possibly swapped) parquet dirs."""
        from .lineage import load_segments, read_table

        def factory():
            # snapshot-pinned reads: a concurrent upsert's repoint cannot
            # yank files out from under an executing collect
            return (
                read_table(spark, out_dir, "term_stats"),
                load_segments(spark, out_dir),
            )

        ts, segs = factory()
        return cls(ts, segs, frames_factory=factory)

    def invalidate(self) -> None:
        """Drop every cached lookup (positive AND negative) and the cached
        distributed side table. With a ``frames_factory`` (for_index),
        the side table re-plans from FRESH reads — required after an
        upsert swaps the underlying parquet directories; without one it
        recomputes from the originally supplied frames (correct for
        in-memory frames, stale for file-backed ones)."""
        self._side.unpersist()
        if self._frames_factory is not None:
            self._build(*self._frames_factory())
        else:
            self._side = self._side.cache()
        self._df.clear()
        self._salts.clear()
        self._imp.clear()
        self._miss.clear()

    def lookup3(
        self, terms
    ) -> tuple[dict[str, int], dict[str, tuple[int, ...]], dict[str, float]]:
        """(df, touched salts, max block impact) per term — one filtered
        collect for terms not yet resident."""
        want = set(terms)
        missing = sorted(want - self._df.keys() - self._miss)
        if missing:
            self.fetched_terms.update(missing)
            rows = self._side.filter(_in_expr("term", missing)).collect()
            for r in rows:
                self._df[r["term"]] = int(r["df"])
                self._salts[r["term"]] = tuple(sorted(int(s) for s in r["salts"]))
                self._imp[r["term"]] = float(r["max_impact"])
            self._miss.update(t for t in missing if t not in self._df)
        return (
            {t: self._df[t] for t in want if t in self._df},
            {t: self._salts[t] for t in want if t in self._salts},
            {t: self._imp[t] for t in want if t in self._imp},
        )


def _touched_salts(terms, salt_lookup) -> list[int]:
    return sorted({s for t in terms for s in salt_lookup.get(t, ())})


def wand_topk_selective(
    segments: DataFrame,
    doc_lens: DataFrame,
    term_stats: DataFrame,
    stats: CorpusStats,
    query: str,
    k: int = 10,
    *,
    salt_range: int = 1 << 20,
    k1: float = K1,
    b: float = B,
    lens_by_salt: DataFrame | None = None,
    df_lookup: dict[str, int],
    salt_lookup: dict[str, tuple[int, ...]],
    imp_lookup: dict[str, float],
    impact_scale: float = 1.0,
    salt_group_factor: int = 16,
    route_out: dict | None = None,
) -> DataFrame:
    """Two-phase selective top-k: share the GLOBAL MaxScore threshold
    across salts, which per-salt scoring alone cannot do.

    Per-salt MaxScore computes θ locally, so a salt that lacks the
    query's dominant (highest C_t = qtf·idf·max_impact) term never
    freezes — it fully decodes every common term even though none of its
    docs can touch the global top-k. Measured (scripts/crossover.py,
    1.28M docs): that makes single-phase WAND a python full-decode that
    loses to the JVM exact plan at every volume below ~16M postings.

    Both phases are :func:`wand_topk_batch` calls on a batch of one
    query, each given ``salt_lookup`` cut down to its own salt set (the
    batch prunes both cogroup sides to it). Phase 1 scores ONLY the
    salts containing the head term (every doc holding the head term
    lives there, and each doc's postings for ALL query terms live in its
    own salt, so phase-1 scores are final). The driver then takes θ₀ =
    global k-th score and the residual bound Σ_{t≠head} C_t from the
    TermDictionary's per-term max impacts (``imp_lookup``): if the bound
    < θ₀, NO doc outside the head salts can reach the top-k — phase 2 is
    provably unnecessary and the whole query touched only df(head) docs'
    worth of index. Otherwise phase 2 scores the query's other touched
    salts seeded with ``init_theta`` θ₀ (salts whose total contribution
    bound falls below it decode nothing) and the driver merges the two
    k-row sets. Scores are EXACT either way — pruning only ever drops
    provably-losing docs.

    The reference's ES runs the same idea inside one Lucene process
    (WAND over a shared live θ); this is its shared-nothing analogue —
    the θ hand-off is one driver collect between two jobs.

    Pruning leverage depends on the head term's SALT LOCALITY: salts
    are doc-id range buckets (indexing.py), so a rare term sprinkled
    uniformly across the id space can touch every salt (route_out
    then reports phase2='no_other_salts' and phase 1 degenerates to a
    full single-phase scan, correct but unpruned — observed on the 64-
    salt crossover corpus, BENCH/crossover_r7.json). At production
    scale (salt count ~ n_docs/salt_range in the millions, df(head)
    orders of magnitude smaller) head_salts ≪ all salts by counting,
    which is the regime the two-phase plan is built for."""
    spark = segments.sparkSession
    qtf = {t: float(c) for t, c in Counter(tokenize_py(query)).items()}
    qtf = {t: c for t, c in qtf.items() if t in df_lookup}
    empty = "doc_id long, score double"
    if not qtf:
        return local_frame(spark, empty)
    c_of = {
        t: qtf[t] * _idf(stats.n_docs, float(df_lookup[t])) * imp_lookup[t] * impact_scale
        for t in qtf
    }
    head = max(c_of, key=lambda t: (c_of[t], t))
    head_salts = set(salt_lookup.get(head, ()))
    if not head_salts:
        return local_frame(spark, empty)
    rest_bound = float(sum(c for t, c in c_of.items() if t != head))

    def phase(in_head: bool, init_theta: dict[str, float] | None):
        salts = {
            t: tuple(s for s in salt_lookup.get(t, ()) if (s in head_salts) == in_head)
            for t in qtf
        }
        rows = wand_topk_batch(
            segments, doc_lens, term_stats, stats, {"q": query}, k,
            salt_range=salt_range, k1=k1, b=b, lens_by_salt=lens_by_salt,
            df_lookup=df_lookup, salt_lookup=salts, impact_scale=impact_scale,
            salt_group_factor=salt_group_factor, init_theta=init_theta,
        ).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in rows]

    rows1 = phase(True, None)
    theta0 = rows1[k - 1][1] if len(rows1) >= k else None
    other = set(_touched_salts(qtf, salt_lookup)) - head_salts
    if route_out is not None:
        route_out.update(
            head=head, head_salts=len(head_salts), theta0=theta0,
            rest_bound=rest_bound,
        )
    if not other or (theta0 is not None and rest_bound < theta0):
        # strict <: a phase-2 doc could only EQUAL θ₀, and equal scores
        # lose on nothing — they'd still need to beat the k-th row's
        # doc_id tie-break, but < θ₀ strictly means < the k-th score, so
        # only the provably-below case is skipped
        if route_out is not None:
            route_out["phase2"] = "proved_away" if other else "no_other_salts"
        return local_frame(spark, empty, rows1)
    if route_out is not None:
        route_out["phase2"] = "seeded"
    rows2 = phase(False, None if theta0 is None else {"q": theta0})
    merged = sorted(rows1 + rows2, key=lambda t: (-t[1], t[0]))[:k]
    return local_frame(spark, empty, merged)


def _group_key(salt_group_factor: int):
    if salt_group_factor <= 1:
        return F.col("salt")
    return (F.col("salt") / F.lit(int(salt_group_factor))).cast("int").alias("sg")


class _Batch(NamedTuple):
    """What every group of one :func:`wand_topk_batch` call scores: the
    queries' in-index term counts, their touched salts (``None`` without
    a ``salt_lookup``), θ seeds, dfs and the BM25 constants."""

    qtfs: dict[str, dict[str, float]]
    qsalts: dict[str, set[int]] | None
    thetas: dict[str, float]
    dfs: dict[str, int]
    n_docs: int
    avgdl: float
    k1: float
    b: float
    k: int
    impact_scale: float


def _score_group(seg_pdf: pd.DataFrame, lens_pdf: pd.DataFrame, batch: _Batch) -> pd.DataFrame:
    """(query_id, doc_id, score): every query of ``batch`` scored by
    :func:`_score_salt` in one group, its local top-k each. The one
    group scorer of both dispatchers: the cogroup runs it on the
    executors, the driver route once per group key."""
    if seg_pdf.empty or lens_pdf.empty:
        return _no_hits(query_id="object")
    # salts actually present in this (possibly coarse) group — the
    # per-query skip below intersects against them
    group_salts = set(int(s) for s in seg_pdf["salt"].unique())
    # shared across this group's queries: the frame pre-split by term
    # ONCE (no per-query isin/groupby re-scan of the group frame),
    # per-doc norm constants and a term -> (ids, contrib) cache
    # (decode + divide once per group, not per query)
    term_groups = {
        t: g.sort_values(["salt", "block_id"])
        for t, g in seg_pdf.groupby("term", sort=False)
    }
    prep = _prep_lens(lens_pdf, batch.avgdl, batch.k1, batch.b)
    cache: dict = {}
    outs = []
    for qid, qtf in batch.qtfs.items():
        if not qtf or (batch.qsalts is not None and not (batch.qsalts[qid] & group_salts)):
            continue
        r = _score_salt(term_groups, prep, cache, qtf, batch.dfs, batch.n_docs, batch.k,
                        batch.impact_scale, batch.thetas.get(qid, -np.inf))
        if len(r):
            r.insert(0, "query_id", qid)
            outs.append(r)
    if not outs:
        return _no_hits(query_id="object")
    return pd.concat(outs, ignore_index=True)


BATCH_SCHEMA = "query_id string, rank int, doc_id long, score double"

# The driver route of wand_topk_batch runs when a batch's matched
# postings (Σ df of its in-index terms) plus a bound on its lens rows
# stay below this. Measured crossover: 8-query batches drawn from
# perfbench's query pool (seed 7) over perfbench corpora indexed with
# salt_range 1024 and 2 term buckets, the scripts/query.py call shape
# (bucket-pruned segments, no df_lookup), local[4] on a shared 4-core
# host, warm, median of 5 batches per route:
#
#   docs     salts  Σdf + n_docs   driver   cogroup
#   500          1        5.5k     0.90 s   1.52 s
#   4,000        4         45k     0.64 s   1.87 s
#   16,000      16        180k     1.36 s   2.10 s
#   64,000      63        719k     2.14 s   2.86 s
#   128,000    125        1.44M    3.91 s   4.06 s
#
# The driver scores on one Python thread, so its time grows faster than
# the cogroup's four tasks; the lines meet near 1.4M (near 1.1M in an
# earlier run whose two collects ran one after the other). The budget
# sits below both.
LOCAL_MAX_POSTINGS = 1_000_000


# runs the lens collect of the driver route next to its segments collect
# (measured 387 -> 311 ms median per perfbench batch); a few threads, so
# concurrent callers do not queue behind one another
_COLLECTOR = ThreadPoolExecutor(4, thread_name_prefix="wand-collect")


def _score_on_driver(seg: DataFrame, lens: DataFrame, salt_group_factor: int,
                     batch: _Batch) -> DataFrame:
    """The driver dispatcher: collect both pruned frames through Arrow
    (JVM scans, no shuffle, no Python worker task), run
    :func:`_score_group` once per group key and rank each query by
    score desc, doc_id asc, as the cogroup plan's window does. The
    result is a LocalRelation: collecting it runs no Spark job."""
    spark = seg.sparkSession
    # the two collects overlap; the helper thread runs its job in the
    # caller's job group and local properties
    lens_pdf = _COLLECTOR.submit(inheritable_thread_target(spark)(lens.toPandas))
    seg_pdf, lens_pdf = seg.toPandas(), lens_pdf.result()
    g = max(1, int(salt_group_factor))
    lens_groups = {int(key): part for key, part in lens_pdf.groupby(lens_pdf["salt"] // g)}
    outs = [
        _score_group(part, lens_groups[int(key)], batch)
        for key, part in seg_pdf.groupby(seg_pdf["salt"] // g)
        if int(key) in lens_groups
    ]
    outs = [o for o in outs if len(o)]
    if not outs:
        return local_frame(spark, BATCH_SCHEMA)
    hits = pd.concat(outs, ignore_index=True).sort_values(
        ["query_id", "score", "doc_id"], ascending=[True, False, True]
    )
    hits["rank"] = (hits.groupby("query_id").cumcount() + 1).astype("int32")
    hits = hits[hits["rank"] <= batch.k]
    return local_frame(spark, BATCH_SCHEMA, hits[["query_id", "rank", "doc_id", "score"]])


def wand_topk_batch(
    segments: DataFrame,
    doc_lens: DataFrame,
    term_stats: DataFrame,
    stats: CorpusStats,
    queries: dict[str, str],
    k: int = 10,
    *,
    salt_range: int = 1 << 20,
    k1: float = K1,
    b: float = B,
    lens_by_salt: DataFrame | None = None,
    df_lookup: dict[str, int] | None = None,
    salt_lookup: dict[str, tuple[int, ...]] | None = None,
    impact_scale: float = 1.0,
    salt_group_factor: int = 1,
    init_theta: dict[str, float] | None = None,
) -> DataFrame:
    """All queries in ONE pass: (query_id, rank, doc_id, score). This is
    the one WAND plan around :func:`_score_group`; a single query is a
    batch of one (``DocumentsEngine.search_wand``, both phases of
    :func:`wand_topk_selective`).

    Two dispatchers run the one group scorer. Below
    ``LOCAL_MAX_POSTINGS`` (matched postings = Σ df of the batch's
    in-index terms, plus ``n_docs`` lens rows, or touched salts ×
    ``salt_range`` when that is smaller and a ``salt_lookup`` is given)
    the DRIVER route collects the pruned segments and lens frames
    through Arrow and scores them in this process. EXECUTION SEMANTICS:
    that route executes eagerly — its result is a snapshot-at-call
    DataFrame of literal rows, whose ``collect()`` runs no Spark job.
    Above the budget the cogroup plan below is returned lazily.

    Segments are scanned once, term-pruned to the union of all query
    terms; every salt partition runs the MaxScore scorer once per query
    over its term groups, sharing one decode-and-divide per (term,
    group) across the batch's queries. One shuffle amortized over the
    whole query batch — the scalable offline-retrieval shape.
    With ``salt_lookup``, BOTH cogroup sides are pruned to the salts the
    batch's terms touch in it (the segments filter reaches the parquet
    scan), and each query scores ONLY inside salts its own terms touch,
    so untouched salts cost nothing. A caller restricts the scored doc
    ranges by passing a lookup cut down to the salts it wants.
    ``init_theta`` (query id -> θ₀) seeds that query's MaxScore threshold
    with a globally-known k-th score (see :func:`_score_salt`); a salt
    whose total max-contribution sum falls below it decodes NOTHING.

    ``salt_group_factor`` (G) coarsens the cogroup key to ``salt // G``:
    fewer, larger python scorer tasks. DEFAULT IS 1 — measured (3.84M
    docs, 36 queries, local[2] and local[8]): once the per-task python
    work is pre-split (term_groups) and the query-independent contrib
    vectors are cached, finer tasks win at every parallelism level
    (better wave balancing, smaller per-task lens span); G=8 at 8 cores
    left half the cores idle and ran 2.8x slower. Coarsening remains for
    latency-bound single queries, where the per-task dispatch (python
    worker + Arrow round trip) dominates (:func:`wand_topk_selective`
    uses G=16). Exactness is unaffected by G (doc ranges stay disjoint;
    pinned by tests); per-task memory grows with it, as the scorer's dl
    array spans at most G * salt_range doc ids."""
    spark = segments.sparkSession
    qtfs = {
        qid: {t: float(c) for t, c in Counter(tokenize_py(q)).items()}
        for qid, q in queries.items()
    }
    all_terms = sorted({t for m in qtfs.values() for t in m})
    if not all_terms:
        return local_frame(spark, BATCH_SCHEMA)
    if df_lookup is not None:
        dfs = {t: df_lookup[t] for t in all_terms if t in df_lookup}
    else:
        dfs = {
            r["term"]: int(r["df"])
            for r in term_stats.filter(_in_expr("term", all_terms)).collect()
        }
    if not dfs:
        return local_frame(spark, BATCH_SCHEMA)
    qtfs = {
        qid: {t: c for t, c in m.items() if t in dfs} for qid, m in qtfs.items()
    }
    seg = segments.filter(_in_expr("term", list(dfs)))
    lens = _lens(doc_lens, lens_by_salt, salt_range)
    lens_rows = stats.n_docs
    qsalts = None
    if salt_lookup is not None:
        union = _touched_salts(dfs, salt_lookup)
        if not union:
            return local_frame(spark, BATCH_SCHEMA)
        # the cogroup iterates the UNION of both sides' keys, and the lens
        # side holds EVERY salt: without these filters a python scorer
        # spins (and a doc-length slice ships over Arrow) for every salt
        # in the corpus, and segments of salts outside the lookup are read
        seg = seg.filter(_in_expr("salt", union))
        lens = lens.filter(_in_expr("salt", union))
        lens_rows = min(lens_rows, len(union) * salt_range)
        # per-query touched-salt sets: a query skips salts that only
        # OTHER queries' terms touch (cheap set probe per group)
        qsalts = {qid: set(_touched_salts(m, salt_lookup)) for qid, m in qtfs.items()}
    batch = _Batch(qtfs, qsalts, init_theta or {}, dfs, stats.n_docs, stats.avgdl,
                   k1, b, k, impact_scale)
    # read at call time so a test can patch the module constant
    if sum(dfs.values()) + lens_rows < LOCAL_MAX_POSTINGS:
        return _score_on_driver(seg, lens, salt_group_factor, batch)

    gkey = _group_key(salt_group_factor)
    per_salt = (
        seg.groupBy(gkey)
        .cogroup(lens.groupBy(gkey))
        .applyInPandas(
            lambda key, seg_pdf, lens_pdf: _score_group(seg_pdf, lens_pdf, batch),
            "query_id string, doc_id long, score double",
        )
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    # at most k rows per query: one partition sorts them all, where a
    # global orderBy would run its own range-partition sampling job
    return (
        per_salt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .coalesce(1)
        .sortWithinPartitions("query_id", "rank")
    )
