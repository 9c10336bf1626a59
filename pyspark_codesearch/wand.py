"""Top-k BM25 over compressed segments with MaxScore/block-max pruning.

This is the scale path the north rule asks for (the reference delegates the
equivalent to Lucene's WAND/MAXSCORE inside Elasticsearch — implied by its
multi_match DSL, es_indexer.py:276-284). Per doc-id-range salt:

  segments(term, salt, blocks...)  cogroup  doc_lens(salt, doc_id, doc_len)
      -> applyInPandas MaxScore scorer -> per-salt top-k -> global top-k

Pruning (lossless for top-k):
- terms processed in descending max-contribution C_t = qtf * idf_t * max
  block impact; once the sum of remaining C_t falls below the running
  k-th-best score θ, the remaining terms become *lookup* terms — they can
  no longer introduce new candidate docs, so their blocks are decoded only
  where [first_doc, last_doc] intersects the candidate set (block-max
  metadata = the skip index).
- per-salt top-k lists are unioned and re-limited globally; doc-range
  salting guarantees a doc's postings never straddle salts, so the union
  is exact.

Parallelism story at 100 TB: every (salt) group holds at most
``salt_range`` postings per term; hot Zipfian terms fan out across salts =
across executors. doc_lens arrives cogrouped by the same salt key (in a
real deployment both sides are bucketed by salt, making this co-located).
"""

from __future__ import annotations

from collections import Counter

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .analysis import tokenize_py
from .codecs import varbyte_decode
from .indexing import B, K1, CorpusStats


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


def _lens_count(lens_pdf: pd.DataFrame) -> int:
    """Number of docs a lens frame covers (layout-aware, no decode)."""
    if "ids" in lens_pdf.columns:
        return int(sum(len(b) for b in lens_pdf["ids"]) // 8)
    return len(lens_pdf)


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


def _score_salt(
    seg_pdf: pd.DataFrame,
    lens_pdf: pd.DataFrame,
    qtf: dict[str, float],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    prep: tuple | None = None,
    cache: dict | None = None,
    impact_scale: float = 1.0,
    term_groups: dict[str, pd.DataFrame] | None = None,
    init_theta: float | None = None,
) -> pd.DataFrame:
    """MaxScore scoring of one salt. ``prep`` (base, norm_c), ``cache``
    (term -> (ids, query-independent contrib)) and ``term_groups`` (term
    -> pre-sorted block rows, split ONCE per task) are shared across the
    queries of a batch — hot terms decode and divide ONCE per group, and
    no per-query isin/groupby re-scans the group frame.

    ``init_theta`` seeds the MaxScore threshold with a GLOBAL k-th-best
    score already known to the caller (two-phase selective search,
    :func:`wand_topk_selective`): per-salt scoring alone can never freeze
    a salt that lacks the query's dominant term — its local θ comes only
    from its own low-scoring docs — so the global seed is what lets
    whole salts skip decode. Correctness: freezing drops only docs
    provably below a score the GLOBAL top-k already reached; emitted
    scores are untouched, the final cross-salt merge is unchanged."""
    if (term_groups is None and seg_pdf.empty) or lens_pdf.empty:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
    if prep is None:
        prep = _prep_lens(lens_pdf, avgdl, k1, b)
    base, norm_c = prep

    # per-term block table + max contribution C_t (df from the broadcast
    # term_stats side table, not duplicated into segment rows)
    if term_groups is None:
        # (salt, block_id): a coarse-grouped task (salt_group_factor > 1)
        # holds several salts' block runs; doc-range salting makes the
        # concatenation ascending in doc_id, so one fused decode still works
        pairs = (
            (term, g.sort_values(["salt", "block_id"]))
            for term, g in seg_pdf.groupby("term", sort=True)
        )
    else:
        pairs = (
            (term, term_groups[term]) for term in sorted(qtf) if term in term_groups
        )
    terms = []
    for term, g in pairs:
        w = qtf[term] * _idf(n_docs, float(dfs[term]))
        # impact_scale > 1 after index upserts shifted avgdl: stored block
        # maxima were computed with built_avgdl, scaling keeps the MaxScore
        # bound sound (lineage.impact_scale); scores stay exact either way
        c_t = w * float(g["block_max_impact"].max()) * impact_scale
        terms.append((term, w, c_t, g))
    if not terms:
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
    terms.sort(key=lambda t: (-t[2], t[0]))

    def term_arrays(g: pd.DataFrame, term: str):
        """(ids, contrib) where contrib = tf/(tf + norm) — the whole
        QUERY-INDEPENDENT part of the BM25 term score. Cached per
        (term, group): in a batch, the decode AND the division/gather
        (the two heaviest memory-streaming ops) run once per term, not
        once per (query, term); each query then pays one scalar
        multiply by w = qtf * idf."""
        if cache is not None and term in cache:
            return cache[term]
        ids, tfs = _decode_term_blocks(g)
        out = (ids, tfs / (tfs + norm_c[ids - base]))
        if cache is not None:
            cache[term] = out
        return out

    def lookup_arrays(g: pd.DataFrame, term: str, hi_ids):
        """(ids, contrib) restricted to blocks that can intersect the
        candidate set. A cached full decode is strictly cheaper than a
        fresh partial decode, so prefer it."""
        if cache is not None and term in cache:
            return cache[term]
        if hi_ids.size == 0:
            # frozen-from-the-start salt (global init_theta): nothing can
            # enter, decode nothing
            return np.empty(0, np.int64), np.empty(0, np.float64)
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
            theta = init_theta if init_theta is not None else None
            if cand_ids.size >= k:
                kth = float(
                    np.partition(cand_scores, cand_scores.size - k)[
                        cand_scores.size - k
                    ]
                )
                theta = kth if theta is None else max(theta, kth)
            # MaxScore switch: docs NOT yet candidates can gain at most the
            # sum of ALL remaining max-contributions; below θ they can never
            # enter the top-k, so the candidate set freezes. Every remaining
            # term is still applied to candidates (scores stay EXACT — the
            # north rule demands rank-identical scores, so pruning may drop
            # only provably-losing docs, never contributions of winners).
            # With a global init_theta the freeze can fire at i=0 with an
            # EMPTY candidate set: the whole salt is provably out.
            if theta is not None and float(sum(c_values[i:])) < theta:
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
        return pd.DataFrame({"doc_id": pd.Series(dtype="int64"), "score": pd.Series(dtype="float64")})
    top = min(k, cand_ids.size)
    order = np.lexsort((cand_ids, -cand_scores))[:top]
    return pd.DataFrame({"doc_id": cand_ids[order], "score": cand_scores[order]})


# 'auto' batch-strategy budget: max dense cells — docs x (terms +
# queries), covering BOTH the contribution matrix C and the score matrix
# S = C @ W — a single group task may allocate for the GEMM path. 8M
# cells = 64 MB of float64, so even a full wave of concurrent tasks
# stays far under executor memory. Above it the group falls back to the
# MaxScore loop, whose working set is O(candidates), not O(docs x vocab).
GEMM_BUDGET_CELLS = 8_000_000


def _score_group_gemm(
    term_groups: dict[str, pd.DataFrame],
    lens_pdf: pd.DataFrame,
    qtfs: dict[str, dict[str, float]],
    dfs: dict[str, int],
    n_docs: int,
    avgdl: float,
    k: int,
    k1: float,
    b: float,
    qsalts: dict[str, set] | None,
    group_salts: set,
) -> pd.DataFrame:
    """One group's whole query batch as a single matmul.

    C[doc, term] = tf/(tf + norm)  (query-independent, ONE scatter per
    term); W[term, query] = qtf * idf; S = C @ W. Each query then costs
    one BLAS column plus a top-k select — no per-query python loop over
    terms. Matched docs always score > 0 (every partial is positive), so
    S == 0 exactly identifies docs a query did not match."""
    base, norm_c = _prep_lens(lens_pdf, avgdl, k1, b)
    terms = sorted(term_groups)
    ids_list, contribs = [], []
    for t in terms:
        ids, tfs = _decode_term_blocks(term_groups[t])
        ids_list.append(ids)
        contribs.append(tfs / (tfs + norm_c[ids - base]))
    all_ids = np.unique(np.concatenate(ids_list))
    C = np.zeros((all_ids.size, len(terms)), dtype=np.float64)
    for j, (ids, con) in enumerate(zip(ids_list, contribs)):
        C[np.searchsorted(all_ids, ids), j] = con
    tindex = {t: j for j, t in enumerate(terms)}
    qids = [
        qid
        for qid, qtf in qtfs.items()
        if any(t in tindex for t in qtf)
        and (qsalts is None or qsalts[qid] & group_salts)
    ]
    if not qids:
        return pd.DataFrame(
            {"query_id": pd.Series(dtype="object"),
             "doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64")}
        )
    W = np.zeros((len(terms), len(qids)), dtype=np.float64)
    for qi, qid in enumerate(qids):
        for t, c in qtfs[qid].items():
            j = tindex.get(t)
            if j is not None:
                W[j, qi] = c * _idf(n_docs, float(dfs[t]))
    S = C @ W
    out_q, out_id, out_s = [], [], []
    for qi, qid in enumerate(qids):
        col = S[:, qi]
        nz = np.nonzero(col)[0]
        if nz.size == 0:
            continue
        take = nz[np.lexsort((all_ids[nz], -col[nz]))[: min(k, nz.size)]]
        out_q.extend([qid] * take.size)
        out_id.append(all_ids[take])
        out_s.append(col[take])
    if not out_q:
        return pd.DataFrame(
            {"query_id": pd.Series(dtype="object"),
             "doc_id": pd.Series(dtype="int64"),
             "score": pd.Series(dtype="float64")}
        )
    return pd.DataFrame(
        {"query_id": out_q,
         "doc_id": np.concatenate(out_id),
         "score": np.concatenate(out_s)}
    )


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
    Lucene term dictionary). ``lookup(terms)`` collects exactly the rows
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

    def lookup(self, terms) -> tuple[dict[str, int], dict[str, tuple[int, ...]]]:
        dfs, salts, _ = self.lookup3(terms)
        return dfs, salts

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


def collect_term_salts(segments: DataFrame) -> dict[str, tuple[int, ...]]:
    """Resident term -> touched-salts dictionary (one distinct scan).

    The query-time use: prune BOTH cogroup sides to the salts that
    actually hold postings for the query's terms, so no python scorer
    (and no Arrow transfer of that salt's doc-length slice) ever spins
    for an untouched salt. This is the salt-bitmap column of a Lucene-
    style term dictionary; at 10^12-file scale it lives next to
    term_stats as a (term, salts array) side table — still tiny relative
    to the index (vocab x a few bytes per touched salt) — and the
    driver looks up only the query's terms instead of collecting all."""
    rows = segments.select("term", "salt").distinct().collect()
    acc: dict[str, set[int]] = {}
    for r in rows:
        acc.setdefault(r["term"], set()).add(int(r["salt"]))
    return {t: tuple(sorted(s)) for t, s in acc.items()}


def _touched_salts(terms, salt_lookup) -> list[int]:
    return sorted({s for t in terms for s in salt_lookup.get(t, ())})


def wand_topk(
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
    df_lookup: dict[str, int] | None = None,
    salt_lookup: dict[str, tuple[int, ...]] | None = None,
    impact_scale: float = 1.0,
    salt_group_factor: int = 1,
    restrict_salts: list[int] | None = None,
    exclude_salts: list[int] | None = None,
    init_theta: float | None = None,
) -> DataFrame:
    """Top-k (doc_id, score) via pruned scoring over compressed segments.

    ``salt_group_factor`` (G) coarsens the cogroup key to ``salt // G``:
    fewer, larger python scorer tasks. For latency-bound single queries
    the per-task dispatch (python worker + Arrow round trip) dominates —
    G in the 8-64 range measurably cuts per-query wall time — while
    throughput batches keep G=1 for full parallelism. Exactness is
    unaffected (per-task doc ranges stay disjoint; scores identical —
    pinned by tests). Per-task memory grows with G: the scorer's dl
    array spans at most G * salt_range doc ids.

    ``restrict_salts`` / ``exclude_salts`` bound the scored doc ranges
    (both cogroup sides) to / away from an explicit salt list — the two
    phases of :func:`wand_topk_selective`. ``init_theta`` seeds every
    salt's MaxScore threshold with a globally-known k-th score (see
    :func:`_score_salt`); a salt whose total max-contribution sum falls
    below it decodes NOTHING."""
    spark = segments.sparkSession
    qtf = {t: float(c) for t, c in Counter(tokenize_py(query)).items()}
    if not qtf:
        return spark.createDataFrame([], "doc_id long, score double")
    # df for the handful of query terms: driver-side lookup of the small
    # side table (the reference's analogue: Lucene term dictionary seek);
    # pass df_lookup to skip the per-query collect when the term
    # dictionary is already resident on the driver
    if df_lookup is not None:
        dfs = {t: df_lookup[t] for t in qtf if t in df_lookup}
    else:
        dfs = {
            r["term"]: int(r["df"])
            for r in term_stats.filter(F.col("term").isin(list(qtf))).collect()
        }
    qtf = {t: c for t, c in qtf.items() if t in dfs}
    if not qtf:
        return spark.createDataFrame([], "doc_id long, score double")
    # IN-filter on term is pushed down to the segments parquet scan
    # (_in_expr: one py4j call per filter instead of one per literal)
    seg = segments.filter(_in_expr("term", list(qtf)))
    lens = _lens(doc_lens, lens_by_salt, salt_range)
    if restrict_salts is not None:
        seg = seg.filter(_in_expr("salt", restrict_salts))
        lens = lens.filter(_in_expr("salt", restrict_salts))
    if exclude_salts is not None:
        seg = seg.filter(~_in_expr("salt", exclude_salts))
        lens = lens.filter(~_in_expr("salt", exclude_salts))
    if salt_lookup is not None:
        # static salt pruning: the cogroup iterates the UNION of both
        # sides' keys, and the lens side holds EVERY salt — without this
        # filter a python scorer spins (and a doc-length slice ships over
        # Arrow) for every salt in the corpus even when the query's terms
        # touch three of them
        touched = _touched_salts(qtf, salt_lookup)
        if not touched:
            return spark.createDataFrame([], "doc_id long, score double")
        lens = lens.filter(_in_expr("salt", touched))
    n_docs, avgdl = stats.n_docs, stats.avgdl

    def score_fn(key, seg_pdf: pd.DataFrame, lens_pdf: pd.DataFrame) -> pd.DataFrame:
        return _score_salt(seg_pdf, lens_pdf, qtf, dfs, n_docs, avgdl, k, k1, b,
                           impact_scale=impact_scale, init_theta=init_theta)

    gkey = _group_key(salt_group_factor)
    per_salt = (
        seg.groupBy(gkey)
        .cogroup(lens.groupBy(gkey))
        .applyInPandas(score_fn, "doc_id long, score double")
    )
    return per_salt.orderBy(F.desc("score"), F.asc("doc_id")).limit(k)


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
    imp_lookup: dict[str, float] | None = None,
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

    Phase 1 scores ONLY the salts containing the head term (every doc
    holding the head term lives there, and each doc's postings for ALL
    query terms live in its own salt, so phase-1 scores are final).
    The driver then takes θ₀ = global k-th score and the residual bound
    Σ_{t≠head} C_t from the TermDictionary's per-term max impacts:
    if the bound < θ₀, NO doc outside the head salts can reach the
    top-k — phase 2 is provably unnecessary and the whole query touched
    only df(head) docs' worth of index. Otherwise phase 2 scores the
    remaining salts seeded with ``init_theta=θ₀`` (salts whose total
    contribution bound falls below it decode nothing) and the driver
    merges the two k-row sets. Scores are EXACT either way — pruning
    only ever drops provably-losing docs.

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
        return spark.createDataFrame([], empty)
    imp = imp_lookup or {}
    c_of = {
        t: qtf[t]
        * _idf(stats.n_docs, float(df_lookup[t]))
        * float(imp.get(t, 1.0))
        * impact_scale
        for t in qtf
    }
    head = max(c_of, key=lambda t: (c_of[t], t))
    head_salts = sorted(salt_lookup.get(head, ()))
    if not head_salts:
        return spark.createDataFrame([], empty)
    rest_bound = float(sum(c for t, c in c_of.items() if t != head))

    common = dict(
        salt_range=salt_range, k1=k1, b=b, lens_by_salt=lens_by_salt,
        df_lookup=df_lookup, salt_lookup=salt_lookup,
        impact_scale=impact_scale, salt_group_factor=salt_group_factor,
    )
    rows1 = wand_topk(
        segments, doc_lens, term_stats, stats, query, k,
        restrict_salts=head_salts, **common,
    ).collect()
    theta0 = float(rows1[k - 1]["score"]) if len(rows1) >= k else None
    other = set(_touched_salts(qtf, salt_lookup)) - set(head_salts)
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
        return spark.createDataFrame(
            [(int(r["doc_id"]), float(r["score"])) for r in rows1], empty
        )
    if route_out is not None:
        route_out["phase2"] = "seeded"
    rows2 = wand_topk(
        segments, doc_lens, term_stats, stats, query, k,
        exclude_salts=head_salts, init_theta=theta0, **common,
    ).collect()
    merged = sorted(
        [(int(r["doc_id"]), float(r["score"])) for r in rows1]
        + [(int(r["doc_id"]), float(r["score"])) for r in rows2],
        key=lambda t: (-t[1], t[0]),
    )[:k]
    return spark.createDataFrame(merged, empty)


def _group_key(salt_group_factor: int):
    if salt_group_factor <= 1:
        return F.col("salt")
    return (F.col("salt") / F.lit(int(salt_group_factor))).cast("int").alias("sg")


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
    salt_group_factor: int | None = 1,
    strategy: str = "auto",
) -> DataFrame:
    """All queries in ONE cogroup pass: (query_id, rank, doc_id, score).

    ``strategy='gemm'`` replaces the per-query MaxScore loop with one
    scatter per TERM into a dense (group docs x batch terms) contribution
    matrix C followed by a single ``C @ W`` matmul (W = terms x queries
    qtf*idf weights) — per-query work collapses to one BLAS column +
    top-k select. No per-query pruning, so it pays off when the batch is
    wide enough that MaxScore's candidate freeze no longer saves decode
    work (the contrib cache already decodes each term once either way):
    measured at sf0.1 x16 (80k docs, local[32]) the 36-query batch runs
    ~20% faster (1.0 vs 1.25 s), the 8-query batch at parity.

    ``'auto'`` (default) decides PER GROUP, inside the task, where the
    group's posting volume is known: gemm when the dense matrix stays
    under ``GEMM_BUDGET_CELLS`` (estimated as group postings x batch
    vocabulary — an upper bound of the true union x vocab), MaxScore
    otherwise — so a production-sized salt (2^20 docs) with a wide
    batch never allocates a multi-GB C. Results are identical either
    way (both exact; summation order differs by the usual float 1 ULP —
    tests pin 1e-9 parity).

    Segments are scanned once, term-pruned to the union of all query
    terms; every salt partition runs the MaxScore scorer once per query
    over its (already decoded-ready) term groups. One shuffle amortized
    over the whole query batch — the scalable offline-retrieval shape.
    With ``salt_lookup``, each query scores ONLY inside salts its own
    terms touch (and the lens side is pruned to the batch-wide union),
    so untouched salts cost nothing.

    ``salt_group_factor`` (G) coarsens the cogroup key to ``salt // G``
    like :func:`wand_topk`; ``None`` auto-sizes for ~2 tasks per core.
    DEFAULT IS 1 — measured (3.84M docs, 36 queries, local[2] and
    local[8]): once the per-task python work is pre-split (term_groups)
    and the query-independent contrib vectors are cached, finer tasks
    win at every parallelism level (better wave balancing, smaller
    per-task lens span); G=8 at 8 cores left half the cores idle and
    ran 2.8x slower. Coarsening remains for latency-bound single
    queries (:func:`wand_topk` uses G=16 in the bench). Exactness is
    unaffected by G (doc ranges stay disjoint; pinned by tests)."""
    if strategy not in ("maxscore", "gemm", "auto"):
        raise ValueError(f"unknown batch strategy {strategy!r}")
    # snapshot on the DRIVER at plan time: score_fn runs in executor
    # python workers that re-import this module, where a test's (or
    # user's) module-level override would not be visible
    gemm_budget = GEMM_BUDGET_CELLS
    spark = segments.sparkSession
    qtfs = {
        qid: {t: float(c) for t, c in Counter(tokenize_py(q)).items()}
        for qid, q in queries.items()
    }
    all_terms = sorted({t for m in qtfs.values() for t in m})
    if not all_terms:
        return spark.createDataFrame(
            [], "query_id string, rank int, doc_id long, score double"
        )
    if df_lookup is not None:
        dfs = {t: df_lookup[t] for t in all_terms if t in df_lookup}
    else:
        dfs = {
            r["term"]: int(r["df"])
            for r in term_stats.filter(F.col("term").isin(all_terms)).collect()
        }
    qtfs = {
        qid: {t: c for t, c in m.items() if t in dfs} for qid, m in qtfs.items()
    }
    seg = segments.filter(_in_expr("term", list(dfs)))
    lens = _lens(doc_lens, lens_by_salt, salt_range)
    qsalts = None
    union: list[int] = []
    if salt_lookup is not None:
        union = _touched_salts(dfs, salt_lookup)
        if not union:
            return spark.createDataFrame(
                [], "query_id string, rank int, doc_id long, score double"
            )
        lens = lens.filter(_in_expr("salt", union))
        # per-query touched-salt sets: a query skips salts that only
        # OTHER queries' terms touch (cheap set probe per group)
        qsalts = {qid: set(_touched_salts(m, salt_lookup)) for qid, m in qtfs.items()}
    if salt_group_factor is None:
        # auto: ~2 scorer tasks per core (needs the touched-salt union)
        cores = max(1, spark.sparkContext.defaultParallelism)
        salt_group_factor = max(1, len(union) // (cores * 2)) if union else 1
    n_docs, avgdl = stats.n_docs, stats.avgdl

    def score_fn(key, seg_pdf: pd.DataFrame, lens_pdf: pd.DataFrame) -> pd.DataFrame:
        outs = []
        if seg_pdf.empty or lens_pdf.empty:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="object"),
                 "doc_id": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
        # salts actually present in this (possibly coarse) group — the
        # per-query skip below intersects against them
        group_salts = set(int(s) for s in seg_pdf["salt"].unique())
        term_groups = {
            t: g.sort_values(["salt", "block_id"])
            for t, g in seg_pdf.groupby("term", sort=False)
        }
        pick = strategy
        if pick == "auto":
            # upper bound of the dense allocations without decoding
            # anything: union of posting ids is capped by BOTH the
            # group's total postings and the docs actually in this salt
            # group (the cogrouped lens side lists exactly those). The
            # budget covers C (docs x terms) AND the result S = C @ W
            # (docs x queries) — a wide batch makes S the bigger matrix
            est_docs = min(int(seg_pdf["n_docs"].sum()), _lens_count(lens_pdf))
            est_cells = est_docs * (len(term_groups) + len(qtfs))
            pick = "gemm" if est_cells <= gemm_budget else "maxscore"
        if pick == "gemm":
            return _score_group_gemm(
                term_groups, lens_pdf, qtfs, dfs, n_docs, avgdl, k, k1, b,
                qsalts, group_salts,
            )
        # shared across this group's queries: per-doc norm constants, a
        # term -> (ids, contrib) cache (decode + divide once per group,
        # not per query), and the frame pre-split by term ONCE (no
        # per-query isin/groupby re-scan of the group frame)
        prep = _prep_lens(lens_pdf, avgdl, k1, b)
        cache: dict = {}
        for qid, qtf in qtfs.items():
            if not qtf or (qsalts is not None and not (qsalts[qid] & group_salts)):
                continue
            r = _score_salt(seg_pdf, lens_pdf, qtf, dfs, n_docs, avgdl, k, k1, b,
                            prep=prep, cache=cache, impact_scale=impact_scale,
                            term_groups=term_groups)
            if len(r):
                r.insert(0, "query_id", qid)
                outs.append(r)
        if not outs:
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="object"),
                 "doc_id": pd.Series(dtype="int64"),
                 "score": pd.Series(dtype="float64")}
            )
        return pd.concat(outs, ignore_index=True)

    gkey = _group_key(salt_group_factor)
    per_salt = (
        seg.groupBy(gkey)
        .cogroup(lens.groupBy(gkey))
        .applyInPandas(score_fn, "query_id string, doc_id long, score double")
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    return (
        per_salt.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "rank", "doc_id", "score")
        .orderBy("query_id", "rank")
    )
