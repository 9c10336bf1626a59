"""The benchmark's workloads: ``serve`` and ``batch``.

Each workload builds its index once (timed: ``build_docs_per_s``), sets up
its read state ``SETUP_REPS`` times (``setup_s`` is the median), runs its
load for the requested seconds, then checks every result against the
pure-Python reference. Only the calls into the program are timed; the
checks run after the timed phase.
"""

from __future__ import annotations

import os
import threading
import time
from collections import Counter
from concurrent.futures import ThreadPoolExecutor
from statistics import median

import numpy as np

import gen
import procs
from reference import Reference, check_topk
from stats import goodput

# Corpus and layout. The corpus is sized so that a run, cold build
# included, fits the benchmark's time budget; see README.md.
N_DOCS = 500
# doc-id buckets of corpus.ingest_bucketed: one, so the corpus is one
# salt (salt_range 2^20 ids). The segment build runs one pandas group
# per (term, salt), ~7 ms each on a 4-core host; the 1024-bucket default
# gives most files a salt of their own at this size and makes one build
# take minutes.
ID_BUCKETS = 1
SALT_RANGE = 1 << 20
# term-hash buckets of the disk index (lineage default: 8). Each bucket
# is its own Spark job chain with ~2 s of fixed cost at this size.
TERM_BUCKETS = 2
TOP_K = 10
SETUP_REPS = 5

# serve: open loop at a fixed rate, half of what the four worker threads
# sustain on this mix (~4 requests/s on a quiet 4-core host); a request
# that takes longer than the limit counts as failed
SERVE_RATE_QPS = 2.0
SERVE_LIMIT_S = 2.5
SERVE_WARM_QUERIES = 32  # after set-up, before the measured window

# batch: one client, fixed-size seeded query sets; the warm-up batches
# take the JVM and the Python workers past their first, slower calls
BATCH_SIZE = 8
BATCH_WARM_OPS = 2

CODEC_SAMPLE_BLOCKS = 256


class JobCounter:
    """Spark jobs and tasks per request, through statusTracker job groups."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.groups: list[str] = []
        self.cost_s = 0.0  # time spent tagging, part of the trace overhead

    def start(self, group: str) -> None:
        if self.enabled:
            t = time.perf_counter()
            self.sc.setJobGroup(group, group)
            self.groups.append(group)
            self.cost_s += time.perf_counter() - t

    def totals(self) -> tuple[int, int]:
        tracker = self.sc.statusTracker()
        jobs = tasks = 0
        for g in self.groups:
            for jid in tracker.getJobIdsForGroup(g):
                jobs += 1
                info = tracker.getJobInfo(jid)
                for sid in info.stageIds if info else ():
                    st = tracker.getStageInfo(sid)
                    tasks += st.numTasks if st else 0
        return jobs, tasks


def _timed(fn):
    t = time.perf_counter()
    out = fn()
    return out, time.perf_counter() - t


def _dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def codec_rates(segments, seed: int) -> dict[str, float]:
    """varbyte decode and block encode throughput (postings/s) on a
    seeded sample of the index's real blocks."""
    from pyspark.sql import functions as F

    from pyspark_codesearch.codecs import encode_blocked, varbyte_decode

    rows = (
        segments.select("doc_ids_enc", "tfs_enc", "n_docs",
                        F.xxhash64("term", "salt", "block_id", F.lit(seed)).alias("h"))
        .orderBy("h").limit(CODEC_SAMPLE_BLOCKS).collect()
    )
    blocks = [(bytes(r["doc_ids_enc"]), bytes(r["tfs_enc"])) for r in rows]
    n_post = sum(int(r["n_docs"]) for r in rows)

    def decode_all():
        return [(np.cumsum(varbyte_decode(a).astype(np.int64)), varbyte_decode(b).astype(np.int64))
                for a, b in blocks]

    decoded = decode_all()
    for (a, b), (ids, tfs) in zip(blocks, decoded):
        if ids.size != tfs.size:
            raise RuntimeError("decoded block lengths disagree")

    def rate(fn) -> float:
        reps, t = 0, time.perf_counter()
        while True:
            fn()
            reps += 1
            el = time.perf_counter() - t
            if el >= 0.2 and reps >= 3:
                return reps * n_post / el

    return {
        "codecs.decode_postings_per_s": rate(decode_all),
        "codecs.encode_postings_per_s": rate(
            lambda: [encode_blocked(ids, tfs, 128) for ids, tfs in decoded]
        ),
    }


def segment_counts(segments) -> dict[str, float]:
    from pyspark.sql import functions as F

    r = segments.agg(
        F.sum(F.length("doc_ids_enc") + F.length("tfs_enc")).alias("bytes"),
        F.sum("n_docs").alias("postings"),
        F.count(F.lit(1)).alias("blocks"),
    ).collect()[0]
    return {
        "indexing.bytes_per_posting": float(r["bytes"]) / float(r["postings"]),
        "indexing.postings": float(r["postings"]),
        "indexing.blocks": float(r["blocks"]),
    }


class Run:
    """State shared by both workloads for one benchmark run."""

    def __init__(self, spark, corpus: gen.Corpus, corpus_path: str, work: str,
                 seed: int, seconds: float, threads: int, tracer):
        self.spark = spark
        self.corpus = corpus
        self.corpus_path = corpus_path
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.threads = threads
        self.tracer = tracer
        self.jobs = JobCounter(spark.sparkContext, tracer.enabled)
        self.ref = Reference(dict(zip(corpus.path, corpus.tokens)))
        self.pool = gen.make_query_pool(len(corpus), seed)
        self.layer: dict[str, float] = {}
        self.detail: dict = {}

    def raw(self):
        return self.spark.read.parquet(self.corpus_path)

    def id_to_path(self, docs) -> dict[int, str]:
        return {int(r["doc_id"]): r["path"] for r in docs.select("doc_id", "path").collect()}

    def check(self, query: str, rows, id_path: dict[int, str]) -> str | None:
        got = [(id_path.get(int(r["doc_id"]), f"?{r['doc_id']}"), float(r["score"])) for r in rows]
        return check_topk(got, self.ref.scores(query), TOP_K)

    def finish(self, samples: list[float], ok: int, attempted: int, throughput: float,
               throughput_kind: str | None, build_s: float, setup: list[float],
               index_bytes: int) -> dict:
        """End-to-end metrics as measured: name -> (value, unit, what
        the host's speed does to it; see calib.normalize)."""
        span = self.tracer.span
        with span("session.peak_rss"):
            rss = procs.peak_rss_mb(os.getpid())
        e2e = {
            "setup_s": (median(setup), "s", "time"),
            "success_ratio": (ok / attempted, "ratio", None),
            "peak_rss_mb": (rss, "MB", None),
            "throughput_per_s": (throughput, "1/s", throughput_kind),
            "build_docs_per_s": (len(self.corpus) / build_s, "docs/s", "rate"),
            "index_bytes_per_input_byte": (index_bytes / self.corpus.input_bytes(), "ratio", None),
        }
        # latency as measured; no end-to-end metric (README: No latency metric)
        self.detail.update(samples=len(samples), latencies=[round(x, 4) for x in samples],
                           latency_p50_s=float(np.percentile(samples, 50)),
                           latency_p80_s=float(np.percentile(samples, 80)),
                           setup_reps=setup, build_s=build_s)
        return e2e


# ---------------------------------------------------------------- serve
def serve(run: Run) -> tuple[dict, int, int]:
    from pyspark_codesearch.analysis import tokenize_py
    from pyspark_codesearch.corpus import ingest_bucketed
    from pyspark_codesearch.engine import search_topk_auto
    from pyspark_codesearch.indexing import (
        build_postings_with_dl,
        build_segments,
        build_term_stats,
        corpus_stats,
    )
    from pyspark_codesearch.wand import TermDictionary, prepare_lens_by_salt

    span, spark = run.tracer.span, run.spark

    def build():
        with span("corpus.ingest"):
            docs = ingest_bucketed(run.raw(), n_buckets=ID_BUCKETS).cache()
            docs.count()
        with span("indexing.postings"):
            postings = build_postings_with_dl(docs).cache()
            postings.count()
            doc_lens = docs.select("doc_id", "doc_len").cache()
            doc_lens.count()
            term_stats = build_term_stats(postings).cache()
            term_stats.count()
            stats = corpus_stats(docs)
        with span("indexing.segments"):
            segments = build_segments(
                build_postings_with_dl(docs, cluster_by_doc=False), stats, salt_range=SALT_RANGE
            ).cache()
            segments.count()
        return docs, postings, doc_lens, term_stats, stats, segments

    (docs, postings, doc_lens, term_stats, stats, segments), build_s = _timed(build)
    id_path = run.id_to_path(docs)
    docs.unpersist()

    def request(text: str, rid: str):
        """One serve request: dictionary lookup, then the cost-dispatched
        search. Returns (rows, route)."""
        with span("request", rid):
            with span("analysis.tokenize_query"):
                terms = Counter(tokenize_py(text)).keys()
            with span("wand.dict_lookup"):
                dfs, salts, imps = td.lookup3(terms)
            route: dict = {}
            with span("engine.plan"):
                df = search_topk_auto(
                    postings, segments, doc_lens, term_stats, stats, text, TOP_K,
                    salt_range=SALT_RANGE, lens_by_salt=lens, df_lookup=dfs,
                    salt_lookup=salts, imp_lookup=imps, route_out=route,
                )
            name = "scoring.exact" if route.get("route", "exact") == "exact" else "wand.route"
            with span(name):
                rows = df.collect()
        return rows, route

    def set_up():
        with span("wand.setup"):
            lens = prepare_lens_by_salt(doc_lens, SALT_RANGE)
            lens.count()
            return lens, TermDictionary(term_stats, segments)

    setup, lens, td = [], None, None
    for _ in range(SETUP_REPS):
        if lens is not None:
            lens.unpersist()
            td.invalidate()
        (lens, td), t = _timed(set_up)
        setup.append(t)

    # One seeded Zipf stream of queries: the first SERVE_WARM_QUERIES go
    # through the worker pool before the measured window opens, the rest
    # are measured; which measured queries repeat an earlier one comes
    # from the draw. The first requests after set-up run slow while the
    # JVM compiles, and the first query of a kind compiles its own code
    # path (the first empty result took 2.3 s against 0.5 s for a
    # first-seen query), so the warm-up starts with the least-drawn
    # template of each kind.
    due = gen.due_times(SERVE_RATE_QPS, run.seconds, run.seed)
    stream = gen.draw_queries(run.pool, SERVE_WARM_QUERIES + len(due), run.seed, stream=1)
    warm, queries = stream[:SERVE_WARM_QUERIES], stream[SERVE_WARM_QUERIES:]
    kinds = [next(q for q in reversed(run.pool) if q[0] == k) for k in gen.QUERY_KINDS]
    with ThreadPoolExecutor(max_workers=run.threads) as ex:
        list(ex.map(lambda iq: request(iq[1][1], f"warm-{iq[0]}"), enumerate(kinds + warm)))
    repeats = sum(q in stream[:SERVE_WARM_QUERIES + i] for i, q in enumerate(queries))

    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    index_bytes = sum(int(i.memSize()) + int(i.diskSize()) for i in storage)

    fetched0 = len(td.fetched_terms)
    looked_up: set[str] = set()
    results: list = [None] * len(due)
    lock = threading.Lock()

    def work(i: int, t_due: float):
        text = queries[i][1]
        start = time.perf_counter()
        run.jobs.start(f"q{i}")
        try:
            rows, route = request(text, f"q{i}")
            err = None
        except Exception as e:  # a failed request is counted, the run goes on
            rows, route, err = [], {}, repr(e)
        done = time.perf_counter()
        with lock:
            looked_up.update(tokenize_py(text))
        results[i] = (t_due, start, done, rows, route, err)

    t0 = time.perf_counter()
    lateness = []
    with ThreadPoolExecutor(max_workers=run.threads) as ex:
        futs = []
        for i, off in enumerate(due):
            delay = t0 + off - time.perf_counter()
            if delay > 0:
                time.sleep(delay)
            lateness.append(time.perf_counter() - (t0 + off))
            futs.append(ex.submit(work, i, t0 + off))
        for f in futs:
            f.result()
    # from the first due time to the last completion: a slow tail or a
    # backlog stretches it, and it never reads as the bare offered rate
    window = max(r[2] for r in results) - t0

    lat, good_lat, failures, wrong = [], [], [], 0
    routes = Counter()
    matched = waits = 0.0
    n_rows = 0
    for i, (t_due, start, done, rows, route, err) in enumerate(results):
        # open loop: from the due time, so a stall also counts against
        # the requests queued behind it
        latency = done - t_due
        lat.append(latency)
        waits += start - t_due
        routes[route.get("wand_plan") or route.get("route", "none")] += 1
        if err is None:
            err = run.check(queries[i][1], rows, id_path)
        if err is None and latency > SERVE_LIMIT_S:
            err = f"latency {latency:.3f}s over the {SERVE_LIMIT_S}s limit"
        good_lat.append(latency if err is None else None)
        if err is not None:
            failures.append((queries[i][1], err))
            wrong += "limit" not in err
        matched += route.get("matched_postings", 0)
        n_rows += len(rows)
    ok = sum(x is not None for x in good_lat)
    good = goodput(good_lat, SERVE_LIMIT_S, window)
    run.detail.update(failures=failures[:20], wrong=wrong, generator_lateness_max_s=max(lateness, default=0.0),
                      rate_qps=SERVE_RATE_QPS, limit_s=SERVE_LIMIT_S, routes=dict(routes),
                      repeat_share=repeats / len(queries))

    if run.tracer.enabled:
        jobs, tasks = run.jobs.totals()
        n = len(results)
        t = run.tracer
        run.layer.update({
            "session.jobs_per_query": jobs / n,
            "session.tasks_per_query": tasks / n,
            "analysis.tokenize_query_s": median(t.durations("analysis.tokenize_query")),
            "engine.plan_s": median(t.durations("engine.plan")),
            "engine.execute_s": median(t.durations("scoring.exact") + t.durations("wand.route")),
            "engine.queue_wait_s": waits / n,
            "engine.route_exact": float(routes["exact"]),
            "engine.route_selective": float(routes["selective"]),
            "engine.route_full": float(routes["full"]),
            "wand.dict_lookup_s": median(t.durations("wand.dict_lookup")),
            "wand.dict_hit_ratio": 1.0 - (len(td.fetched_terms) - fetched0) / max(1, len(looked_up)),
            "scoring.matched_postings_per_result": matched / max(1, n_rows),
            "corpus.ingest_s": t.durations("corpus.ingest")[0],
            "indexing.postings_s": t.durations("indexing.postings")[0],
            "indexing.segments_s": t.durations("indexing.segments")[0],
        })
        run.layer.update(segment_counts(segments))
        run.layer.update(codec_rates(segments, run.seed))
    # goodput is set by the offered rate, not by the host's speed
    e2e = run.finish(lat, ok, len(results), good, None, build_s, setup, index_bytes)
    return e2e, len(results), len(results) - ok


# ---------------------------------------------------------------- batch
def batch(run: Run) -> tuple[dict, int, int]:
    from pyspark_codesearch.analysis import tokenize_py
    from pyspark_codesearch.corpus import ingest_bucketed
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.lineage import (
        build_index_resumable,
        buckets_for_terms,
        impact_scale,
        load_segments,
        load_segments_for_terms,
        read_metrics,
        read_table,
    )
    from pyspark_codesearch.wand import wand_topk_batch

    span, spark = run.tracer.span, run.spark
    ix = os.path.join(run.work, "index")

    def build():
        with span("lineage.build"):
            return build_index_resumable(
                ingest_bucketed(run.raw(), n_buckets=ID_BUCKETS), ix,
                n_buckets=TERM_BUCKETS, salt_range=SALT_RANGE,
            )

    _, build_s = _timed(build)
    id_path = run.id_to_path(read_table(spark, ix, "docs"))
    index_bytes = _dir_bytes(ix)

    def open_index():
        """What a client does once before its first batch: corpus stats
        and handles on the side tables."""
        with span("lineage.open"):
            st = read_table(spark, ix, "stats").collect()[0]
            return (CorpusStats(int(st["n_docs"]), float(st["avgdl"])),
                    read_table(spark, ix, "doc_lens"), read_table(spark, ix, "term_stats"))

    setup = []
    for _ in range(SETUP_REPS):
        (stats, doc_lens, term_stats), t = _timed(open_index)
        setup.append(t)

    def op(qd: dict[str, str], rid: str):
        """One scripts/query.py-shaped batch call over the disk index."""
        with span("request", rid):
            with span("analysis.tokenize_query"):
                terms = {t for q in qd.values() for t in tokenize_py(q)}
            with span("lineage.load_segments"):
                segs = load_segments_for_terms(spark, ix, terms)
                scale = impact_scale(ix, stats.avgdl)
            with span("wand.batch"):
                rows = wand_topk_batch(
                    segs, doc_lens, term_stats, stats, qd, TOP_K,
                    salt_range=SALT_RANGE, impact_scale=scale,
                ).collect()
        by_q: dict[str, list] = {q: [] for q in qd}
        for r in rows:
            by_q[r["query_id"]].append(r)
        return by_q

    def query_set(stream: int) -> dict[str, str]:
        return {f"q{i}": q for i, (_, q) in enumerate(gen.draw_queries(run.pool, BATCH_SIZE, run.seed, stream))}

    # the first batches run slow while the JVM and the Python workers warm up
    for j in range(BATCH_WARM_OPS):
        op(query_set(j), f"warm-{j}")

    lat, ok, attempted, failures, n_queries = [], 0, 0, [], 0
    done_sets = []
    t0 = time.perf_counter()
    j = 0
    while j == 0 or time.perf_counter() - t0 < run.seconds:
        qd = query_set(1000 + j)
        run.jobs.start(f"b{j}")
        t = time.perf_counter()
        try:
            by_q, err = op(qd, f"b{j}"), None
        except Exception as e:  # a failed op is counted, the run goes on
            by_q, err = {}, repr(e)
        lat.append(time.perf_counter() - t)
        done_sets.append((qd, by_q, err))
        n_queries += len(qd)
        j += 1
    elapsed = time.perf_counter() - t0

    for qd, by_q, err in done_sets:
        for qid, text in qd.items():
            attempted += 1
            e = err or run.check(text, by_q.get(qid, []), id_path)
            if e is None:
                ok += 1
            else:
                failures.append((text, e))
    run.detail.update(failures=failures[:20], wrong=len(failures), batch_size=BATCH_SIZE, ops=len(lat))

    if run.tracer.enabled:
        jobs, tasks = run.jobs.totals()
        t = run.tracer
        units = {r["unit"]: float(r["wall_ms"]) / 1000.0 for r in read_metrics(spark, ix).collect()}
        seg_s = sum(v for u, v in units.items() if u.startswith("segments/"))
        read_buckets = [
            len(buckets_for_terms(spark, {x for q in qd.values() for x in tokenize_py(q)}, TERM_BUCKETS))
            for qd, _, _ in done_sets
        ]
        run.layer.update({
            "session.jobs_per_query": jobs / n_queries,
            "session.tasks_per_query": tasks / n_queries,
            "analysis.tokenize_query_s": median(t.durations("analysis.tokenize_query")) / BATCH_SIZE,
            "wand.batch_s": median(t.durations("wand.batch")),
            "lineage.load_segments_s": median(t.durations("lineage.load_segments")),
            "lineage.buckets_read_ratio": sum(read_buckets) / (len(read_buckets) * TERM_BUCKETS),
            "corpus.ingest_s": units["docs"],
            "indexing.postings_s": units["postings"],
            "indexing.segments_s": seg_s,
            **{f"lineage.unit_wall_s.{u}": units[u] for u in ("docs", "quarantine", "postings")},
            "lineage.unit_wall_s.segments": seg_s,
        })
        segs = load_segments(spark, ix)
        run.layer.update(segment_counts(segs))
        run.layer.update(codec_rates(segs, run.seed))
    e2e = run.finish(lat, ok, attempted, n_queries / elapsed, "rate", build_s, setup, index_bytes)
    return e2e, attempted, attempted - ok


WORKLOADS = {"serve": serve, "batch": batch}
