#!/usr/bin/env python
"""Measure the exact/WAND single-query crossover empirically (r5 verdict
item 2: SEARCH_EXACT_MAX_POSTINGS was extrapolated from decode-rate
arithmetic; every sf0.1 bench query routes exact, so the WAND side of
the dispatch had never been timed past the boundary).

Builds a replicated corpus with corpus.replicated_documents (default 768 x sf0.1
= 3.84M docs, where single common terms carry multi-million-posting
df), then times BOTH rank-identical plans — the literal-CASE exact
scorer and block-max WAND (G=16, the single-query configuration) — on
queries whose matched posting volume (sum of df over query terms) ramps
across the candidate threshold. Points alternate exact/WAND runs so a
drifting VM window biases both paths equally; best-of-N per path.

Usage: python scripts/crossover.py [replicate] [cpus]
Prints one JSON line per measured point plus a summary with the
observed crossover band.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

RUNS = int(os.environ.get("CROSSOVER_RUNS", "3"))


def ramp_queries(
    df_by_term: dict[str, int], marker: str | None
) -> list[tuple[str, str]]:
    """Two query shapes, each ramped by common-term count (the synthetic
    vocabulary's df distribution is bimodal — one rare word, ~28 common
    words at nearly identical df — so volume ramps by term COUNT, <=32
    so the exact literal-CASE path stays in play):

    - 'common': N highest-df terms. Term-at-a-time MaxScore can never
      freeze (no term's weight dominates the rest), so WAND degenerates
      to a python full decode — the exact JVM plan's best case.
    - 'selective': a uniq-marker digit token (df = replication factor,
      idf ~8.5) + the same N common terms. The rare term's C_t exceeds
      the sum of every common C_t, the candidate set freezes after ONE
      term, and all common terms decode only candidate-intersecting
      blocks — WAND's best case, and the classic
      rare-identifier-plus-context query of code search."""
    by_df = sorted(df_by_term.items(), key=lambda kv: (-kv[1], kv[0]))
    rare = min(df_by_term.items(), key=lambda kv: (kv[1], kv[0]))[0]
    out = [("common", rare)]
    # CROSSOVER_NS overrides the term-count ramp — used to add mid-band
    # points (the 16M common point flipped winner with the host window;
    # a clean-window 12-20M point pins it)
    ns = tuple(
        int(x)
        for x in os.environ.get("CROSSOVER_NS", "1,2,4,8,16,28").split(",")
    )
    for n in ns:
        if n <= len(by_df):
            commons = " ".join(t for t, _ in by_df[:n])
            out.append(("common", commons))
            if marker is not None:
                out.append(("selective", f"{marker} {commons}"))
    return out


def main() -> None:
    replicate = int(sys.argv[1]) if len(sys.argv) > 1 else 768
    cpus = int(sys.argv[2]) if len(sys.argv) > 2 else 32
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    os.environ.setdefault("SPARK_DRIVER_MEMORY", "48g")
    from pyspark.sql import functions as F

    from pyspark_codesearch.analysis import tokenize_py
    from pyspark_codesearch.corpus import replicated_documents
    from pyspark_codesearch.indexing import (
        build_postings_with_dl,
        build_segments,
        build_term_stats,
        corpus_stats,
    )
    from pyspark_codesearch.pyfiles import ensure_py_files
    from pyspark_codesearch.scoring import bm25_topk
    from pyspark_codesearch.session import get_spark
    from pyspark_codesearch.wand import (
        TermDictionary,
        prepare_lens_by_salt,
        wand_topk_batch,
        wand_topk_selective,
    )

    spark = get_spark("crossover", master=f"local[{cpus}]")
    spark.sparkContext.setLogLevel("ERROR")
    ensure_py_files(spark)

    # a pure-JVM ALU control (clean @32: ~0.43 s) so every point
    # carries its own window state — the r6 16M flip was a cross-window
    # artifact that a per-point control would have flagged
    def alu_control() -> float:
        t0 = time.perf_counter()
        spark.range(0, 1_000_000_000, 1, cpus * 2).select(
            F.sum(F.hash("id").cast("double"))
        ).collect()
        return round(time.perf_counter() - t0, 3)

    perturb = os.environ.get("CROSSOVER_PERTURB", "1") == "1"
    # needle df ~= n_docs/5000: the rare-identifier anchor of the
    # selective shape (the base sf tables have no rare tokens)
    docs = replicated_documents(
        spark, sf_dir, replicate, cpus * 2, perturb=perturb, needle_every=5000
    ).cache()
    n_docs = docs.count()
    salt_range = max(1024, n_docs // (cpus * 2))

    t0 = time.perf_counter()
    stats = corpus_stats(docs)
    doc_lens = docs.select("doc_id", "doc_len").cache()
    doc_lens.count()
    postings = build_postings_with_dl(docs).cache()
    postings.count()
    segments = build_segments(postings, stats, salt_range=salt_range).cache()
    segments.count()
    term_stats = build_term_stats(postings).cache()
    term_stats.count()
    print(
        json.dumps(
            {
                "setup": "index",
                "n_docs": n_docs,
                "replicate": replicate,
                "perturb": perturb,
                "salt_range": salt_range,
                "build_sec": round(time.perf_counter() - t0, 1),
            }
        ),
        flush=True,
    )

    lens_by_salt = prepare_lens_by_salt(doc_lens, salt_range)
    lens_by_salt.count()
    td = TermDictionary(term_stats, segments)

    # word vocabulary only (digit uniq-marker tokens have df ~= replicate;
    # they cannot move the volume ramp) — small enough to collect
    vocab = {
        r["term"]: int(r["df"])
        for r in term_stats.filter(F.col("term").rlike("^[a-z]+$")).collect()
    }
    marker_row = term_stats.filter(F.col("term") == "uniqneedle").collect()
    marker = "uniqneedle" if marker_row else None
    marker_df = int(marker_row[0]["df"]) if marker_row else None
    print(json.dumps({"setup": "vocab", "n_word_terms": len(vocab),
                      "max_df": max(vocab.values()), "marker": marker,
                      "marker_df": marker_df}), flush=True)

    queries = ramp_queries(vocab, marker)

    spark.conf.set("spark.sql.adaptive.enabled", "false")
    prev_shuffle = spark.conf.get("spark.sql.shuffle.partitions")

    points = []
    for shape, q in queries:
        dfs, salts, imps = td.lookup3(tokenize_py(q))
        volume = sum(dfs.values())

        def run_exact():
            spark.conf.set("spark.sql.shuffle.partitions", "8")
            try:
                return bm25_topk(
                    postings, term_stats, stats, q, 10, df_lookup=dfs
                ).collect()
            finally:
                spark.conf.set("spark.sql.shuffle.partitions", prev_shuffle)

        def run_wand():
            # G=16 measured FASTER than corpus-scaled coarse G at 768x
            # (3M postings: 1.79 s at G=16 vs 5.0 s at G=468): for heavy
            # queries decode dominates and fine tasks stream better
            # through Arrow; dispatch cost only matters for light ones.
            g = int(os.environ.get("CROSSOVER_G", "16"))
            return wand_topk_batch(
                segments, doc_lens, term_stats, stats, {"q": q}, 10,
                salt_range=salt_range, lens_by_salt=lens_by_salt,
                df_lookup=dfs, salt_lookup=salts, salt_group_factor=g,
            ).collect()

        sel_route: dict = {}

        def run_selective():
            return wand_topk_selective(
                segments, doc_lens, term_stats, stats, q, 10,
                salt_range=salt_range, lens_by_salt=lens_by_salt,
                df_lookup=dfs, salt_lookup=salts, imp_lookup=imps,
                salt_group_factor=16, route_out=sel_route,
            ).collect()

        run_exact(), run_wand(), run_selective()  # warm plans/workers
        exact_best = wand_best = sel_best = None
        for _ in range(RUNS):
            t0 = time.perf_counter()
            ex = run_exact()
            el = time.perf_counter() - t0
            exact_best = el if exact_best is None else min(exact_best, el)
            t0 = time.perf_counter()
            wd = run_wand()
            el = time.perf_counter() - t0
            wand_best = el if wand_best is None else min(wand_best, el)
            t0 = time.perf_counter()
            sl = run_selective()
            el = time.perf_counter() - t0
            sel_best = el if sel_best is None else min(sel_best, el)
        # NOT doc_id identity: replicas tie in score and a 1-ULP
        # summation-order wiggle between plans legally reorders tied ids
        # (CLAUDE.md r4) — compare the score multiset at 6dp instead
        assert sorted(round(r["score"], 6) for r in ex) == sorted(
            round(r["score"], 6) for r in wd
        ), q
        assert sorted(round(r["score"], 6) for r in ex) == sorted(
            round(r["score"], 6) for r in sl
        ), ("selective", q)
        best = min(exact_best, wand_best, sel_best)
        point = {
            "shape": shape,
            "n_terms": len(dfs),
            "matched_postings": volume,
            "exact_sec": round(exact_best, 3),
            "wand_sec": round(wand_best, 3),
            "selective_sec": round(sel_best, 3),
            "phase2": sel_route.get("phase2"),
            "winner": ("exact" if best == exact_best
                       else "wand" if best == wand_best else "selective"),
            "control_alu_sec": alu_control(),
        }
        points.append(point)
        print(json.dumps(point), flush=True)

    spark.conf.set("spark.sql.adaptive.enabled", "true")

    # crossover band PER SHAPE: largest volume where exact wins ->
    # smallest where wand wins
    for shape in ("common", "selective"):
        pts = [p for p in points if p["shape"] == shape]
        exact_wins = [p["matched_postings"] for p in pts if p["winner"] == "exact"]
        wand_wins = [p["matched_postings"] for p in pts if p["winner"] == "wand"]
        print(
            json.dumps(
                {
                    "summary": "crossover",
                    "shape": shape,
                    "n_docs": n_docs,
                    "last_exact_win": max(exact_wins) if exact_wins else None,
                    "first_wand_win": min(wand_wins) if wand_wins else None,
                }
            ),
            flush=True,
        )
    spark.stop()


if __name__ == "__main__":
    main()
