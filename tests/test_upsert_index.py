"""Incremental index upsert/delete: re-ingesting a modified doc replaces
its postings exactly once; the upserted index is rank-identical to a fresh
build over the merged corpus; untouched buckets are not rewritten."""

import json
import os
import re

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.analysis import tokenize_py
from pyspark_codesearch.indexing import CorpusStats
from pyspark_codesearch.lineage import (
    TABLE_SCHEMAS,
    buckets_for_terms,
    build_index_resumable,
    delete_from_index,
    impact_scale,
    load_segments,
    read_table,
    upsert_index,
)
from pyspark_codesearch.wand import wand_topk_batch

N_DOCS = 200
SALT_RANGE = 64
N_BUCKETS = 4

MOD_IDS = [5, 6, 7]
NEW_IDS = [10_000, 10_001]
DEL_ID = 8


def _delta(spark):
    # marker digits start with 9 so they can never collide with the base
    # corpus's uniqterm digit tokens (generation indexes < 000200)
    rows = [
        (i, f"upserterm9{i:05d} merge sort replaced content scan") for i in MOD_IDS
    ] + [
        (i, f"insertterm9{i:05d} brand new appended doc parse json stream")
        for i in NEW_IDS
    ]
    raw = spark.createDataFrame(rows, "doc_id long, text string")
    return ingest_documents_df(raw).withColumn("lang", F.lit("python"))


def _aligned(delta, docs):
    """``delta`` with the columns of ``docs``, NULL where it has none."""
    types = dict(docs.dtypes)
    return delta.select(
        *[(F.col(c) if c in delta.columns else F.lit(None).cast(types[c])).alias(c)
          for c in docs.columns]
    )


def _load(spark, out):
    segs = load_segments(spark, out)
    doc_lens = spark.read.parquet(f"{out}/doc_lens")
    term_stats = spark.read.parquet(f"{out}/term_stats")
    st = spark.read.parquet(f"{out}/stats").collect()[0]
    return segs, doc_lens, term_stats, CorpusStats(int(st["n_docs"]), float(st["avgdl"]))


def _wand(spark, out, q, k=10, scale=1.0, salt_range=SALT_RANGE):
    segs, doc_lens, term_stats, stats = _load(spark, out)
    return [
        (r["doc_id"], r["score"])
        for r in wand_topk_batch(
            segs, doc_lens, term_stats, stats, {"q": q}, k,
            salt_range=salt_range, impact_scale=scale,
        ).collect()
    ]


@pytest.fixture(scope="module")
def built(spark, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("ix") / "base")
    docs = ingest_bucketed(corpus_df(spark, N_DOCS, seed=7), n_buckets=1).cache()
    build_index_resumable(docs, out, n_buckets=N_BUCKETS, salt_range=SALT_RANGE)
    # fresh reference index over the post-upsert corpus
    delta = _delta(spark)
    merged = docs.filter(~F.col("doc_id").isin(MOD_IDS + [DEL_ID])).unionByName(
        _aligned(delta, docs)
    )
    fresh = str(tmp_path_factory.mktemp("ix") / "fresh")
    build_index_resumable(merged, fresh, n_buckets=N_BUCKETS, salt_range=SALT_RANGE)
    return {"out": out, "fresh": fresh, "docs": docs, "delta": delta}


def test_upsert_then_rank_identity(spark, built):
    out, fresh = built["out"], built["fresh"]
    # old unique term of a doc that will be modified — resolve BEFORE upsert
    old_doc5_text = (
        spark.read.parquet(f"{out}/docs").filter(F.col("doc_id") == 5).collect()[0]["content"]
    )
    # the corpus's per-doc unique marker "uniqtermNNNNNN" analyzes to
    # ("uniqterm", "NNNNNN"); the 6-digit token is the globally-unique one
    import re as _re

    old_uniq = _re.search(r"uniqterm(\d{6})", old_doc5_text).group(1)

    seg_manifests_before = _seg_manifests(out)
    res = upsert_index(
        spark, out, built["delta"], deleted_ids=[DEL_ID]
    )
    assert res["affected_buckets"], "delta must touch at least one bucket"

    # untouched segment buckets keep their manifests byte-identical
    after = _seg_manifests(out)
    untouched = [b for b in range(N_BUCKETS) if b not in res["affected_buckets"]]
    for b in untouched:
        assert after[b] == seg_manifests_before[b], f"bucket {b} rewritten"

    st = spark.read.parquet(f"{out}/stats").collect()[0]
    scale = impact_scale(out, float(st["avgdl"]))
    assert scale >= 1.0

    queries = [
        "merge sort index",            # common terms, ranks shift with avgdl
        "upserterm 900005",            # modified doc's NEW unique marker
        "insertterm 910000",           # inserted doc
        old_uniq,                      # modified doc's OLD unique term -> gone
        "parse json stream scan",
    ]
    for q in queries:
        got = _wand(spark, out, q, scale=scale)
        want = _wand(spark, fresh, q)
        assert [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=1e-9), q
    # the old unique term matches nothing anywhere
    assert _wand(spark, out, old_uniq, scale=scale) == []


def test_selective_route_after_upsert(spark, built, monkeypatch):
    """search_topk_auto forced onto the two-phase selective route over
    the upserted index (TermDictionary.for_index lookups, impact_scale)
    is rank- and score-identical to the fresh rebuild, and both a seeded
    phase 2 and a phase 2 proved away (or without other salts) occur."""
    from pyspark_codesearch import engine
    from pyspark_codesearch.wand import TermDictionary

    out, fresh = built["out"], built["fresh"]
    upsert_index(spark, out, built["delta"], deleted_ids=[DEL_ID])  # no-op once applied
    segs, doc_lens, term_stats, stats = _load(spark, out)
    postings = spark.read.parquet(f"{out}/postings")
    td = TermDictionary.for_index(spark, out)
    scale = impact_scale(out, stats.avgdl)
    monkeypatch.setattr(engine, "SEARCH_EXACT_MAX_POSTINGS", -1)
    phases = set()
    for q, k in [
        ("upserterm 900005 merge sort", 1),  # the modified doc's new marker
        ("insertterm 910001 parse json", 3),  # an inserted doc's marker
        ("merge sort index", 10),
        ("parse json stream scan", 5),
    ]:
        dfs, salts, imps = td.lookup3(tokenize_py(q))
        route: dict = {}
        got = [
            (r["doc_id"], r["score"])
            for r in engine.search_topk_auto(
                postings, segs, doc_lens, term_stats, stats, q, k,
                salt_range=SALT_RANGE, df_lookup=dfs, salt_lookup=salts,
                imp_lookup=imps, impact_scale=scale, route_out=route,
            ).collect()
        ]
        assert route["route"] == "wand", q
        phases.add(route["phase2"])
        want = _wand(spark, fresh, q, k)
        assert got and [d for d, _ in got] == [d for d, _ in want], q
        for (_, a), (_, b) in zip(got, want):
            assert a == pytest.approx(b, abs=1e-9), q
    assert "seeded" in phases, phases
    assert phases & {"proved_away", "no_other_salts"}, phases


def test_postings_replaced_exactly_once(spark, built):
    out = built["out"]
    postings = spark.read.parquet(f"{out}/postings")
    # modified doc: postings == distinct terms of the NEW content only
    new_text = built["delta"].filter(F.col("doc_id") == 5).collect()[0]["content"]
    expect_terms = set(tokenize_py(new_text))
    got = postings.filter(F.col("doc_id") == 5).select("term").collect()
    got_terms = [r["term"] for r in got]
    assert sorted(got_terms) == sorted(set(got_terms)), "duplicated postings"
    assert set(got_terms) == expect_terms
    # deleted doc: no postings, no docs row, no doc_lens row
    assert postings.filter(F.col("doc_id") == DEL_ID).count() == 0
    assert spark.read.parquet(f"{out}/docs").filter(F.col("doc_id") == DEL_ID).count() == 0
    assert (
        spark.read.parquet(f"{out}/doc_lens").filter(F.col("doc_id") == DEL_ID).count() == 0
    )
    # inserted docs present
    assert spark.read.parquet(f"{out}/docs").filter(F.col("doc_id").isin(NEW_IDS)).count() == 2


def test_upsert_is_idempotent(spark, built):
    """Re-running the same upsert is a no-op (lineage fingerprint match)."""
    out = built["out"]
    res = upsert_index(
        spark, out, built["delta"], deleted_ids=[DEL_ID]
    )
    assert res["executed_units"] == 0


def test_term_stats_consistent_after_upsert(spark, built):
    """df(term) in term_stats == true distinct-doc count from postings,
    for every term (incremental maintenance didn't drift)."""
    out = built["out"]
    postings = spark.read.parquet(f"{out}/postings")
    true_df = {
        r["term"]: r["n"]
        for r in postings.groupBy("term").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    stored = {
        r["term"]: int(r["df"])
        for r in spark.read.parquet(f"{out}/term_stats").collect()
    }
    assert stored == true_df


def test_delete_only(spark, tmp_path):
    out = str(tmp_path / "delix")
    docs = ingest_bucketed(corpus_df(spark, 60, seed=11), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    import re as _re

    uniq = _re.search(
        r"uniqterm(\d{6})",
        spark.read.parquet(f"{out}/docs").filter(F.col("doc_id") == 3).collect()[0]["content"],
    ).group(1)
    assert _wand(spark, out, uniq, k=5) != []
    delete_from_index(spark, out, [3])
    st = spark.read.parquet(f"{out}/stats").collect()[0]
    assert int(st["n_docs"]) == 59
    scale = impact_scale(out, float(st["avgdl"]))
    assert _wand(spark, out, uniq, k=5, scale=scale, salt_range=32) == []


def test_index_writes_read_pinned_tables_with_declared_schemas(spark, tmp_path, monkeypatch):
    """Every index table a build or an upsert reads back is read from a
    resolved version directory (snapshot-pinned, not through the
    symlink), and every table of TABLE_SCHEMAS with its declared schema,
    so no read runs a parquet footer-inference job. The staged postings
    are read with their declared schema too, and nothing under
    ``_lineage`` is read as a table."""
    from pyspark.sql.readwriter import DataFrameReader

    from pyspark_codesearch.lineage import _STAGED_POSTINGS_SCHEMA

    reads = []
    schema_of, parquet_of = DataFrameReader.schema, DataFrameReader.parquet

    def schema(self, s):
        self._declared = s
        return schema_of(self, s)

    def parquet(self, *paths, **options):
        reads.extend((p, getattr(self, "_declared", None)) for p in paths)
        return parquet_of(self, *paths, **options)

    out = str(tmp_path / "reads")
    docs = ingest_bucketed(corpus_df(spark, 40, seed=17), n_buckets=1)
    delta = _delta(spark)
    monkeypatch.setattr(DataFrameReader, "schema", schema)
    monkeypatch.setattr(DataFrameReader, "parquet", parquet)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    res = upsert_index(spark, out, delta, deleted_ids=[DEL_ID])
    monkeypatch.undo()

    root = os.path.realpath(out)
    tables, staged = set(), 0
    for path, declared in reads:
        rel = os.path.relpath(path, root)
        assert not rel.startswith("_lineage"), path
        if rel == "postings/.build":  # the staging dir of both writers
            assert declared == _STAGED_POSTINGS_SCHEMA, declared
            staged += 1
            continue
        # {table dirs}/.{name}.versions/vNNN, no symlink on the way
        parts = rel.split(os.sep)
        assert path == os.path.realpath(path), path
        assert len(parts) >= 2 and re.fullmatch(r"\.(.+)\.versions", parts[-2]), path
        table = "/".join(parts[:-2] + [parts[-2][1:-len(".versions")]])
        key = table.split("/", 1)[0]
        tables.add(key)
        if key in TABLE_SCHEMAS:
            assert declared == TABLE_SCHEMAS[key], (table, declared)
    assert staged == 2  # the build's postings unit and the upsert's
    # term_stats is read only to keep the rows of the buckets an upsert
    # leaves untouched; a build, or an upsert touching every bucket,
    # recounts all of it from the staged postings
    expected = {"docs", "postings", "segments", "stats"}
    if len(res["affected_buckets"]) < 2:
        expected.add("term_stats")
    assert tables == expected, tables


def test_delete_of_absent_id_leaves_index_unchanged(spark, tmp_path):
    """A delete that matches no doc touches no term and no bucket; it
    completes and every table keeps its rows."""
    out = str(tmp_path / "absent")
    docs = ingest_bucketed(corpus_df(spark, 20, seed=3), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    before = {t: read_table(spark, out, t).count() for t in ("docs", "term_stats")}
    res = delete_from_index(spark, out, [999_999])
    assert res["affected_buckets"] == []
    assert {t: read_table(spark, out, t).count() for t in before} == before
    assert read_table(spark, out, "stats").collect()[0]["n_docs"] == 20


def _assert_declared_schemas_match_files(spark, out):
    """Each table of TABLE_SCHEMAS, every bucket of the bucketed ones:
    the schema read_table declares is the one Spark infers from the
    files the writer left."""
    checked = 0
    for table in TABLE_SCHEMAS:
        root = os.path.join(out, table)
        names = (
            [f"{table}/{d}" for d in sorted(os.listdir(root)) if d.startswith("bucket=")]
            if table in ("postings", "segments") else [table]
        )
        for name in names:
            inferred = spark.read.parquet(os.path.realpath(os.path.join(out, name))).schema
            assert read_table(spark, out, name).schema == inferred, name
            checked += 1
    assert checked == 3 + 2 * N_BUCKETS


def test_declared_schemas_match_written_files(spark, tmp_path):
    """The writers and the declared schemas cannot drift apart: checked
    on a fresh build, after an upsert and after a delete."""
    out = str(tmp_path / "schemas")
    docs = ingest_bucketed(corpus_df(spark, 60, seed=13), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=N_BUCKETS, salt_range=SALT_RANGE)
    _assert_declared_schemas_match_files(spark, out)
    upsert_index(spark, out, _delta(spark))
    _assert_declared_schemas_match_files(spark, out)
    delete_from_index(spark, out, [NEW_IDS[0]])
    _assert_declared_schemas_match_files(spark, out)


def _seg_manifests(out):
    md = os.path.join(out, "_lineage")
    res = {}
    for fn in os.listdir(md):
        if fn.startswith("segments__bucket=") and fn.endswith(".json"):
            b = int(fn.split("=")[1].split(".")[0])
            with open(os.path.join(md, fn)) as f:
                res[b] = json.load(f)
    return res


def test_upsert_crash_resume(spark, tmp_path):
    """A killed upsert resumes to the same result as an uninterrupted
    one: the upsert plan (affected buckets) is manifest-committed
    BEFORE the docs swap, so the resume never needs the replaced old
    content."""
    from pyspark_codesearch.lineage import BuildInterrupted

    out = str(tmp_path / "cr")
    fresh = str(tmp_path / "cr_fresh")
    docs = ingest_bucketed(corpus_df(spark, 80, seed=13), n_buckets=1).cache()
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)

    delta = _delta(spark)
    # crash after (plan, docs) units — docs table already swapped, the
    # old content of the modified docs is GONE
    with pytest.raises(BuildInterrupted):
        upsert_index(spark, out, delta, deleted_ids=[2],
                     fail_after_units=2)
    res = upsert_index(spark, out, delta, deleted_ids=[2])
    assert res["executed_units"] > 0

    merged = docs.filter(~F.col("doc_id").isin(MOD_IDS + [2])).unionByName(
        _aligned(delta, docs)
    )
    build_index_resumable(merged, fresh, n_buckets=2, salt_range=32)
    st = spark.read.parquet(f"{out}/stats").collect()[0]
    scale = impact_scale(out, float(st["avgdl"]))
    for q in ["merge sort scan", "upserterm 900005", "parse json stream"]:
        got = _wand(spark, out, q, scale=scale, salt_range=32)
        want = _wand(spark, fresh, q, salt_range=32)
        assert [d for d, _ in got] == [d for d, _ in want], q


def test_plan_is_affected_buckets_in_manifest(spark, built):
    """The upsert plan is the affected bucket ids and the count of the
    distinct terms that put them there, kept in the manifest: no term
    list, on the driver or on disk (a re-ingest wave's vocabulary is
    unbounded; the bucket ids are bounded by n_buckets)."""
    out = built["out"]
    upsert_index(spark, out, built["delta"], deleted_ids=[DEL_ID])  # no-op once applied
    with open(os.path.join(out, "_lineage", "upsert_plan.json")) as f:
        plan = json.load(f)
    assert set(plan) == {"unit", "input_fingerprint", "rows", "wall_ms", "affected_buckets"}
    assert not [d for d in os.listdir(os.path.join(out, "_lineage"))
                if not d.endswith(".json")], "the plan writes no side table"
    # rows: the distinct terms of the replaced and deleted versions and
    # of the delta
    old = built["docs"].filter(F.col("doc_id").isin(MOD_IDS + [DEL_ID]))
    terms = {t for r in old.select("content").collect() for t in tokenize_py(r["content"])}
    delta_terms = {
        r["t"] for r in built["delta"].select(F.explode("tokens").alias("t")).collect()
    }
    assert plan["rows"] == len(terms | delta_terms) > 0
    # every delta term's bucket is listed, and nothing else
    assert plan["affected_buckets"] == buckets_for_terms(spark, terms | delta_terms, N_BUCKETS)
    assert set(buckets_for_terms(spark, delta_terms, N_BUCKETS)) <= set(plan["affected_buckets"])


def test_upsert_delete_overlap_raises(spark, tmp_path):
    out = str(tmp_path / "ov")
    docs = ingest_bucketed(corpus_df(spark, 40, seed=3), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    delta = _delta(spark)  # carries MOD_IDS = [5, 6, 7]
    with pytest.raises(ValueError, match="BOTH delta_docs and deleted_ids"):
        upsert_index(spark, out, delta, deleted_ids=[5])


def test_inprogress_upsert_refuses_different_delta(spark, tmp_path):
    """A crashed upsert must be resumed with the SAME delta; a different
    one is refused (its plan would silently orphan stale postings)."""
    from pyspark_codesearch.lineage import BuildInterrupted

    out = str(tmp_path / "ip")
    docs = ingest_bucketed(corpus_df(spark, 60, seed=5), n_buckets=1).cache()
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    delta = _delta(spark)
    with pytest.raises(BuildInterrupted):
        upsert_index(spark, out, delta, fail_after_units=2)
    # different delta (a delete) while the upsert is interrupted -> refused
    with pytest.raises(RuntimeError, match="interrupted upsert"):
        delete_from_index(spark, out, [1])
    # resuming the SAME delta completes
    res = upsert_index(spark, out, delta)
    assert res["executed_units"] > 0
    # and once complete, a different delta is accepted again
    delete_from_index(spark, out, [1])
    assert spark.read.parquet(f"{out}/docs").filter(F.col("doc_id") == 1).count() == 0


def test_deleted_ids_accepts_dataframe(spark, tmp_path):
    out = str(tmp_path / "dfdel")
    docs = ingest_bucketed(corpus_df(spark, 40, seed=9), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    dels = spark.createDataFrame([(2,), (3,)], "doc_id long")
    upsert_index(spark, out, None, deleted_ids=dels)
    assert (
        spark.read.parquet(f"{out}/docs").filter(F.col("doc_id").isin([2, 3])).count() == 0
    )


def test_impact_scale_raises_without_built_avgdl(spark, tmp_path):
    out = str(tmp_path / "noavg")
    docs = ingest_bucketed(corpus_df(spark, 30, seed=4), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    # simulate an index built before built_avgdl existed
    p = os.path.join(out, "_lineage", "segments__bucket=0.json")
    with open(p) as f:
        m = json.load(f)
    m.pop("built_avgdl", None)
    with open(p, "w") as f:
        json.dump(m, f)
    with pytest.raises(ValueError, match="built_avgdl"):
        impact_scale(out, 10.0)


@pytest.mark.slow
def test_large_vocab_delta_no_driver_lists(spark, tmp_path):
    """A delta with a large distinct vocabulary completes with only its
    bucket ids and term count in the plan (nothing vocab-sized crosses
    the driver or lands in the manifest). Sized to stay
    test-suite-friendly (~2.4e4 distinct terms); the shape is identical
    at 1e6+ — no code path depends on the count."""
    out = str(tmp_path / "bigv")
    docs = ingest_bucketed(corpus_df(spark, 30, seed=21), n_buckets=1).cache()
    build_index_resumable(docs, out, n_buckets=2, salt_range=64)
    # 60 docs x 400 unique tokens each, generated JVM-side
    raw = (
        spark.range(60)
        .select(
            (F.col("id") + 20_000).alias("doc_id"),
            F.concat_ws(
                " ",
                F.transform(
                    F.sequence(F.lit(0), F.lit(399)),
                    lambda i: F.concat(
                        F.lit("bigv"), ((F.col("id") * 1000) + i).cast("string")
                    ),
                ),
            ).alias("text"),
        )
    )
    delta = ingest_documents_df(raw).withColumn("lang", F.lit("python"))
    res = upsert_index(spark, out, delta)
    assert res["affected_terms"] >= 60 * 400  # bigvN digits tokenize apart
    with open(os.path.join(out, "_lineage", "upsert_plan.json")) as f:
        plan = json.load(f)
    assert "affected_terms" not in plan
    # spot-check: an inserted doc's unique token is retrievable
    assert _wand(spark, out, "bigv 4017", k=3, salt_range=64) != []  # doc 20004


def test_term_dictionary_for_index_refreshes_after_upsert(spark, tmp_path):
    """invalidate() on a for_index dictionary re-reads the SWAPPED
    parquet dirs: post-upsert lookups see new df and new salts (a plain
    re-cache of the pinned file listing would throw or serve stale)."""
    from pyspark_codesearch.wand import TermDictionary

    out = str(tmp_path / "tdix")
    docs = ingest_bucketed(corpus_df(spark, 40, seed=15), n_buckets=1).cache()
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    td = TermDictionary.for_index(spark, out)
    dfs0, _, _ = td.lookup3(["merge", "upserterm"])
    assert "merge" in dfs0 and "upserterm" not in dfs0

    upsert_index(spark, out, _delta(spark))
    td.invalidate()
    dfs1, salts1, _ = td.lookup3(["merge", "upserterm"])
    # the delta's brand-new term is now visible with its true df (3 mods
    # + 2 inserts carry 'upserterm'/'insertterm' markers -> df >= 3)
    assert dfs1.get("upserterm", 0) >= 3
    assert salts1["upserterm"], "new term's salts must be visible"
    # and a mutated common term's df reflects the post-upsert postings
    true_df = (
        spark.read.parquet(f"{out}/postings")
        .filter(F.col("term") == "merge").count()
    )
    assert dfs1["merge"] == true_df


def _tables(spark, out, n_buckets):
    """Every table of an index as sorted rows; segments decoded to
    (term, doc_id, tf), since their block_max_impact bounds depend on
    the avgdl each bucket was built with."""
    from pyspark_codesearch.codecs import delta_decode, varbyte_decode

    def rows(name):
        return sorted((tuple(r) for r in read_table(spark, out, name).collect()), key=repr)

    out_tables = {t: rows(t) for t in ("docs", "doc_lens", "stats", "term_stats")}
    for b in range(n_buckets):
        out_tables[f"postings/bucket={b}"] = rows(f"postings/bucket={b}")
        out_tables[f"segments/bucket={b}"] = sorted(
            (r["term"], int(d), int(t))
            for r in read_table(spark, out, f"segments/bucket={b}").collect()
            for d, t in zip(delta_decode(r["doc_ids_enc"]), varbyte_decode(r["tfs_enc"]))
        )
    return out_tables


def _small_docs(spark, texts):
    raw = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    return ingest_documents_df(raw).withColumn("lang", F.lit("python"))


@pytest.mark.parametrize("touched", ["some_buckets", "every_bucket"])
def test_upsert_equals_fresh_build_table_by_table(spark, tmp_path, touched):
    """An upserted index equals a fresh build of the merged corpus,
    table by table. With a delta that leaves buckets untouched, the kept
    term_stats rows of those buckets must match the fresh count; with
    one that touches every bucket, term_stats is recounted whole."""
    if touched == "some_buckets":
        n_buckets = 8
        docs = _small_docs(spark, ["merge sort", "parse json", "scan join filter", "alpha beta"])
        delta = _small_docs(spark, ["merge sort", "parse xml"]).filter(F.col("doc_id") == 1)
        delta = delta.unionByName(
            _small_docs(spark, ["merge xml"]).withColumn("doc_id", F.lit(100).cast("long"))
        )
        deleted = []
    else:
        n_buckets = N_BUCKETS
        docs = ingest_bucketed(corpus_df(spark, 60, seed=23), n_buckets=1).cache()
        delta, deleted = _delta(spark), [DEL_ID]
    out, fresh = str(tmp_path / "up"), str(tmp_path / "fresh")
    build_index_resumable(docs, out, n_buckets=n_buckets, salt_range=32)
    res = upsert_index(spark, out, delta, deleted_ids=deleted)
    if touched == "some_buckets":
        assert 0 < len(res["affected_buckets"]) < n_buckets, res
    else:
        assert res["affected_buckets"] == list(range(n_buckets)), res

    gone = [r["doc_id"] for r in delta.select("doc_id").collect()] + deleted
    merged = docs.filter(~F.col("doc_id").isin(gone)).unionByName(_aligned(delta, docs))
    build_index_resumable(merged, fresh, n_buckets=n_buckets, salt_range=32)
    got, want = _tables(spark, out, n_buckets), _tables(spark, fresh, n_buckets)
    assert got.keys() == want.keys()
    for name in want:
        assert got[name] == want[name], name


def test_upsert_crash_between_bucket_renames_resumes(spark, tmp_path, monkeypatch):
    """A crash inside the single upsert_postings unit, after one bucket
    was renamed into its next version and before the next: the resumed
    upsert rewrites the same content and equals an uninterrupted one."""
    import shutil

    from pyspark_codesearch import lineage

    base = str(tmp_path / "base")
    docs = ingest_bucketed(corpus_df(spark, 60, seed=29), n_buckets=1)
    build_index_resumable(docs, base, n_buckets=N_BUCKETS, salt_range=32)
    crashed, clean = str(tmp_path / "crashed"), str(tmp_path / "clean")
    shutil.copytree(base, crashed, symlinks=True)
    shutil.copytree(base, clean, symlinks=True)
    delta = _delta(spark)
    upsert_index(spark, clean, delta, deleted_ids=[DEL_ID])

    swap, renamed = lineage._swap_dir, []

    def crash_on_second_bucket(path, write_fn):
        if "/postings/bucket=" in path:
            if renamed:
                raise RuntimeError("crash between two bucket renames")
            renamed.append(path)
        return swap(path, write_fn)

    monkeypatch.setattr(lineage, "_swap_dir", crash_on_second_bucket)
    with pytest.raises(RuntimeError, match="between two bucket renames"):
        upsert_index(spark, crashed, delta, deleted_ids=[DEL_ID])
    monkeypatch.undo()
    assert renamed, "the crash must land after a bucket was renamed"
    res = upsert_index(spark, crashed, delta, deleted_ids=[DEL_ID])
    assert res["executed_units"] == 1 + len(res["affected_buckets"])  # postings + segments
    assert _tables(spark, crashed, N_BUCKETS) == _tables(spark, clean, N_BUCKETS)


def test_upsert_fingerprint_covers_stored_columns(spark, tmp_path):
    """Re-upserting a doc with the same content but another stored
    column value is a new upsert, not a fingerprint-matched no-op."""
    out = str(tmp_path / "lang")
    docs = ingest_bucketed(corpus_df(spark, 30, seed=19), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    content = read_table(spark, out, "docs").filter(F.col("doc_id") == 5).collect()[0]["content"]
    raw = spark.createDataFrame([(5, content)], "doc_id long, text string")
    for lang in ("python", "go"):
        res = upsert_index(spark, out, ingest_documents_df(raw).withColumn("lang", F.lit(lang)))
        assert res["executed_units"] > 0, lang
        row = read_table(spark, out, "docs").filter(F.col("doc_id") == 5).collect()[0]
        assert row["lang"] == lang
