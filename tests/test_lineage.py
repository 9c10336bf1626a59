"""Checkpoint/resume: killed build resumes, output identical (FIXTURES §7)."""

import hashlib
import json
import os

import pytest
from conftest import _jobs_started_by
from pyspark.sql import functions as F

from pyspark_codesearch.codecs import delta_decode, varbyte_decode
from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.lineage import (
    BuildInterrupted,
    build_index_resumable,
    buckets_for_terms,
    load_segments,
    n_buckets_of,
    read_metrics,
    read_table,
    salt_range_of,
    unit_done,
)

N_DOCS = 200


@pytest.fixture(scope="module")
def docs(spark):
    raw = corpus_df(spark, N_DOCS, seed=3, n_partitions=8)
    return ingest_bucketed(raw, n_buckets=1).cache()


def _decode_all(rows):
    out = {}
    for r in sorted(rows, key=lambda r: (r["term"], r["salt"], r["block_id"])):
        ids = delta_decode(r["doc_ids_enc"]).tolist()
        tfs = varbyte_decode(r["tfs_enc"]).tolist()
        out.setdefault(r["term"], []).extend(zip(ids, tfs))
    return out


def test_kill_and_resume_identical(spark, docs, tmp_path_factory):
    clean_dir = str(tmp_path_factory.mktemp("clean"))
    resumed_dir = str(tmp_path_factory.mktemp("resumed"))

    res_clean = build_index_resumable(docs, clean_dir, n_buckets=4)
    assert res_clean["executed_units"] == 3 + 4  # docs, quarantine, postings, 4 buckets

    # interrupted run: dies after 3 units (docs, quarantine, postings)
    with pytest.raises(BuildInterrupted):
        build_index_resumable(docs, resumed_dir, n_buckets=4, fail_after_units=3)
    assert unit_done(resumed_dir, "docs", _fp(resumed_dir))
    # resume: must execute ONLY the remaining units
    res2 = build_index_resumable(docs, resumed_dir, n_buckets=4)
    assert res2["executed_units"] == 4

    a = _decode_all(load_segments(spark, clean_dir).collect())
    b = _decode_all(load_segments(spark, resumed_dir).collect())
    assert a == b
    # and byte for byte: every table's parquet files are identical, so
    # the index's size does not depend on whether the build was resumed
    clean = _parquet_digests(clean_dir, 4)
    assert all(clean.values()), clean
    assert clean == _parquet_digests(resumed_dir, 4)


def _parquet_digests(out_dir, n_buckets):
    """table -> sorted sha256 of its parquet files (file names carry a
    per-write id, so only contents are compared)."""
    tables = ["docs", "quarantine", "doc_lens", "stats", "term_stats"] + [
        f"{sub}/bucket={b}" for sub in ("postings", "segments") for b in range(n_buckets)
    ]
    out = {}
    for name in tables:
        d = os.path.realpath(os.path.join(out_dir, name))
        out[name] = sorted(
            hashlib.sha256(open(os.path.join(d, f), "rb").read()).hexdigest()
            for f in os.listdir(d)
            if f.endswith(".parquet")
        )
    return out


def _fp(out_dir):
    with open(os.path.join(out_dir, "_lineage", "docs.json")) as f:
        return json.load(f)["input_fingerprint"]


def test_noop_on_rerun(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("noop"))
    build_index_resumable(docs, d, n_buckets=2)
    res = build_index_resumable(docs, d, n_buckets=2)
    assert res["executed_units"] == 0


def test_fingerprint_invalidation(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("inval"))
    docs_a = ingest_bucketed(corpus_df(spark, 50, seed=1), n_buckets=1)
    docs_b = ingest_bucketed(corpus_df(spark, 50, seed=2), n_buckets=1)
    build_index_resumable(docs_a, d, n_buckets=2)
    res = build_index_resumable(docs_b, d, n_buckets=2)
    assert res["executed_units"] == 5  # everything re-ran: input changed
    # another salt range re-runs only the segments buckets
    assert salt_range_of(d) == 1 << 20
    res = build_index_resumable(docs_b, d, n_buckets=2, salt_range=64)
    assert res["executed_units"] == 2
    assert salt_range_of(d) == 64
    # another bucket count re-runs postings and every segments bucket
    res = build_index_resumable(docs_b, d, n_buckets=4, salt_range=64)
    assert res["executed_units"] == 1 + 4
    assert n_buckets_of(d) == 4
    # buckets that disagree, or a manifest without the field, raise
    p = os.path.join(d, "_lineage", "segments__bucket=1.json")
    with open(p) as f:
        m = json.load(f)
    for m["salt_range"], msg in ((32, "salt ranges"), (None, "lacks salt_range")):
        with open(p, "w") as f:
            json.dump(m, f)
        with pytest.raises(ValueError, match=msg):
            salt_range_of(d)

    # the fingerprint covers every stored column: the same contents
    # ingested with other doc ids are a new input
    raw = corpus_df(spark, 40, seed=5)
    ids_of = {n: sorted(r["doc_id"] for r in ingest_bucketed(raw, n_buckets=n).collect())
              for n in (1, 4)}
    assert ids_of[1] != ids_of[4]
    d = str(tmp_path_factory.mktemp("inval_ids"))
    for n in (1, 4):
        res = build_index_resumable(ingest_bucketed(raw, n_buckets=n), d, n_buckets=2)
        assert res["executed_units"] == 5, n
        stored = sorted(r["doc_id"] for r in read_table(spark, d, "docs").collect())
        assert stored == ids_of[n], n


def _docs_of(spark, texts):
    rows = list(enumerate(texts))
    return ingest_documents_df(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).withColumn("lang", F.lit("python"))


def _terms_of(df):
    return {r["term"] for r in df.select("term").distinct().collect()}


def _bucket_entries(n):
    return sorted(
        [f"bucket={b}" for b in range(n)] + [f".bucket={b}.versions" for b in range(n)]
    )


def test_build_publishes_buckets_no_term_hashes_into(spark, tmp_path):
    """Two terms over eight buckets: every bucket is still published, the
    ones no term hashes into as empty tables, and segments build for all."""
    out = str(tmp_path / "idx")
    docs = _docs_of(spark, ["merge sort", "sort merge merge"])
    build_index_resumable(docs, out, n_buckets=8)
    for sub in ("postings", "segments"):
        assert sorted(os.listdir(os.path.join(out, sub))) == _bucket_entries(8)
    assert n_buckets_of(out) == 8
    tokens = _terms_of(docs.select(F.explode("tokens").alias("term")))
    postings = [read_table(spark, out, f"postings/bucket={b}") for b in range(8)]
    assert sum(p.count() for p in postings) == 4  # 2 docs x 2 distinct terms
    assert _terms_of(load_segments(spark, out)) == tokens


def test_rebuild_in_place_keeps_no_old_bucket(spark, tmp_path):
    """Rebuilding into the same out_dir from other input with fewer
    buckets: buckets the new input leaves empty hold no old postings,
    and no bucket of the old layout remains to be counted."""
    out = str(tmp_path / "idx")
    old = _docs_of(spark, ["alpha beta gamma delta", "epsilon zeta eta theta"])
    build_index_resumable(old, out, n_buckets=8)
    new = _docs_of(spark, ["merge sort", "sort merge merge"])
    build_index_resumable(new, out, n_buckets=4)
    for sub in ("postings", "segments"):
        assert sorted(os.listdir(os.path.join(out, sub))) == _bucket_entries(4)
    assert n_buckets_of(out) == 4
    tokens = _terms_of(new.select(F.explode("tokens").alias("term")))
    for b in range(4):
        assert _terms_of(read_table(spark, out, f"postings/bucket={b}")) <= tokens
    assert _terms_of(load_segments(spark, out)) == tokens
    # nor any manifest or metrics unit of a dropped bucket
    manifests = [f for f in os.listdir(os.path.join(out, "_lineage"))
                 if f.startswith("segments__bucket=")]
    assert sorted(manifests) == [f"segments__bucket={b}.json" for b in range(4)]
    units = [r["unit"] for r in read_metrics(spark, out).collect()]
    assert sorted(u for u in units if u.startswith("segments/")) == [
        f"segments/bucket={b}" for b in range(4)
    ]


def test_buckets_for_terms_matches_spark_pmod_hash(spark):
    """The driver-side term->bucket mapping equals the writers'
    pmod(hash(term), n) on 10k seeded terms: the empty string, every
    UTF-8 tail length 0-3, 2- and 3-byte characters and 4-byte emoji."""
    import random

    rng = random.Random(20261018)
    alphabet = "abcxyz_09" + "éßж" + "漢字ア" + "😀🚀"
    terms = ["", "a", "ab", "abc", "abcd", "é", "漢", "😀", "a😀", "ab😀"] + [
        "".join(rng.choice(alphabet) for _ in range(rng.randint(1, 12)))
        for _ in range(10_000)
    ]
    utf8 = [t.encode("utf-8") for t in terms]
    assert {len(b) % 4 for b in utf8} == {0, 1, 2, 3}
    assert any(len(b) > len(t) for b, t in zip(utf8, terms))
    assert any(ord(c) > 0xFFFF for t in terms for c in t)
    ns = (1, 2, 3, 8, 1024)
    rows = spark.createDataFrame([(t,) for t in terms], "term string").select(
        "term", *[F.pmod(F.hash("term"), F.lit(n)).alias(f"b{n}") for n in ns]
    ).collect()
    assert len(rows) == len(terms)
    for n in ns:
        assert all(buckets_for_terms(spark, [r["term"]], n) == [r[f"b{n}"]] for r in rows), n
        assert buckets_for_terms(spark, terms, n) == sorted({r[f"b{n}"] for r in rows})
    assert buckets_for_terms(spark, [], 8) == []


def test_metrics_table(spark, docs, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("metrics"))
    build_index_resumable(docs, d, n_buckets=4)
    m = read_metrics(spark, d)
    rows = {r["unit"]: r for r in m.collect()}
    assert set(rows) == {"docs", "quarantine", "postings"} | {
        f"segments/bucket={b}" for b in range(4)
    }
    assert all(r["wall_ms"] > 0 for r in rows.values())
    assert rows["docs"]["rows"] == N_DOCS
    assert rows["quarantine"]["rows"] == 0  # clean fixture
    # one row per unit manifest, in file-name order, with the manifest's
    # values; a driver-side frame, so collecting it runs no Spark job
    want = []
    mdir = os.path.join(d, "_lineage")
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                r = json.load(f)
            want.append((r["unit"], r["input_fingerprint"], r["rows"], r["wall_ms"]))
    assert m.columns == ["unit", "input_fingerprint", "rows", "wall_ms"]
    got = []
    assert _jobs_started_by(spark, lambda: got.extend(map(tuple, m.collect()))) == []
    assert got == want


def test_bucket_pruned_query_matches_full(spark, docs, tmp_path_factory):
    """Static term->bucket directory pruning: identical results to the
    full-segment scan, and the plan actually partition-prunes."""
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.lineage import load_segments_for_terms
    from pyspark_codesearch.wand import wand_topk_batch

    d = str(tmp_path_factory.mktemp("prune"))
    build_index_resumable(docs, d, n_buckets=4, salt_range=64)
    st = spark.read.parquet(f"{d}/stats").collect()[0]
    stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
    doc_lens = spark.read.parquet(f"{d}/doc_lens")
    term_stats = spark.read.parquet(f"{d}/term_stats")
    qmap = {"a": "parse json string", "b": "uniqterm000011"}
    from pyspark_codesearch.analysis import tokenize_py

    terms = {t for q in qmap.values() for t in tokenize_py(q)}
    assert n_buckets_of(d) == 4
    bks = buckets_for_terms(spark, terms, 4)
    assert 0 < len(bks) <= 4
    pruned_segs = load_segments_for_terms(spark, d, terms)
    full = wand_topk_batch(
        load_segments(spark, d), doc_lens, term_stats, stats,
        qmap, 5, salt_range=64,
    ).collect()
    pruned = wand_topk_batch(
        pruned_segs, doc_lens, term_stats, stats, qmap, 5, salt_range=64
    ).collect()
    assert len(pruned) > 0
    assert sorted(map(tuple, pruned)) == sorted(map(tuple, full))
    # bucket pruning visible in the scan's actual file set: the pruned
    # plan reads ONLY the matched buckets' (snapshot-resolved) dirs —
    # stronger than the old PartitionFilters string check
    import os as _os

    def dirs_of(df):
        return {
            _os.path.realpath(_os.path.dirname(p.removeprefix("file:")))
            for p in df.inputFiles()
        }

    want = {_os.path.realpath(f"{d}/segments/bucket={b}") for b in bks}
    got_dirs = dirs_of(pruned_segs)
    assert got_dirs and got_dirs <= want
    all_dirs = dirs_of(load_segments(spark, d))
    if len(bks) < 4:
        assert len(got_dirs) < len(all_dirs)


def test_quarantine_poison_rows(spark, docs, tmp_path_factory):
    """S8: poison rows divert to the quarantine table with reasons; the
    build completes on the valid rows (reference ingest_papers.py:513-526
    collects per-paper failures instead of aborting the run)."""
    from pyspark.sql import functions as F

    from pyspark_codesearch.lineage import split_quarantine

    poisoned = (
        docs.withColumn(
            "content",
            F.when(F.col("doc_id") == 3, F.lit(None).cast("string"))
            .when(F.col("doc_id") == 4, F.lit(""))
            .when(F.col("doc_id") == 6, F.concat(F.col("content"), F.lit("TAMPERED")))
            .otherwise(F.col("content")),
        )
        .withColumn(
            "doc_id",
            F.when(F.col("doc_id") == 5, F.lit(None).cast("long")).otherwise(F.col("doc_id")),
        )
    )
    valid, quarantined = split_quarantine(poisoned, expected_sha_col="sha256")
    reasons = {r["doc_id"]: r["reason"] for r in quarantined.collect()}
    assert reasons == {3: "empty_content", 4: "empty_content",
                       None: "null_doc_id", 6: "sha_mismatch"}
    assert valid.count() == N_DOCS - 4

    d = str(tmp_path_factory.mktemp("quar"))
    res = build_index_resumable(poisoned, d, n_buckets=2, expected_sha_col="sha256")
    assert res["executed_units"] == 5
    q = spark.read.parquet(f"{d}/quarantine")
    assert {r["reason"] for r in q.collect()} == {"empty_content", "null_doc_id", "sha_mismatch"}
    assert q.count() == 4
    written = spark.read.parquet(f"{d}/docs")
    assert written.count() == N_DOCS - 4
    assert written.filter(F.col("doc_id").isin(3, 4, 6)).count() == 0
    # resume semantics unchanged: second run is a no-op
    res2 = build_index_resumable(poisoned, d, n_buckets=2, expected_sha_col="sha256")
    assert res2["executed_units"] == 0


def _unpinned_parquet_reads(source: str) -> list[int]:
    """Lines of ``source`` that read parquet neither through read_table
    nor with a reader given ``.schema(...)``. A call ``X.parquet(...)``
    is a write when X's chain passes through ``.write``; any other must
    pass through ``.schema``."""
    import ast

    tree = ast.parse(source)
    skip = set()
    for node in ast.walk(tree):
        if isinstance(node, ast.FunctionDef) and node.name == "read_table":
            skip |= set(range(node.lineno, node.end_lineno + 1))
    bad = []
    for node in ast.walk(tree):
        if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)
                and node.func.attr == "parquet") or node.lineno in skip:
            continue
        chain, x = [], node.func.value
        while isinstance(x, (ast.Attribute, ast.Call)):
            if isinstance(x, ast.Attribute):
                chain.append(x.attr)
                x = x.value
            else:
                x = x.func
        if "write" not in chain and "schema" not in chain:
            bad.append(node.lineno)
    return bad


def test_every_parquet_read_in_lineage_declares_its_schema():
    """A parquet read that leaves Spark to infer the schema from a
    footer runs a Spark job each time; lineage.py reads through
    read_table or a reader given its schema."""
    import pyspark_codesearch.lineage as lineage

    assert _unpinned_parquet_reads(
        "def f(spark, p):\n"
        "    spark.read.parquet(p)\n"
        "    spark.read.schema('a int').parquet(p)\n"
        "    df.write.mode('overwrite').parquet(p)\n"
    ) == [2]
    with open(lineage.__file__) as f:
        assert _unpinned_parquet_reads(f.read()) == []
