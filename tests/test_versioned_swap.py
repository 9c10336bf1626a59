"""Reader-safe versioned directory swaps.

`_swap_dir` publishes each rewrite as a new version dir behind an
atomically-repointed symlink, retaining the previous generation for one
swap and every superseded one for SUPERSEDED_GRACE_S after its swap —
so a reader racing repeated upsert swaps never observes ENOENT
(the old rename-pair protocol had a two-rename window) and a reader
whose scan already resolved the old target keeps reading real files.
Single-host analogue of Iceberg snapshot pinning (ARCHITECTURE §6)."""

import os
import threading
import time

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.lineage import (
    SUPERSEDED_GRACE_S,
    _swap_dir,
    _versions_root,
    build_index_resumable,
    load_segments,
    read_table,
    upsert_index,
)


def _write_marker(gen):
    """write_fn factory: a dir with a content file naming its generation
    plus a trailing _COMPLETE sentinel written last."""

    def fn(p):
        os.makedirs(p)
        with open(os.path.join(p, "content"), "w") as f:
            f.write(str(gen))
        with open(os.path.join(p, "_COMPLETE"), "w") as f:
            f.write("ok")

    return fn


def test_swap_path_never_disappears(tmp_path):
    """A tight stat/read loop across 60 swaps never sees ENOENT or a
    version missing its completion sentinel."""
    path = str(tmp_path / "table")
    _swap_dir(path, _write_marker(0))
    errors = []
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                names = os.listdir(path)  # resolves the symlink
                if "_COMPLETE" not in names:
                    errors.append(f"incomplete version visible: {names}")
                    return
                with open(os.path.join(path, "content")) as f:
                    int(f.read())
            except OSError as e:  # ENOENT is exactly the closed window
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for gen in range(1, 61):
            _swap_dir(path, _write_marker(gen))
    finally:
        stop.set()
        t.join()
    assert errors == []
    with open(os.path.join(path, "content")) as f:
        assert f.read() == "60"


def test_previous_generation_retained_one_swap(tmp_path):
    """The previous generation survives the next swap; an older one
    survives until SUPERSEDED_GRACE_S after it was superseded."""
    path = str(tmp_path / "table")
    _swap_dir(path, _write_marker(0))
    vroot = _versions_root(path)
    gen0 = os.path.realpath(path)
    _swap_dir(path, _write_marker(1))
    gen1 = os.path.realpath(path)
    # a reader mid-scan on gen0 still has real files under it
    assert os.path.exists(os.path.join(gen0, "content"))
    _swap_dir(path, _write_marker(2))
    gen2 = os.path.realpath(path)
    # gen0 is two swaps behind but was superseded moments ago: kept
    assert os.path.exists(os.path.join(gen0, "content"))
    # age gen0 and gen1 as if their swaps ran past the grace
    past = time.time() - SUPERSEDED_GRACE_S - 1
    for gen in (gen0, gen1):
        os.utime(gen, (past, past))
    _swap_dir(path, _write_marker(3))
    assert not os.path.exists(gen0) and not os.path.exists(gen1)
    assert os.path.exists(os.path.join(gen2, "content"))
    assert len(os.listdir(vroot)) == 2  # current + previous only


def test_plain_directory_is_refused(tmp_path):
    """A table written before builds published versions is a plain
    directory; swapping it is refused before anything is written."""
    path = str(tmp_path / "table")
    os.makedirs(path)
    with pytest.raises(ValueError, match="rebuild"):
        _swap_dir(path, _write_marker(1))
    assert os.listdir(tmp_path) == ["table"]


def _upsert_wave(spark, out, wave):
    rows = [
        (i, f"swapwave9{wave}{i:04d} merge sort replaced content") for i in (3, 4, 5)
    ]
    delta = ingest_documents_df(
        spark.createDataFrame(rows, "doc_id long, text string")
    ).withColumn("lang", F.lit("python"))
    upsert_index(spark, out, delta)


def test_scan_pinned_before_first_upsert_survives(spark, tmp_path):
    """The build publishes every swappable table as a symlink to its
    first version dir, each stored once (no plain table dir, no second
    version, no leftover build dir). So a scan planned on the fresh index
    still reads its files after the index's first upsert: the upsert
    swaps versions instead of renaming the directory the scan listed."""
    out = str(tmp_path / "idx")
    docs = ingest_bucketed(corpus_df(spark, 60), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    tables = ["docs", "doc_lens", "stats", "term_stats"] + [
        f"{sub}/bucket={b}" for sub in ("postings", "segments") for b in range(2)
    ]
    for t in tables:
        path = os.path.join(out, t)
        assert os.path.islink(path), t
        vroot = _versions_root(path)
        assert os.listdir(vroot) == ["v000000001"], t
        assert os.path.realpath(path) == os.path.join(os.path.realpath(vroot), "v000000001")
    assert sorted(os.listdir(os.path.join(out, "postings"))) == [
        ".bucket=0.versions", ".bucket=1.versions", "bucket=0", "bucket=1",
    ]

    pinned = read_table(spark, out, "docs")
    n_before = pinned.count()
    _upsert_wave(spark, out, 0)
    assert pinned.count() == n_before == 60


def test_reader_loops_during_repeated_upsert_swaps(spark, tmp_path):
    """A Spark reader looping over the index tables while upserts
    repeatedly swap them underneath never hits an unhandled error, and
    each observed snapshot is internally sane."""
    out = str(tmp_path / "idx")
    docs = ingest_bucketed(corpus_df(spark, 120), n_buckets=1)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)

    errors = []
    reads = {"n": 0}
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                n_docs = read_table(spark, out, "docs").count()
                n_lens = read_table(spark, out, "doc_lens").count()
                load_segments(spark, out).select("term").limit(5).collect()
                assert n_docs > 0 and n_lens > 0
                reads["n"] += 1
            except Exception as e:  # noqa: BLE001 - the test IS the net
                errors.append(repr(e))
                return

    t = threading.Thread(target=reader)
    t.start()
    try:
        for wave in range(3):
            _upsert_wave(spark, out, wave)
    finally:
        time.sleep(0.2)  # let the reader catch at least one post-swap read
        stop.set()
        t.join()
    assert errors == []
    assert reads["n"] >= 3  # the loop genuinely overlapped the swaps
