"""Concurrent-writer conflict detection on the index directory.

The parquet/manifest emulation mutates tables in place, so it admits ONE
writer per index: a live concurrent writer must be refused loudly
(ConcurrentWriteError), a dead one's lock must be broken so kill-resume
keeps working, and a clean python failure (BuildInterrupted) must release
the lock so the documented resume path stays a plain re-call."""

import json
import os
import subprocess
import sys
import textwrap

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.corpus import corpus_df, ingest_bucketed, ingest_documents_df
from pyspark_codesearch.lineage import (
    BuildInterrupted,
    ConcurrentWriteError,
    build_index_resumable,
    delete_from_index,
    upsert_index,
    writer_lock,
)


def _dead_pid() -> int:
    p = subprocess.Popen(["true"])
    p.wait()  # reaped: os.kill(pid, 0) now raises ProcessLookupError
    return p.pid


def _plant_lock(out_dir: str, pid: int) -> str:
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "_writer.lock")
    with open(path, "w") as f:
        json.dump({"pid": pid, "what": "test", "ts": 0.0}, f)
    return path


def _tiny_docs(spark):
    return ingest_bucketed(corpus_df(spark, 20, seed=3), n_buckets=1).cache()


def test_live_holder_refused_before_any_mutation(spark, tmp_path):
    # our own pid is definitionally alive; no index needs to exist because
    # the lock is taken before recovery/fingerprinting touches anything
    out = str(tmp_path / "ix")
    _plant_lock(out, os.getpid())
    delta = ingest_documents_df(
        spark.createDataFrame([(1, "conflict probe scan")], "doc_id long, text string")
    )
    with pytest.raises(ConcurrentWriteError, match="live pid"):
        upsert_index(spark, out, delta)
    with pytest.raises(ConcurrentWriteError, match="live pid"):
        build_index_resumable(_tiny_docs(spark), out, n_buckets=2, salt_range=32)
    assert os.path.exists(os.path.join(out, "_writer.lock")), (
        "a refused writer must not release the holder's lock"
    )


def test_stale_lock_broken_then_released(spark, tmp_path):
    out = str(tmp_path / "ix")
    docs = _tiny_docs(spark)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    _plant_lock(out, _dead_pid())  # simulates a SIGKILLed writer
    delete_from_index(spark, out, [1])
    assert not os.path.exists(os.path.join(out, "_writer.lock"))
    remaining = spark.read.parquet(f"{out}/docs").filter(F.col("doc_id") == 1).count()
    assert remaining == 0


def test_torn_lock_treated_as_stale(spark, tmp_path):
    # a writer killed mid-write of the lock file itself leaves garbage
    out = str(tmp_path / "ix")
    docs = _tiny_docs(spark)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "_writer.lock"), "w") as f:
        f.write('{"pid": 12')
    delete_from_index(spark, out, [2])
    assert not os.path.exists(os.path.join(out, "_writer.lock"))


def test_injected_failure_releases_lock_and_resume_succeeds(spark, tmp_path):
    out = str(tmp_path / "ix")
    docs = _tiny_docs(spark)
    build_index_resumable(docs, out, n_buckets=2, salt_range=32)
    delta = ingest_documents_df(
        spark.createDataFrame(
            [(900001, "upserted replacement scan merge")], "doc_id long, text string"
        )
    ).withColumn("lang", F.lit("python"))
    with pytest.raises(BuildInterrupted):
        upsert_index(spark, out, delta, fail_after_units=1)
    assert not os.path.exists(os.path.join(out, "_writer.lock")), (
        "a clean python failure is not a crash: mutation stopped, so the "
        "lock must release and the resume path must not need a lock break"
    )
    res = upsert_index(spark, out, delta)
    assert res["executed_units"] > 0
    assert not os.path.exists(os.path.join(out, "_writer.lock"))


def test_writer_lock_is_exclusive_within_a_process(tmp_path):
    out = str(tmp_path / "ix")
    with writer_lock(out, "outer"):
        with pytest.raises(ConcurrentWriteError):
            with writer_lock(out, "inner"):
                pass
    assert not os.path.exists(os.path.join(out, "_writer.lock"))


_REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize(
    "payload",
    ['{"what": "no pid key"}', '{"pid": "not-a-number"}', '{"pid": -1}',
     '{"pid": 0}', "[1, 2, 3]"],
)
def test_malformed_claim_treated_as_stale(tmp_path, payload):
    # a syntactically valid lock file missing/garbling the pid must fall
    # into the stale path, not raise KeyError/ValueError out of writer_lock
    out = str(tmp_path / "ix")
    os.makedirs(out)
    with open(os.path.join(out, "_writer.lock"), "w") as f:
        f.write(payload)
    with writer_lock(out, "over-malformed"):
        pass
    assert not os.path.exists(os.path.join(out, "_writer.lock"))


def test_flock_holder_refused_then_sigkill_auto_releases(tmp_path):
    # the kernel, not pid parsing, arbitrates: a live flock holder in
    # another process is refused even mid-claim-write, and SIGKILLing it
    # releases the lock with no stale-break step (the claim file left
    # behind names a dead pid and is overwritten)
    out = str(tmp_path / "ix")
    script = textwrap.dedent(
        """
        import sys, time
        sys.path.insert(0, sys.argv[2])
        from pyspark_codesearch.lineage import writer_lock
        with writer_lock(sys.argv[1], "hold"):
            print("HELD", flush=True)
            time.sleep(60)
        """
    )
    p = subprocess.Popen(
        [sys.executable, "-c", script, out, _REPO_ROOT], stdout=subprocess.PIPE
    )
    try:
        assert p.stdout.readline().startswith(b"HELD")
        with pytest.raises(ConcurrentWriteError):
            with writer_lock(out, "contender"):
                pass
        assert os.path.exists(os.path.join(out, "_writer.lock")), (
            "a refused writer must not disturb the holder's lock file"
        )
    finally:
        p.kill()
        p.wait()
    with writer_lock(out, "after-kill"):
        pass
    assert not os.path.exists(os.path.join(out, "_writer.lock"))


def test_concurrent_racers_admit_exactly_one_writer(tmp_path):
    # the TOCTOU: under the old unlink-then-O_EXCL stale break,
    # racer A's delayed unlink could delete racer B's freshly acquired
    # LIVE lock, admitting two writers. Hammer the lock from 6 processes
    # (starting from a planted dead-pid claim); every holder plants a
    # marker and asserts it is alone. Any overlap exits 2.
    out = str(tmp_path / "ix")
    _plant_lock(out, _dead_pid())
    script = textwrap.dedent(
        """
        import os, sys, time
        sys.path.insert(0, sys.argv[2])
        from pyspark_codesearch.lineage import writer_lock, ConcurrentWriteError
        out = sys.argv[1]
        held = 0
        for _ in range(40):
            try:
                with writer_lock(out, "race"):
                    me = os.path.join(out, "holder_%d" % os.getpid())
                    open(me, "w").close()
                    others = [n for n in os.listdir(out)
                              if n.startswith("holder_")]
                    time.sleep(0.003)
                    os.unlink(me)
                    if others != ["holder_%d" % os.getpid()]:
                        print("OVERLAP", others, flush=True)
                        sys.exit(2)
                    held += 1
            except ConcurrentWriteError:
                time.sleep(0.001)
        print("OK", held)
        sys.exit(0)
        """
    )
    procs = [
        subprocess.Popen(
            [sys.executable, "-c", script, out, _REPO_ROOT],
            stdout=subprocess.PIPE,
        )
        for _ in range(6)
    ]
    outs = [p.communicate()[0] for p in procs]
    assert all(p.returncode == 0 for p in procs), outs
    total_held = sum(int(o.split()[1]) for o in outs)
    assert total_held >= 6, (total_held, outs)  # the lock does admit writers
