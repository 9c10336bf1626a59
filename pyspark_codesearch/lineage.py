"""Checkpoint-resumable index writer with per-unit lineage + metrics.

The reference's resumability is ad-hoc (resume-from-paper-id loop,
ingest_papers.py:491-497; skip-if-exists, full_pipeline.py:88-89;
deterministic ids => idempotent upsert, es_indexer.py:176-179). Here it
is structural (SURVEY §2.10 / §7 step 8). One writer has two entries
that run the same stages; a build is the all-buckets case of an
upsert's bucket rewrite:

  stage      build_index_resumable  upsert_index
  plan       -                      upsert_plan: affected buckets
  docs       docs, quarantine       upsert_docs        (_publish_docs)
  postings   postings               upsert_postings    (_publish_postings)
  segments   segments/bucket=N      segments/bucket=N  (_rebuild_segments)

:func:`_publish_docs` swaps in the docs table and derives doc_lens and
stats from it. :func:`_publish_postings` stages the new content of the
buckets it is given in one partitioned write, recounts their terms' df
into term_stats and renames each bucket into its next version: a build
gives every bucket, an upsert only those its delta touches.
:func:`_rebuild_segments` re-encodes those buckets' segments.

Every unit commits (a) its output, (b) a manifest JSON file (atomic
tmp+rename) carrying an input fingerprint, and (c) a row in the
_metrics table (unit, rows, wall_ms, fingerprint). :class:`_Units`
skips any unit whose manifest exists with a matching fingerprint — a
killed build resumes where it stopped and produces output identical to
an uninterrupted run (pinned by tests/test_lineage.py).

Term-hash bucketing doubles as the static pruning story at scale: a
query's terms map to buckets, so query-time scans touch only those
bucket directories (partition pruning), the DataFrame analogue of a term
dictionary seek. The driver answers that routing itself: Spark's
``hash`` is reproduced in Python (:func:`spark_string_hash`, pinned
equal to ``F.pmod(F.hash("term"), n)`` by tests/test_lineage.py), and
the tables whose columns the writer fixes are read with their declared
schema (:data:`TABLE_SCHEMAS`), so opening a request's scans runs no
Spark job.
"""

from __future__ import annotations

import fcntl
import hashlib
import json
import os
import re
import shutil
import struct
import time
from contextlib import contextmanager as _contextmanager
from functools import reduce

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .analysis import tokens_col
from .indexing import (
    SEGMENT_SCHEMA,
    CorpusStats,
    build_postings_with_dl,
    build_segments,
    build_term_stats,
    corpus_stats,
)
from .operators.merge import merge_upsert
from .session import local_frame

N_BUCKETS = 8

# The schema of every table whose columns the writer fixes, keyed by the
# table's name up to the first "/" (segments/bucket=N -> segments).
# read_table declares it, so planning a scan reads no parquet footer (a
# Spark job each); the writers conform to it and
# tests/test_upsert_index.py pins it equal to what Spark infers from the
# files. docs and quarantine carry the ingest's columns and are inferred.
TABLE_SCHEMAS = {
    "segments": SEGMENT_SCHEMA,
    "postings": "term string, doc_id long, dl int, tf int",
    "doc_lens": "doc_id long, doc_len int",
    "term_stats": "term string, df long",
    "stats": "n_docs long, avgdl double",
}


class BuildInterrupted(RuntimeError):
    pass


class ConcurrentWriteError(RuntimeError):
    """Another LIVE writer holds this index directory's writer lock."""


def _pid_alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        return True  # exists, owned by someone else
    return True


@_contextmanager
def writer_lock(out_dir: str, what: str = "write"):
    """Single-writer mutual exclusion for one index directory.

    The parquet/manifest emulation mutates tables IN PLACE (staged
    per-bucket swaps), so unlike Iceberg — where racing writers stage
    independent snapshots and only a metadata-pointer compare-and-swap
    picks the winner, the loser retrying harmlessly — a second LIVE
    writer here would corrupt shared state (e.g. two writers picking the
    same next version dir, or one's retention pass deleting the other's
    in-flight version). The honest single-host
    analogue of the metastore CAS is this lock on
    ``{out_dir}/_writer.lock``.

    Arbitration is a kernel ``flock(LOCK_EX | LOCK_NB)`` on the lock
    file, NOT existence of the file: the kernel picks exactly one winner
    among any number of racers and releases the lock automatically when
    the holder dies, so there is no unlink-based "stale break" step and
    therefore no window in which one racer's delayed unlink can delete
    another racer's freshly acquired live lock (the TOCTOU the previous
    O_EXCL+unlink protocol had). After flock succeeds we verify the path
    still names the locked inode (a releasing writer unlinks the file
    while still holding the lock; a lock acquired on that orphaned inode
    is not the lock) and retry the open on mismatch.

    The lock file's JSON payload (pid, what, ts) is a secondary CLAIM,
    kept for diagnostics and for pre-flock crash files: a pre-existing
    payload naming a LIVE pid is honored even if unflocked (refuse; pid
    reuse then fails in the SAFE direction — spurious refusal, never
    corruption), while a dead/garbled payload is simply overwritten —
    crash RECOVERY stays the manifest layer's job
    (_check_no_inprogress_upsert and unit fingerprints run after acquisition
    exactly as before, so kill-and-resume semantics are unchanged).

    - live holder (flocked, or live-pid claim) -> ConcurrentWriteError;
    - dead holder -> kernel already released (or the claim pid is dead):
      acquisition proceeds;
    - released in a ``finally`` (a clean python exception is not a
      crash: mutation has stopped, manifests make resumption safe); the
      file is unlinked BEFORE the flock drops so no later flock on the
      same inode can pass the path-verify.

    Declared limits (ARCHITECTURE §6): flock + pid liveness are
    host-local — right for local[*] and one driver per index, while a
    multi-driver deployment is exactly where the real catalog's CAS
    takes over. flock also conflicts across file descriptors within one
    process, so nested writer_lock on the same dir refuses (wanted).
    """
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, "_writer.lock")

    def refuse(detail: str):
        raise ConcurrentWriteError(
            f"{out_dir} is being written by {detail}: the in-place emulation "
            "admits ONE writer per index — retry after it finishes (a real "
            "catalog would resolve this race with a metadata compare-and-swap "
            "instead)"
        )

    fd = None
    try:
        while True:
            fd = os.open(path, os.O_CREAT | os.O_RDWR)
            try:
                fcntl.flock(fd, fcntl.LOCK_EX | fcntl.LOCK_NB)
            except BlockingIOError:
                holder = _read_claim(fd)  # best-effort, for the message
                os.close(fd)
                fd = None
                refuse(
                    f"a live flock holder (pid {holder.get('pid', '?')}, "
                    f"{holder.get('what', '?')} since {holder.get('ts', '?')})"
                )
            try:
                same_inode = os.stat(path).st_ino == os.fstat(fd).st_ino
            except FileNotFoundError:
                same_inode = False
            if same_inode:
                break
            os.close(fd)  # locked an orphaned inode mid-release: retry
            fd = None
        holder = _read_claim(fd)
        pid = holder.get("pid")
        try:
            pid = int(pid) if pid is not None else None
        except (TypeError, ValueError):
            pid = None  # malformed claim: stale, overwrite
        if pid is not None and pid <= 0:
            pid = None  # kill(0|-pgid, 0) probes groups, not a process
        if pid is not None and _pid_alive(pid):
            # unflocked file claiming a live pid (planted, or pid reuse):
            # honor the claim — refusal is safe, corruption is not. Do
            # NOT unlink: the claim is not ours to break.
            refuse(f"live pid {pid} ({holder.get('what', '?')} since "
                   f"{holder.get('ts', '?')}, claim file without flock)")
        os.ftruncate(fd, 0)
        # rewind: _read_claim left the offset at EOF, and writing there
        # after the truncate would NUL-prefix the payload — later
        # _read_claim calls would parse {} and degrade the live-pid
        # refusal diagnostics to 'pid ?' (lock safety itself is flock's)
        os.lseek(fd, 0, os.SEEK_SET)
        os.write(fd, json.dumps(
            {"pid": os.getpid(), "what": what, "ts": time.time()}
        ).encode())
        try:
            yield
        finally:
            try:
                os.unlink(path)  # before the flock drops (see docstring)
            except FileNotFoundError:
                pass
    finally:
        if fd is not None:
            os.close(fd)  # drops the flock


def _read_claim(fd: int) -> dict:
    """Best-effort parse of a lock file's JSON claim via an open fd."""
    try:
        os.lseek(fd, 0, os.SEEK_SET)
        raw = os.read(fd, 4096)
        holder = json.loads(raw.decode("utf-8", "replace"))
        return holder if isinstance(holder, dict) else {}
    except (OSError, ValueError):
        return {}


def split_quarantine(docs: DataFrame, expected_sha_col: str | None = None):
    """S8 sink-failure quarantine (reference ingest_papers.py:513-526
    collects per-paper failures into a failed list; SURVEY §2.1 S8
    prescribes a per-partition error quarantine table).

    Returns (valid, quarantined) where quarantined carries a ``reason``:
    null doc_id, null/empty content, or (when ``expected_sha_col`` is
    given) a content-sha mismatch — the north rule's per-row sha256
    invariant enforced at ingest. Pure column expressions: the split is
    two filters over one scan, no shuffle, no driver round-trip."""
    reason = F.when(F.col("doc_id").isNull(), F.lit("null_doc_id")).when(
        F.col("content").isNull() | (F.length("content") == 0), F.lit("empty_content")
    )
    if expected_sha_col is not None and expected_sha_col in docs.columns:
        reason = reason.when(
            F.col(expected_sha_col) != F.sha2(F.col("content"), 256),
            F.lit("sha_mismatch"),
        )
    flagged = docs.withColumn("_qreason", reason)
    valid = flagged.filter(F.col("_qreason").isNull()).drop("_qreason")
    quarantined = flagged.filter(F.col("_qreason").isNotNull()).withColumnRenamed(
        "_qreason", "reason"
    )
    return valid, quarantined


def _manifest_dir(out_dir: str) -> str:
    return os.path.join(out_dir, "_lineage")


def _manifest_path(out_dir: str, unit: str) -> str:
    return os.path.join(_manifest_dir(out_dir), f"{unit.replace('/', '__')}.json")


def unit_done(out_dir: str, unit: str, fingerprint: str) -> bool:
    p = _manifest_path(out_dir, unit)
    if not os.path.exists(p):
        return False
    with open(p) as f:
        return json.load(f).get("input_fingerprint") == fingerprint


def commit_unit(
    out_dir: str,
    unit: str,
    fingerprint: str,
    rows: int,
    wall_ms: float,
    extra: dict | None = None,
) -> None:
    os.makedirs(_manifest_dir(out_dir), exist_ok=True)
    rec = {
        "unit": unit,
        "input_fingerprint": fingerprint,
        "rows": rows,
        "wall_ms": round(wall_ms, 1),
    }
    if extra:
        rec.update(extra)
    tmp = _manifest_path(out_dir, unit) + ".tmp"
    with open(tmp, "w") as f:
        json.dump(rec, f)
    os.replace(tmp, _manifest_path(out_dir, unit))  # atomic commit


def read_metrics(spark: SparkSession, out_dir: str) -> DataFrame:
    recs = []
    mdir = _manifest_dir(out_dir)
    for fn in sorted(os.listdir(mdir)):
        if fn.endswith(".json"):
            with open(os.path.join(mdir, fn)) as f:
                r = json.load(f)
            recs.append(
                {k: r.get(k) for k in ("unit", "input_fingerprint", "rows", "wall_ms")}
            )
    return spark.createDataFrame(
        recs, "unit string, input_fingerprint string, rows long, wall_ms double"
    )


class _Units:
    """The unit runner of both writers. A unit whose manifest records
    the same input fingerprint is skipped; any other runs, and its
    manifest commits after its output. ``fail_after`` injects a crash
    after that many newly-executed units (tests only)."""

    def __init__(self, spark: SparkSession, out_dir: str, fail_after: int | None):
        self.spark, self.out_dir, self.fail_after = spark, out_dir, fail_after
        self.executed = 0

    def run(self, unit: str, fingerprint: str, fn, extra: dict | None = None) -> None:
        """Run ``fn`` (it returns the unit's row count) unless the unit
        is done. ``extra`` joins the manifest after ``fn`` ran, so ``fn``
        may fill it in."""
        if unit_done(self.out_dir, unit, fingerprint):
            return
        if self.fail_after is not None and self.executed >= self.fail_after:
            raise BuildInterrupted(f"injected failure after {self.executed} units")
        t0 = time.perf_counter()
        rows = fn()
        commit_unit(
            self.out_dir, unit, fingerprint, rows, (time.perf_counter() - t0) * 1000, extra
        )
        self.executed += 1


def _fp_agg(df: DataFrame) -> list[str]:
    """Order-independent fingerprint of a frame: its row count and the
    sum of ONE xxhash64 per row over every column, taken in name order.
    One hash per row commits to how the columns pair up (per-column sums
    would collide for two frames with swapped contents), and summing
    (decimal(38,0) first, since ANSI mode raises on long overflow) lets
    the driver collect two numbers, never a list of ids or hashes."""
    r = df.agg(
        F.count(F.lit(1)), F.sum(F.xxhash64(*sorted(df.columns)).cast("decimal(38,0)"))
    ).collect()[0]
    return [str(x) for x in r]


def _bucket_of(n_buckets: int):
    """The term-hash bucket of the ``term`` column
    (:func:`buckets_for_terms` computes the same on the driver)."""
    return F.pmod(F.hash("term"), F.lit(n_buckets))


def _publish_docs(out_dir: str, frame: DataFrame) -> int:
    """Swap in ``frame`` as the docs table, then derive doc_lens and
    stats from the published table. Returns the number of docs."""
    spark = frame.sparkSession
    _swap_dir(f"{out_dir}/docs", lambda p: frame.write.parquet(p))
    docs = read_table(spark, out_dir, "docs")
    _swap_dir(
        f"{out_dir}/doc_lens", lambda p: _conform(docs, "doc_lens").write.parquet(p)
    )
    st = corpus_stats(docs)
    _swap_dir(
        f"{out_dir}/stats",
        lambda p: local_frame(spark, TABLE_SCHEMAS["stats"], [tuple(st)]).write.parquet(p),
    )
    return st.n_docs


# the staging dir of _publish_postings, relative to the index, and its
# rows: the postings and their bucket. Its name starts with neither "."
# nor "_" (Hadoop's listing would call it hidden and log "All paths were
# ignored" on every read back) and matches no `bucket=*` glob
_STAGED_POSTINGS = "postings/staging"
_STAGED_POSTINGS_SCHEMA = TABLE_SCHEMAS["postings"] + ", bucket int"


def _publish_postings(
    out_dir: str, postings: DataFrame, buckets, n_buckets: int
) -> int:
    """Publish ``postings`` as the whole new content of ``buckets``.

    One partitioned write stages them in ``postings/staging``, read back
    with its declared schema. term_stats keeps the rows of the other
    buckets and recounts the staged ones, which is exact because all of
    a term's postings live in its bucket; a build gives every bucket
    and reads no old term_stats. Each bucket dir is then renamed (not
    copied) into its next version; a bucket no term hashes into becomes
    an empty table. Returns the number of postings staged."""
    spark = postings.sparkSession
    staged = os.path.join(out_dir, _STAGED_POSTINGS)
    (
        _conform(postings, "postings")
        .withColumn("bucket", _bucket_of(n_buckets))
        .repartition("bucket")
        .write.mode("overwrite")
        .partitionBy("bucket")
        .parquet(staged)
    )
    written = spark.read.schema(_STAGED_POSTINGS_SCHEMA).parquet(staged)
    term_stats = build_term_stats(written)
    if len(buckets) < n_buckets:
        kept = read_table(spark, out_dir, "term_stats").filter(
            ~_bucket_of(n_buckets).isin(list(buckets))
        )
        term_stats = kept.unionByName(term_stats)
    _swap_dir(f"{out_dir}/term_stats", lambda p: term_stats.write.parquet(p))
    n = written.count()
    empty = local_frame(spark, TABLE_SCHEMAS["postings"])

    def publish(p, src):
        if os.path.isdir(src):
            os.rename(src, p)
        else:
            empty.write.parquet(p)

    for b in buckets:
        src = os.path.join(staged, f"bucket={b}")
        _swap_dir(f"{out_dir}/postings/bucket={b}", lambda p: publish(p, src))
    shutil.rmtree(staged)
    return n


def _rebuild_segments(units: _Units, buckets, salt_range: int, fingerprint: str) -> CorpusStats:
    """Re-encode ``buckets``' segments from their published postings
    with the current stats, one ``segments/bucket=N`` unit each: the
    build and the upsert name it alike, so impact_scale() sees one
    manifest per bucket. The manifest records built_avgdl — the avgdl
    baked into the bucket's block_max_impact values, from which
    impact_scale() derives a sound pruning bound after an upsert shifts
    it — and the salt_range. Returns the stats."""
    spark, out_dir = units.spark, units.out_dir
    st = read_table(spark, out_dir, "stats").collect()[0]
    stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
    for b in buckets:

        def do_bucket(b=b):
            part = read_table(spark, out_dir, f"postings/bucket={b}")
            segs = build_segments(part, stats, salt_range=salt_range)
            # versioned swap, NOT mode("overwrite"): overwrite deletes the
            # live dir before writing — a racing reader would see ENOENT
            # or a partial bucket
            _swap_dir(f"{out_dir}/segments/bucket={b}", lambda p: segs.write.parquet(p))
            return read_table(spark, out_dir, f"segments/bucket={b}").count()

        units.run(
            f"segments/bucket={b}",
            fingerprint,
            do_bucket,
            extra={"built_avgdl": stats.avgdl, "salt_range": salt_range},
        )
    return stats


def build_index_resumable(
    docs: DataFrame,
    out_dir: str,
    *,
    n_buckets: int = N_BUCKETS,
    salt_range: int = 1 << 20,
    fail_after_units: int | None = None,
    expected_sha_col: str | None = None,
) -> dict:
    """Build the full index under out_dir, unit by unit, skipping
    already-committed units, under the index :func:`writer_lock` (a
    live concurrent writer — another build or an upsert on the same
    out_dir — raises ConcurrentWriteError instead of corrupting in-place
    state). ``fail_after_units`` injects a crash after N newly-executed
    units (tests only).

    Poison rows (null id / empty content / sha mismatch when
    ``expected_sha_col`` is set) are diverted to ``{out_dir}/quarantine``
    with a reason column (S8); the build completes on the valid rows and
    the quarantine row count is a lineage unit like any other.

    Fingerprints: docs and quarantine fingerprint every column the docs
    table stores (:func:`_fp_agg`), postings adds n_buckets and the
    segments buckets add the salt range — a change in input invalidates
    every unit downstream of it.
    """
    with writer_lock(out_dir, "build"):
        spark = docs.sparkSession
        units = _Units(spark, out_dir, fail_after_units)
        docs, quarantined = split_quarantine(docs, expected_sha_col)
        stored = docs.drop("tokens")
        docs_fp = ":".join(_fp_agg(stored))
        units.run("docs", docs_fp, lambda: _publish_docs(out_dir, stored))

        def do_quarantine():
            q = quarantined.drop("tokens")
            q.write.mode("overwrite").parquet(f"{out_dir}/quarantine")
            return q.count()

        units.run("quarantine", docs_fp, do_quarantine)

        def do_postings():
            # cluster_by_doc=False: the rows are re-partitioned by term
            # bucket, so the doc_id exchange would be dead
            n = _publish_postings(
                out_dir, build_postings_with_dl(docs, cluster_by_doc=False),
                range(n_buckets), n_buckets,
            )
            _drop_buckets_from(out_dir, n_buckets)
            return n

        postings_fp = f"{docs_fp}:buckets={n_buckets}"
        units.run("postings", postings_fp, do_postings)
        # salt_range is part of the segments' fingerprint: a build resumed
        # with another value rebuilds every bucket instead of mixing two
        # salt layouts in one index
        stats = _rebuild_segments(
            units, range(n_buckets), salt_range, f"{postings_fp}:salt={salt_range}"
        )
    return {
        "out_dir": out_dir,
        "executed_units": units.executed,
        "n_buckets": n_buckets,
        "stats": stats,
    }


# --------------------------------------------------------------- upsert/delete
#
# Incremental re-ingest on a built index (the Iceberg MERGE/DELETE story,
# reference analogue: idempotent upsert via deterministic _ids,
# es_indexer.py:176-179, and delete-by-id, es_indexer.py:442-472):
# a changed doc's postings are REPLACED exactly once, new docs insert,
# deleted ids disappear — and only the term-hash buckets its (old + new)
# terms touch are rewritten; untouched bucket partitions keep their files
# and manifests. On a real lakehouse every _swap_dir below is one Iceberg
# copy-on-write snapshot commit.


def _drop_buckets_from(out_dir: str, n_buckets: int) -> None:
    """Remove the postings and segments buckets numbered n_buckets and
    up, symlink first, then its versions, and then the segments
    buckets' manifests: a rebuild into the same out_dir with fewer
    buckets leaves none of the old layout's behind for
    `segment_bucket_ids` or `read_metrics` to count."""
    for sub in ("postings", "segments"):
        root = os.path.join(out_dir, sub)
        if not os.path.isdir(root):
            continue
        names = os.listdir(root)
        found = (re.fullmatch(r"\.?bucket=(\d+)(\.versions)?", d) for d in names)
        for b in {int(m.group(1)) for m in found if m} - set(range(n_buckets)):
            path = os.path.join(root, f"bucket={b}")
            if os.path.lexists(path):
                os.unlink(path)
            shutil.rmtree(_versions_root(path), ignore_errors=True)
    mdir = _manifest_dir(out_dir)
    for fn in os.listdir(mdir):
        m = re.fullmatch(r"segments__bucket=(\d+)\.json", fn)
        if m and int(m.group(1)) >= n_buckets:
            os.unlink(os.path.join(mdir, fn))


def _versions_root(path: str) -> str:
    """Sibling dot-dir holding a swapped path's version directories.
    The leading dot keeps it out of Hadoop's file listing (hidden-path
    filter) and out of every `bucket=*` glob / partition discovery."""
    parent, name = os.path.split(path.rstrip("/"))
    return os.path.join(parent, f".{name}.versions")


def _next_version(vroot: str) -> str:
    taken = [
        int(d[1:]) for d in os.listdir(vroot) if d.startswith("v") and d[1:].isdigit()
    ]
    return f"v{(max(taken) + 1) if taken else 1:09d}"


def _repoint(path: str, vdir: str) -> None:
    """Atomically point `path` (a symlink) at version dir `vdir`.
    rename() over an existing symlink is atomic, so a reader resolving
    `path` ALWAYS sees a complete version — old or new, never ENOENT.
    The staging symlink lives INSIDE the hidden versions root: a name
    next to `path` (e.g. `bucket=3.lnktmp`) would transiently match
    `bucket=*` globs and corrupt partition discovery for racing readers."""
    target = os.path.relpath(vdir, os.path.dirname(path) or ".")
    tmp = os.path.join(_versions_root(path), ".lnktmp")
    try:
        os.unlink(tmp)
    except FileNotFoundError:
        pass
    os.symlink(target, tmp)
    os.rename(tmp, path)


# How long a superseded version dir stays on disk after the swap that
# superseded it. A reader whose scan resolved a version keeps its files
# for this long however many swaps run meanwhile (a reader descheduled
# mid-listing can fall several swaps behind in a burst of upserts), and
# the previous version also stays until the next swap. This is Iceberg's
# snapshot expiry by age with the last two snapshots retained; scans of
# a single-host index finish well inside it.
SUPERSEDED_GRACE_S = 300.0


def _swap_dir(path: str, write_fn) -> None:
    """Publish a table directory with reader-safe versioning.

    `path` is a SYMLINK into `.{name}.versions/vNNN`; a swap writes the
    new version dir completely, then atomically repoints the symlink
    (one rename — the path never disappears). The build publishes every
    table this way too, so a table is a symlink from its first version
    on. A superseded version dir gets its mtime set at the swap that
    supersedes it and is collected once it is the previous version no
    longer and SUPERSEDED_GRACE_S have passed since, so a reader whose
    scan already resolved an old target keeps reading real files — the
    single-host analogue of Iceberg readers pinning a snapshot until
    snapshot expiry (ARCHITECTURE §6). Readers past the grace and more
    than one swap behind are out of contract, as with expired snapshots.

    Crash windows: a crash during write_fn leaves an unreferenced
    version dir (the unit manifest is uncommitted, so the unit reruns
    and retention collects the orphan after the grace); a crash around
    _repoint leaves at worst a .lnktmp, which the next _repoint
    replaces."""
    if os.path.lexists(path) and not os.path.islink(path):
        raise ValueError(
            f"{path} is a plain directory, not a versioned table: the index "
            "was written before builds published versions; delete the index "
            "directory and rebuild it"
        )
    vroot = _versions_root(path)
    os.makedirs(vroot, exist_ok=True)
    prev = os.path.realpath(path) if os.path.islink(path) else None
    vdir = os.path.join(vroot, _next_version(vroot))
    write_fn(vdir)
    keep = {os.path.basename(vdir)}
    if prev is not None:
        os.utime(prev)  # its mtime now records when it was superseded
        keep.add(os.path.basename(prev))
    _repoint(path, vdir)
    now = time.time()
    for d in os.listdir(vroot):
        v = os.path.join(vroot, d)
        if (
            d.startswith("v")
            and d not in keep
            and now - os.stat(v).st_mtime >= SUPERSEDED_GRACE_S
        ):
            shutil.rmtree(v, ignore_errors=True)


def impact_scale(out_dir: str, current_avgdl: float) -> float:
    """Sound block-max pruning bound after upserts shifted corpus avgdl.

    Stored block_max_impact values were computed with each bucket's
    built_avgdl. For the true impact under avgdl_now:
    tf/(tf+c_now) <= tf/(tf+c_built) * (c_built/c_now) and
    c_built/c_now <= avgdl_now/avgdl_built, so scaling every stored bound
    by max(1, avgdl_now/avgdl_built) keeps MaxScore pruning lossless
    (scores themselves are always computed exactly from current lens).

    Raises ValueError when a segments manifest lacks built_avgdl (an
    index built before that field existed): silently returning 1.0 there
    would make MaxScore pruning UNSOUND after an avgdl-increasing upsert
    — rebuild the bucket (or the index) to restore the invariant."""
    scale = 1.0
    for fn, rec in _segment_manifests(out_dir):
        built = rec.get("built_avgdl")
        if not built:
            raise ValueError(
                f"segments manifest {fn} lacks built_avgdl — cannot derive "
                "a sound MaxScore bound; rebuild this bucket before "
                "relying on impact-scaled pruning"
            )
        scale = max(scale, float(current_avgdl) / float(built))
    return scale


def salt_range_of(out_dir: str) -> int:
    """The doc-id salt range the index's segments were built with.

    It is a property of the built index, not a query option: scoring or
    rewriting a bucket with any other value keys the doc_lens side by the
    wrong salts and silently drops documents from the top-k. Raises
    ValueError when a segments manifest lacks the field or the buckets
    disagree — rebuild the index then."""
    found = set()
    for fn, rec in _segment_manifests(out_dir):
        if not rec.get("salt_range"):
            raise ValueError(f"segments manifest {fn} lacks salt_range; rebuild the index")
        found.add(int(rec["salt_range"]))
    if len(found) != 1:
        raise ValueError(f"segments of {out_dir} record salt ranges {sorted(found)}")
    return found.pop()


def _segment_manifests(out_dir: str):
    """(file name, record) of each live segments bucket's manifest."""
    for b in segment_bucket_ids(out_dir):
        p = _manifest_path(out_dir, f"segments/bucket={b}")
        with open(p) as f:
            yield os.path.basename(p), json.load(f)


def upsert_index(
    spark: SparkSession,
    out_dir: str,
    delta_docs: DataFrame | None = None,
    *,
    deleted_ids: list[int] | DataFrame | None = None,
    fail_after_units: int | None = None,
) -> dict:
    """Apply a keyed upsert (+ deletes) to a built index, incrementally,
    under the index :func:`writer_lock`.

    ``delta_docs`` must be in the canonical ingested shape (doc_id,
    content, sha256, tokens, doc_len, ...) with doc_ids equal to the base
    rows they replace (new ids = inserts). Units, each lineage-committed
    under the delta's fingerprint (:func:`_fp_agg` over every column the
    docs table stores, plus the deleted ids) so a killed upsert resumes
    idempotently:

    1. ``upsert_plan``: the affected term-hash buckets — those of the
       old versions' terms (re-tokenized from the stored docs of the
       upserted and deleted ids) and of the delta's terms — and the
       count of those distinct terms, from one aggregate, kept in the
       manifest. It commits BEFORE the docs swap: a resume after the
       swap could not recompute it from the replaced docs.
    2. ``upsert_docs``: base MERGE delta MINUS deletes, through
       :func:`_publish_docs` (doc_lens and stats follow the new docs).
    3. ``upsert_postings``: each affected bucket's new content — its
       rows minus the upserted and deleted ids, plus the delta's
       postings — through :func:`_publish_postings`, which also recounts
       the df of those buckets' terms. A rerun after a crash between two
       bucket renames rewrites the same content.
    4. ``segments/bucket=N`` per affected bucket, through
       :func:`_rebuild_segments`, with CURRENT stats and the index's own
       salt range (:func:`salt_range_of`); manifests record built_avgdl
       for impact_scale().

    Guards:
    - a doc_id present in BOTH delta_docs and deleted_ids raises
      ValueError (applying both is ambiguous, and silently doing so would
      leave ghost postings whose doc has no doc_lens row);
    - an INTERRUPTED prior upsert with a different fingerprint raises
      RuntimeError: its docs table may already be swapped while postings
      are stale, and a different delta would silently orphan the
      interrupted delta's stale postings forever — resume the prior
      upsert (same delta) to completion first.

    ``deleted_ids`` accepts a python list (typical delete sets) or a
    single-column DataFrame of doc_ids (scale path — never collected).
    Query-side note: driver-resident state (TermDictionary, cached lens)
    snapshots the pre-upsert index; invalidate()/rebuild it afterwards.
    """
    with writer_lock(out_dir, "upsert"):
        n_buckets = n_buckets_of(out_dir)
        salt_range = salt_range_of(out_dir)
        base_docs = read_table(spark, out_dir, "docs")

        if deleted_ids is None:
            dels_df = None
        elif isinstance(deleted_ids, DataFrame):
            dels_df = deleted_ids.toDF("doc_id").select(F.col("doc_id").cast("long"))
        else:
            dels_df = (
                local_frame(spark, "doc_id long", [(int(i),) for i in deleted_ids])
                if deleted_ids
                else None
            )

        if delta_docs is None:
            delta_plain = None
        else:
            # align to the stored docs schema; columns the delta doesn't
            # carry (e.g. repo/path metadata on a content-only re-ingest)
            # become NULL
            base_types = dict(base_docs.dtypes)
            d = delta_docs.drop("tokens")
            delta_plain = d.select(
                *[
                    (F.col(c) if c in d.columns else F.lit(None).cast(base_types[c])).alias(c)
                    for c in base_docs.columns
                ]
            )

        # the fingerprint covers the content of the upsert, not of the base
        parts = {
            name: _fp_agg(df)
            for name, df in (("delta", delta_plain), ("dels", dels_df))
            if df is not None
        }
        if all(int(p[0]) == 0 for p in parts.values()):
            return {"out_dir": out_dir, "affected_buckets": [], "executed_units": 0}
        delta_fp = hashlib.sha256(json.dumps(parts, sort_keys=True).encode()).hexdigest()[:16]

        # refuse to start a DIFFERENT upsert while a prior one is interrupted
        _check_no_inprogress_upsert(out_dir, delta_fp)

        # upsert+delete of the same id in one call is ambiguous — and
        # applying both would re-append the deleted doc's postings after
        # its doc_lens row is gone (ghost postings that corrupt scoring).
        # Refuse loudly.
        if delta_plain is not None and dels_df is not None:
            overlap = (
                delta_plain.select("doc_id")
                .join(F.broadcast(dels_df), "doc_id", "left_semi")
                .limit(1)
                .count()
            )
            if overlap:
                raise ValueError(
                    "doc_ids appear in BOTH delta_docs and deleted_ids — split the "
                    "call (delete first, then upsert) to make the intent explicit"
                )

        # affected ids side table (delta keys ∪ deletes) — broadcast into
        # the anti-joins; realistic deltas (1e4-1e6 ids) broadcast fine and
        # Catalyst plan size stays O(1), unlike isin(...) literal lists
        ids_df = F.broadcast(
            reduce(
                DataFrame.union,
                [f.select("doc_id") for f in (delta_plain, dels_df) if f is not None],
            ).distinct()
        )
        units = _Units(spark, out_dir, fail_after_units)

        found: dict = {}

        def do_plan():
            terms = base_docs.join(ids_df, "doc_id", "left_semi").select(
                F.explode(tokens_col("content")).alias("term")
            )
            if delta_docs is not None:
                terms = terms.union(delta_docs.select(F.explode("tokens").alias("term")))
            r = terms.agg(
                F.count_distinct("term"), F.collect_set(_bucket_of(n_buckets))
            ).collect()[0]
            found["affected_buckets"] = sorted(r[1])
            return int(r[0])

        units.run("upsert_plan", delta_fp, do_plan, extra=found)
        with open(_manifest_path(out_dir, "upsert_plan")) as f:
            plan = json.load(f)
        buckets = plan["affected_buckets"]

        def do_docs():
            merged = base_docs
            if delta_plain is not None:
                merged = merge_upsert(base_docs, delta_plain, key="doc_id").drop("src")
            if dels_df is not None:
                merged = merged.join(F.broadcast(dels_df), "doc_id", "left_anti")
            # the join puts doc_id first; the table keeps its order
            return _publish_docs(out_dir, merged.select(base_docs.columns))

        units.run("upsert_docs", delta_fp, do_docs)

        def do_postings():
            part = reduce(
                DataFrame.unionByName,
                [read_table(spark, out_dir, f"postings/bucket={b}") for b in buckets],
            ).join(ids_df, "doc_id", "left_anti")
            if delta_docs is not None:
                part = part.unionByName(build_postings_with_dl(delta_docs, cluster_by_doc=False))
            return _publish_postings(out_dir, part, buckets, n_buckets)

        # an upsert that touches no term (a delete of an absent id) has no
        # bucket to rewrite
        if buckets:
            units.run("upsert_postings", delta_fp, do_postings)
        stats = _rebuild_segments(units, buckets, salt_range, delta_fp)
    return {
        "out_dir": out_dir,
        "affected_buckets": buckets,
        "affected_terms": int(plan["rows"]),
        "executed_units": units.executed,
        "stats": stats,
    }


def _check_no_inprogress_upsert(out_dir: str, delta_fp: str) -> None:
    """Refuse a different-fingerprint upsert while a prior one is
    interrupted: its docs table may already be swapped while postings are
    stale, and starting a different delta would silently discard the
    interrupted plan — the replaced docs' stale postings would then
    survive forever with no error. Resume the prior delta to completion
    (same delta_docs/deleted_ids => same fingerprint) first."""
    p = _manifest_path(out_dir, "upsert_plan")
    if not os.path.exists(p):
        return
    with open(p) as f:
        plan = json.load(f)
    prior_fp = plan.get("input_fingerprint")
    if prior_fp == delta_fp:
        return
    buckets = plan.get("affected_buckets") or []
    last = f"segments/bucket={buckets[-1]}" if buckets else "upsert_docs"
    if not unit_done(out_dir, last, prior_fp):
        raise RuntimeError(
            f"an interrupted upsert (fingerprint {prior_fp}) is in progress on "
            f"{out_dir}; resume it to completion with the SAME delta before "
            f"applying a different one (got fingerprint {delta_fp})"
        )


def delete_from_index(spark: SparkSession, out_dir: str, ids: list[int]) -> dict:
    """DELETE FROM the index by doc id — the delta-less half of
    :func:`upsert_index` (docs, postings, term_stats, segments all drop
    the rows; only the buckets holding the deleted docs' terms rewrite)."""
    return upsert_index(spark, out_dir, None, deleted_ids=ids)


def _resolve_snapshot(path: str) -> str:
    """Pin the version directory behind a swapped path.

    Spark's file listing records paths THROUGH a symlink, and executors
    re-resolve it per file — so a scan planned against `{dir}/docs` would
    chase a concurrent upsert's repoint mid-read and miss the old
    generation's files. realpath() at plan time pins the scan to the
    immutable version dir instead; `_swap_dir` retains that generation
    for SUPERSEDED_GRACE_S after it is superseded, and for one further
    swap, so the scan completes — the single-host analogue of an Iceberg
    reader pinning a snapshot until it expires."""
    return os.path.realpath(path)


def read_table(spark: SparkSession, out_dir: str, name: str) -> DataFrame:
    """Snapshot-pinned read of one index table (docs, doc_lens, stats,
    term_stats, postings/bucket=N, ...) — see :func:`_resolve_snapshot`.
    A table in :data:`TABLE_SCHEMAS` is read with its declared schema."""
    schema = TABLE_SCHEMAS.get(name.split("/", 1)[0])
    reader = spark.read if schema is None else spark.read.schema(schema)
    return reader.parquet(_resolve_snapshot(os.path.join(out_dir, name)))


def _conform(df: DataFrame, table: str) -> DataFrame:
    """``df``'s columns in the order and types ``table`` declares."""
    cols = (c.split() for c in TABLE_SCHEMAS[table].split(","))
    return df.select([F.col(name).cast(typ) for name, typ in cols])


def segment_bucket_ids(out_dir: str) -> list[int]:
    return sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(f"{out_dir}/segments")
        if d.startswith("bucket=")
    )


def load_segments(
    spark: SparkSession, out_dir: str, buckets: list[int] | None = None
) -> DataFrame:
    """Union of snapshot-pinned per-bucket scans, `bucket` column attached.

    Per-bucket reads (instead of one `bucket=*` glob) are what make the
    snapshot pinning work: each bucket dir resolves to ITS version dir at
    plan time. Bucket pruning becomes explicit path selection via
    ``buckets`` — same files skipped as Catalyst's partition pruning on
    the old glob layout, decided one level earlier."""
    segs = None
    for b in segment_bucket_ids(out_dir) if buckets is None else sorted(buckets):
        df = read_table(spark, out_dir, f"segments/bucket={b}").withColumn(
            "bucket", F.lit(b)
        )
        segs = df if segs is None else segs.unionByName(df)
    if segs is None:
        raise ValueError(f"no segment buckets under {out_dir}/segments")
    return segs


def n_buckets_of(out_dir: str) -> int:
    return len(segment_bucket_ids(out_dir))


_M32 = 0xFFFFFFFF


def _murmur3_mix(h: int, k: int) -> int:
    k = (k * 0xCC9E2D51) & _M32
    k = ((k << 15) | (k >> 17)) & _M32
    h ^= (k * 0x1B873593) & _M32
    h = ((h << 13) | (h >> 19)) & _M32
    return (h * 5 + 0xE6546B64) & _M32


def spark_string_hash(term: str) -> int:
    """Spark's ``hash(term)`` for a string, on the driver: Murmur3_x86_32
    with seed 42 over the UTF-8 bytes, 4-byte little-endian blocks, then
    Spark's legacy tail — each trailing byte sign-extended and mixed as a
    block of its own (not the standard one-block tail)."""
    data = term.encode("utf-8")
    n = len(data)
    cut = n - n % 4
    h = 42
    for (k,) in struct.iter_unpack("<I", data[:cut]):
        h = _murmur3_mix(h, k)
    for byte in data[cut:]:
        h = _murmur3_mix(h, (byte - 256 if byte > 127 else byte) & _M32)
    h ^= n
    h = ((h ^ (h >> 16)) * 0x85EBCA6B) & _M32
    h = ((h ^ (h >> 13)) * 0xC2B2AE35) & _M32
    h ^= h >> 16
    return h - (1 << 32) if h >> 31 else h


def buckets_for_terms(spark: SparkSession, terms, n_buckets: int) -> list[int]:
    """Static term->bucket pruning (the directory-level term-dictionary
    seek): which bucket partitions can possibly hold these terms.

    Computes the writers' ``pmod(hash(term), n_buckets)`` on the driver
    (Python's ``%`` of a positive modulus is Spark's ``pmod``), so no
    Spark job runs; ``spark`` is unused. tests/test_lineage.py pins the
    two equal on 10k seeded terms (every UTF-8 tail length, multi-byte
    and 4-byte characters) for several bucket counts."""
    return sorted({spark_string_hash(t) % n_buckets for t in terms})


def load_segments_for_terms(spark: SparkSession, out_dir: str, terms) -> DataFrame:
    """Segments scan pruned to the bucket DIRECTORIES the query's terms
    hash into — the scan is built from only those buckets' (snapshot-
    pinned) dirs, so untouched bucket dirs are never listed or read; the
    term IN-filter then prunes row groups inside the surviving files."""
    all_buckets = segment_bucket_ids(out_dir)
    buckets = buckets_for_terms(spark, terms, len(all_buckets))
    if not buckets:  # no terms: empty frame with the segments schema
        return load_segments(spark, out_dir, buckets=all_buckets[:1]).filter(
            F.lit(False)
        ).drop("bucket")
    return load_segments(spark, out_dir, buckets=buckets).drop("bucket")
