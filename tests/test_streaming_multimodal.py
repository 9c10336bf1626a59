"""Structured Streaming incremental index + multimodal plumbing."""

import hashlib

import pytest
from pyspark.sql import functions as F

from pyspark_codesearch.operators.multimodal import (
    extract_features,
    frame_sample_plan,
    synth_media,
)
from pyspark_codesearch.streaming import incremental_index


def test_incremental_index_exactly_once(spark, tmp_path, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    docs.filter(F.col("doc_id") < 100).write.parquet(in_dir)

    incremental_index(spark, in_dir, out_dir)
    d1 = spark.read.parquet(f"{out_dir}/docs_delta")
    assert d1.count() == 100

    # drain again with NO new files: checkpoint must prevent re-ingest
    incremental_index(spark, in_dir, out_dir)
    assert spark.read.parquet(f"{out_dir}/docs_delta").count() == 100

    # add new files -> only the delta is processed
    docs.filter((F.col("doc_id") >= 100) & (F.col("doc_id") < 150)).write.mode(
        "append"
    ).parquet(in_dir)
    incremental_index(spark, in_dir, out_dir)
    assert spark.read.parquet(f"{out_dir}/docs_delta").count() == 150
    # postings delta agrees with batch tokenizer on a sample doc
    p = spark.read.parquet(f"{out_dir}/postings_delta")
    from pyspark_codesearch.analysis import tokenize_py
    from collections import Counter

    row = docs.filter(F.col("doc_id") == 7).collect()[0]
    exp = Counter(tokenize_py(row["text"]))
    got = {
        r["term"]: r["tf"]
        for r in p.filter(F.col("doc_id") == 7).collect()
    }
    assert got == dict(exp)


def test_media_features_deterministic(spark):
    media = synth_media(spark, 32)
    feats = extract_features(media, fake_decode=True).collect()
    assert len(feats) == 32
    by_id = {r["media_id"]: r for r in feats}
    assert all(r["decode_status"] == "fake" for r in feats)
    assert all(len(r["feat"]) == 16 for r in feats)
    # sha16 matches payload hash
    payloads = {r["media_id"]: bytes(r["payload"]) for r in media.collect()}
    for mid, r in by_id.items():
        assert r["sha16"] == hashlib.sha256(payloads[mid]).hexdigest()[:16]
    # deterministic across runs
    feats2 = {r["media_id"]: r["feat"] for r in extract_features(media, fake_decode=True).collect()}
    assert all(feats2[m] == by_id[m]["feat"] for m in feats2)


def test_media_real_decode(spark):
    """PNG/PPM images, WAV audio AND animated-GIF video REALLY decode on
    executors (pure stdlib/numpy codecs); only MP4 blobs (no demuxer in
    the container) surface decoder_unavailable; features match a
    driver-side decode of the same payloads bit-for-bit."""
    from pyspark_codesearch.operators.multimodal import _real_feature

    media = synth_media(spark, 24)
    mimes = {r["media_id"]: r["mime"] for r in media.collect()}
    rows = extract_features(media).collect()
    status = {r["media_id"]: r["decode_status"] for r in rows}
    kinds = {r["media_id"]: r["kind"] for r in rows}
    for mid, k in kinds.items():
        want = "decoder_unavailable" if mimes[mid] == "video/mp4" else "ok"
        assert status[mid] == want, (mid, k, mimes[mid])
    # both video branches are present in the fixture
    assert any(k == "video" and status[m] == "ok" for m, k in kinds.items())
    assert any(k == "video" and status[m] == "decoder_unavailable" for m, k in kinds.items())
    payloads = {r["media_id"]: (r["kind"], bytes(r["payload"])) for r in media.collect()}
    for r in rows:
        if r["decode_status"] != "ok":
            continue
        kind, payload = payloads[r["media_id"]]
        want = [float(x) for x in _real_feature(kind, payload)]
        assert r["feat"] == pytest.approx(want, abs=0), r["media_id"]


def test_media_corrupt_payload_is_poison_tolerant(spark):
    """A corrupt payload yields decode_error + zero features instead of
    failing the Arrow batch (S8 at the media layer)."""
    rows = [(0, "image", bytearray(b"P6 not really an image"), "image/x-portable-pixmap", 4, 4, 22),
            (1, "audio", bytearray(b"RIFFgarbage"), "audio/wav", 0, 0, 11)]
    from pyspark_codesearch.operators.multimodal import MEDIA_SCHEMA

    media = spark.createDataFrame(rows, MEDIA_SCHEMA)
    got = {r["media_id"]: r for r in extract_features(media).collect()}
    assert got[0]["decode_status"] == "decode_error"
    assert got[1]["decode_status"] == "decode_error"
    assert all(v == 0.0 for v in got[0]["feat"] + got[1]["feat"])


def test_frame_sample_plan(spark):
    media = synth_media(spark, 30)
    frames = frame_sample_plan(media, every_n=10)
    rows = frames.collect()
    assert all("_" in r["frame_id"] for r in rows)
    videos = media.filter(F.col("kind") == "video").count()
    assert frames.select("media_id").distinct().count() == videos


def test_embed_texts_mapinpandas(spark, sf_dir):
    from pyspark_codesearch.fake_embedder import embed_py, embed_texts

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
    out = embed_texts(docs, "text").collect()
    assert len(out) == 20
    for r in out:
        assert r["embedding"] == pytest.approx(embed_py(r["text"]), abs=1e-12)
        # unit norm (or zero for token-free text)
        n = sum(x * x for x in r["embedding"])
        assert n == pytest.approx(1.0, abs=1e-9) or n == 0.0


def test_compact_delta_into_index(spark, tmp_path, sf_dir):
    """Streaming delta -> base index compaction: after draining modified
    + new docs through the stream and compacting, the index is
    rank-identical to a fresh build over the merged corpus, and
    recompacting an unchanged delta is a fingerprint no-op."""
    from pyspark_codesearch.corpus import ingest_documents_df
    from pyspark_codesearch.indexing import CorpusStats
    from pyspark_codesearch.lineage import (
        build_index_resumable,
        impact_scale,
        load_segments,
    )
    from pyspark_codesearch.streaming import compact_delta_into_index
    from pyspark_codesearch.wand import wand_topk

    raw = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(F.col("doc_id") < 120)
    base_ix = str(tmp_path / "ix")
    build_index_resumable(
        ingest_documents_df(raw), base_ix, n_buckets=4, salt_range=64
    )

    # stream a delta: 2 modified docs + 2 brand-new docs
    delta_rows = [
        (7, "compactterm900007 merge sort rewritten seven", "python", "src0", 40),
        (9, "compactterm900009 filter scan rewritten nine", "go", "src1", 40),
        (5000, "compactterm905000 new streamed doc scan join", "js", "src2", 40),
        (5001, "compactterm905001 new streamed doc parse json", "md", "src3", 40),
    ]
    in_dir, delta_dir = str(tmp_path / "in"), str(tmp_path / "delta")
    spark.createDataFrame(
        delta_rows, "doc_id long, text string, lang string, source string, n_chars long"
    ).write.parquet(in_dir)
    incremental_index(spark, in_dir, delta_dir)

    res = compact_delta_into_index(spark, base_ix, delta_dir, salt_range=64)
    assert res["affected_buckets"]
    # idempotent recompaction
    res2 = compact_delta_into_index(spark, base_ix, delta_dir, salt_range=64)
    assert res2["executed_units"] == 0

    # fresh reference over the merged corpus
    delta_df = spark.createDataFrame(
        delta_rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    merged = raw.filter(~F.col("doc_id").isin([7, 9])).unionByName(delta_df)
    fresh_ix = str(tmp_path / "fresh")
    build_index_resumable(
        ingest_documents_df(merged), fresh_ix, n_buckets=4, salt_range=64
    )

    def topk(ix, q, scale=1.0):
        segs = load_segments(spark, ix)
        dl = spark.read.parquet(f"{ix}/doc_lens")
        ts = spark.read.parquet(f"{ix}/term_stats")
        st = spark.read.parquet(f"{ix}/stats").collect()[0]
        stats = CorpusStats(int(st["n_docs"]), float(st["avgdl"]))
        return [
            (r["doc_id"], round(r["score"], 9))
            for r in wand_topk(
                segs, dl, ts, stats, q, 10, salt_range=64, impact_scale=scale
            ).collect()
        ]

    st = spark.read.parquet(f"{base_ix}/stats").collect()[0]
    scale = impact_scale(base_ix, float(st["avgdl"]))
    for q in ["merge sort", "compactterm 900007", "compactterm 905000", "scan join"]:
        assert topk(base_ix, q, scale) == topk(fresh_ix, q), q


def test_sample_frames_real_decode(spark):
    """sample_frames decodes GIF videos for real: per-frame rows with
    luma stats matching a driver-side decode; undecodable containers
    each get ONE labeled status row (r6: decode_status column)."""
    import numpy as np

    from pyspark_codesearch.operators.media_codecs import decode_gif
    from pyspark_codesearch.operators.multimodal import sample_frames, synth_media_rows

    media = synth_media(spark, 24)
    rows = sample_frames(media, every_n=2).collect()
    assert rows, "no frames sampled"
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    payloads = {i: bytes(p) for i, kind, p, *_ in synth_media_rows(24) if kind == "video"}
    gif_ids = {i for i, b in payloads.items() if b[:6] in (b"GIF87a", b"GIF89a")}
    assert set(by_media) == set(payloads)  # EVERY video row accounted for
    for mid in gif_ids:
        frames = decode_gif(payloads[mid])
        n = frames.shape[0]
        got = sorted(by_media[mid], key=lambda r: r["frame_no"])
        assert [r["frame_no"] for r in got] == list(range(0, n, 2))
        assert all(r["n_frames"] == n and r["decode_status"] == "ok" for r in got)
        gray = frames.astype(np.float64).mean(axis=3)
        for r in got:
            assert r["luma_mean"] == pytest.approx(gray[r["frame_no"]].mean() / 255.0, abs=0)
    for mid in set(payloads) - gif_ids:  # MP4 blobs: one status row each
        (r,) = by_media[mid]
        assert r["decode_status"] == "decoder_unavailable"
        assert r["frame_no"] is None and r["n_frames"] == 0
        assert r["luma_mean"] is None and r["luma_std"] is None


def test_sample_frames_corrupt_gif_status_row(spark):
    """A payload that sniffs as GIF but fails to decode emits exactly one
    decode_error status row (poison tolerance with a visible label)."""
    from pyspark_codesearch.operators.media_codecs import encode_gif
    from pyspark_codesearch.operators.multimodal import MEDIA_SCHEMA, sample_frames

    import numpy as np

    good = encode_gif(np.full((2, 6, 6), 80, dtype=np.uint8))
    corrupt = good[: len(good) // 2]  # truncated mid-frame
    media = spark.createDataFrame(
        [
            (0, "video", bytearray(good), "image/gif", 6, 6, len(good)),
            (1, "video", bytearray(corrupt), "image/gif", 6, 6, len(corrupt)),
        ],
        MEDIA_SCHEMA,
    )
    rows = sample_frames(media, every_n=1).collect()
    by_media: dict = {}
    for r in rows:
        by_media.setdefault(r["media_id"], []).append(r)
    assert len(by_media[0]) == 2 and all(r["decode_status"] == "ok" for r in by_media[0])
    (bad,) = by_media[1]
    assert bad["decode_status"] == "decode_error" and bad["frame_no"] is None
