"""Varbyte / delta codec roundtrips, including property-based fuzzing."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from pyspark_codesearch.codecs import (
    delta_decode,
    delta_encode,
    encode_blocked,
    encode_runs,
    varbyte_decode,
    varbyte_encode,
)


def test_empty():
    assert varbyte_encode([]) == b""
    assert varbyte_decode(b"").size == 0
    assert delta_encode([]) == b""
    assert delta_decode(b"").size == 0
    assert encode_blocked(np.empty(0, np.int64), np.empty(0, np.int64), 128) == ([], [])


def test_known_values():
    # 0..127 -> 1 byte; 128 -> 2 bytes
    assert varbyte_encode([0]) == b"\x00"
    assert varbyte_encode([1]) == b"\x01"
    assert varbyte_encode([127]) == b"\x7f"
    assert varbyte_encode([128]) == bytes([0x80, 0x01])
    assert list(varbyte_decode(bytes([0x80, 0x01]))) == [128]


def test_roundtrip_simple():
    vals = [0, 1, 127, 128, 129, 16383, 16384, 2**31, 2**40 + 7]
    assert list(varbyte_decode(varbyte_encode(vals))) == vals


def test_delta_roundtrip():
    ids = [3, 7, 8, 100, 101, 5000, 10**9]
    assert list(delta_decode(delta_encode(ids))) == ids


def test_delta_rejects_unsorted():
    with pytest.raises(ValueError):
        delta_encode([5, 3])
    with pytest.raises(ValueError):
        delta_encode([5, 5])


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**62), max_size=300))
def test_varbyte_property(vals):
    assert list(varbyte_decode(varbyte_encode(vals))) == vals


@settings(max_examples=200, deadline=None)
@given(st.sets(st.integers(min_value=0, max_value=2**50), max_size=300))
def test_delta_property(ids):
    ids = sorted(ids)
    assert list(delta_decode(delta_encode(ids))) == ids


def test_compression_ratio_dense_ids():
    # dense sorted ids compress to ~1 byte/id
    ids = np.arange(10_000, 20_000, dtype=np.int64)
    enc = delta_encode(ids)
    assert len(enc) < len(ids) * 1.1 + 4


def test_decode_term_blocks_bucket_composed_ids_no_overflow():
    """Fused block decode must not wrap int64 when block-start absolutes
    are bucket-composed doc ids (~2^50) over many blocks: the cumsum runs
    over within-block gaps only, never over the absolutes."""
    import pandas as pd

    from pyspark_codesearch.codecs import encode_blocked
    from pyspark_codesearch.wand import _decode_term_blocks

    base = 1 << 50
    # 9000 blocks x 128 postings; cumsum of absolutes would be ~9e3 * 2^50
    # ~ 2^63.1 -> wraps; within-block gaps sum to ~9000*128 only
    ids = base + np.arange(9000 * 128, dtype=np.int64)
    tfs = np.ones(ids.size, dtype=np.int64)
    id_bufs, tf_bufs = encode_blocked(ids, tfs, 128)
    counts = [128] * 9000
    g = pd.DataFrame({"doc_ids_enc": id_bufs, "tfs_enc": tf_bufs, "n_docs": counts})
    got_ids, got_tfs = _decode_term_blocks(g)
    assert got_ids.dtype == np.int64
    assert (got_ids == ids).all()
    assert (got_tfs == 1.0).all()


def _runs():
    rng = np.random.default_rng(3)
    runs = []
    for n in (1, 127, 128, 129, 300, 5):
        ids = np.cumsum(rng.integers(1, 1 << 20, n)).astype(np.int64)
        runs.append((ids, rng.integers(1, 200, n).astype(np.int64)))
    return runs


def test_encode_runs_matches_encode_blocked_per_run():
    runs = _runs()
    heads = np.cumsum([0] + [ids.size for ids, _ in runs[:-1]])
    enc = encode_runs(
        np.concatenate([ids for ids, _ in runs]),
        np.concatenate([tfs for _, tfs in runs]),
        heads,
        128,
    )
    exp_ids, exp_tfs, exp_ord = [], [], []
    for ids, tfs in runs:
        a, b = encode_blocked(ids, tfs, 128)
        exp_ids += a
        exp_tfs += b
        exp_ord += range(len(a))
    assert enc.ids == exp_ids and enc.tfs == exp_tfs
    assert enc.ordinals.tolist() == exp_ord
    assert enc.starts[np.flatnonzero(enc.ordinals == 0)].tolist() == heads.tolist()


def test_encode_runs_rejects_non_increasing_id_inside_run():
    ids = np.arange(300, dtype=np.int64)
    ids[200] = ids[199]  # inside a run, not at a block start
    with pytest.raises(ValueError, match="strictly increasing"):
        encode_runs(ids, np.ones(300, np.int64), np.array([0, 100]), 128)
    ids = np.arange(300, dtype=np.int64)
    ids[128] = ids[127]  # at a block start inside the run
    with pytest.raises(ValueError, match="strictly increasing"):
        encode_runs(ids, np.ones(300, np.int64), np.array([0]), 128)


def test_encode_runs_accepts_smaller_id_at_run_start():
    ids = np.array([5, 9, 40, 2, 3, 7, 7], dtype=np.int64)
    enc = encode_runs(ids, np.ones(7, np.int64), np.array([0, 3, 6]), 2)
    assert enc.starts.tolist() == [0, 2, 3, 5, 6]
    assert enc.ordinals.tolist() == [0, 1, 0, 1, 0]
    assert [delta_decode(b).tolist() for b in enc.ids] == [[5, 9], [40], [2, 3], [7], [7]]
