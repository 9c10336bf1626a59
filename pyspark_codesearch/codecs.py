"""Delta + varbyte posting-list compression (numpy-vectorized).

Format: classic VByte — each uint encoded little-endian in 7-bit groups,
high bit (0x80) set on every byte EXCEPT the last byte of a value.
Doc-id lists are first delta-encoded (first value absolute, then gaps).

All encode/decode paths are numpy array ops (no per-int python loops beyond
a fixed <=10-iteration shift loop), so they run fast inside Arrow batches
in mapInPandas workers. Mirrors the compression the reference delegates to
Lucene (postings codec) — ours is explicit per BASELINE.json north_rule.
"""

from __future__ import annotations

from typing import NamedTuple

import numpy as np

_MAX_GROUPS = 10  # 70 bits > uint64


def _varbyte(values: np.ndarray) -> tuple[bytes, np.ndarray]:
    """VByte buffer of ``values`` and the byte count of each value."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = varbyte_sizes(v)
    starts = np.concatenate(([0], np.cumsum(nbytes)[:-1]))
    out = np.zeros(int(nbytes.sum()), dtype=np.uint8)
    for g in range(_MAX_GROUPS):
        mask = nbytes > g
        if not mask.any():
            break
        pos = starts[mask] + g
        byte = ((v[mask] >> np.uint64(7 * g)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nbytes[mask] > g + 1).astype(np.uint8) << 7
        out[pos] = byte | cont
    return out.tobytes(), nbytes


def varbyte_encode(values: np.ndarray | list[int]) -> bytes:
    return _varbyte(values)[0]


def varbyte_decode(buf: bytes) -> np.ndarray:
    b = np.frombuffer(buf, dtype=np.uint8)
    if b.size == 0:
        return np.empty(0, dtype=np.uint64)
    term = (b & 0x80) == 0
    # group id for every byte = #terminators strictly before it
    gid = np.zeros(b.size, dtype=np.int64)
    np.cumsum(term[:-1], out=gid[1:])
    starts = np.flatnonzero(np.concatenate(([True], term[:-1])))
    pos = np.arange(b.size, dtype=np.int64) - starts[gid]
    vals = np.zeros(int(term.sum()), dtype=np.uint64)
    np.add.at(vals, gid, (b & np.uint8(0x7F)).astype(np.uint64) << (7 * pos).astype(np.uint64))
    return vals


def varbyte_sizes(values: np.ndarray) -> np.ndarray:
    """#bytes each value needs under VByte (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nbytes = np.ones(v.size, dtype=np.int64)
    rest = v >> np.uint64(7)
    while rest.any():
        nbytes += (rest > 0).astype(np.int64)
        rest >>= np.uint64(7)
    return nbytes


class Blocks(NamedTuple):
    """Encoded blocks of one or more posting runs, in stream order."""

    starts: np.ndarray  # offset of each block's first posting
    ordinals: np.ndarray  # index of each block within its run
    ids: list[bytes]  # delta+varbyte doc ids, absolute at the block start
    tfs: list[bytes]  # varbyte term frequencies


def _block_layout(run_starts: np.ndarray, n: int, block: int) -> tuple[np.ndarray, np.ndarray]:
    """(starts, ordinals) of the ``block``-posting blocks cut within each
    run of ``n`` concatenated postings; ``run_starts`` are the sorted
    offsets of the runs' first postings, beginning with 0."""
    lens = np.diff(np.append(run_starts, n))
    per_run = -(-lens // block)
    first = np.cumsum(per_run) - per_run
    ordinals = np.arange(int(per_run.sum()), dtype=np.int64) - np.repeat(first, per_run)
    return np.repeat(run_starts, per_run) + ordinals * block, ordinals


def encode_runs(ids: np.ndarray, tfs: np.ndarray, run_starts: np.ndarray, block: int) -> Blocks:
    """Encode concatenated posting runs (each run's doc ids strictly
    increasing; a run may start below the previous run's last id) as
    blocks of ``block`` postings cut within each run, in TWO varbyte
    passes over all runs — gaps restarting (absolute value) at every
    block start so blocks stay independently decodable, then the tfs —
    sliced per block by cumsum offsets.

    The per-partition segment encoder's hot loop: its cost grows with
    postings, not with runs or blocks."""
    n = ids.size
    d = np.diff(ids)
    bad = d <= 0
    bad[run_starts[1:] - 1] = False  # a run start may step down
    if bad.any():
        raise ValueError("doc ids must be strictly increasing")
    starts, ordinals = _block_layout(run_starts, n, block)
    gaps = np.empty(n, dtype=np.uint64)
    gaps[1:] = d.astype(np.uint64)
    gaps[starts] = ids[starts].astype(np.uint64)  # absolute at block start
    id_buf, id_sizes = _varbyte(gaps)
    tf_buf, tf_sizes = _varbyte(tfs)
    cut = np.append(starts, n)
    id_off = np.concatenate(([0], np.cumsum(id_sizes)))[cut].tolist()
    tf_off = np.concatenate(([0], np.cumsum(tf_sizes)))[cut].tolist()
    return Blocks(
        starts,
        ordinals,
        [id_buf[a:b] for a, b in zip(id_off[:-1], id_off[1:])],
        [tf_buf[a:b] for a, b in zip(tf_off[:-1], tf_off[1:])],
    )


def encode_blocked(ids: np.ndarray, tfs: np.ndarray, block: int):
    """One posting run as blocks of ``block`` postings: :func:`encode_runs`
    on a single run. Returns (ids_bufs, tfs_bufs) lists."""
    enc = encode_runs(ids, tfs, np.zeros(1, dtype=np.int64), block)
    return enc.ids, enc.tfs


def delta_encode(sorted_ids: np.ndarray | list[int]) -> bytes:
    a = np.ascontiguousarray(sorted_ids, dtype=np.int64)
    if a.size == 0:
        return b""
    gaps = np.empty(a.size, dtype=np.uint64)
    gaps[0] = np.uint64(a[0])
    if a.size > 1:
        d = np.diff(a)
        if (d <= 0).any():
            raise ValueError("doc ids must be strictly increasing")
        gaps[1:] = d.astype(np.uint64)
    return varbyte_encode(gaps)


def delta_decode(buf: bytes) -> np.ndarray:
    gaps = varbyte_decode(buf)
    if gaps.size == 0:
        return np.empty(0, dtype=np.int64)
    return np.cumsum(gaps.astype(np.int64))
