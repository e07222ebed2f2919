"""Posting-list codec: sorted docIDs -> delta + varint bytes, plus
block-max skip metadata. All numpy-vectorized — this code runs inside
Arrow kernels on executors, never per-row Python.

This fills the role the reference's Huffman compressor plays (shrink the
payload; reference: app/services/huffman.py:26-102) with the standard
inverted-index scheme the north_star names: gaps of sorted docIDs are
small, varint makes them 1-2 bytes instead of 8. This module alone knows
the on-disk posting format: every segment writer encodes through
``encode_runs`` (builder.write_runs, for the build, incremental deltas,
full and targeted compactions), and readers decode through
``decode_postings`` / ``decode_block``.

docIDs are signed int64 (xxhash64-derived, may be negative). We map them
to uint64 by flipping the sign bit, which makes unsigned order == signed
order, so gaps are well-defined and non-negative.

Edge cases (the analog of the reference Huffman's crash cases, noted in
SURVEY.md §2.8): empty lists never occur (df >= 1 by construction) but
encode/decode handle them anyway; a single-posting list is one varint
whose gap is the (sign-flipped) docID itself.
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np

BLOCK_SIZE = 128
_SIGN = np.uint64(1 << 63)
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def to_unsigned(ids: np.ndarray) -> np.ndarray:
    """Signed int64 -> order-preserving uint64 (flip sign bit)."""
    return ids.astype(np.int64).view(np.uint64) ^ _SIGN


def to_signed(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


def _varint_bytes(v: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """LEB128 bytes of a uint64 array -> (uint8 buffer, byte offsets):
    value i occupies ``buf[off[i]:off[i + 1]]``. The one varint writer
    of the codec (``varint_encode`` and ``encode_runs`` share it)."""
    nb = np.ones(v.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nb += v >= t
    off = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=off[1:])
    out = np.zeros(int(off[-1]), dtype=np.uint8)
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        out[off[:-1][mask] + j] = byte | cont
    return out, off


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array (vectorized)."""
    return _varint_bytes(np.ascontiguousarray(values, dtype=np.uint64))[0].tobytes()


def varint_decode(buf: bytes) -> np.ndarray:
    """Inverse of varint_encode -> uint64 array (vectorized reduceat)."""
    arr = np.frombuffer(buf, dtype=np.uint8)
    if arr.size == 0:
        return np.empty(0, dtype=np.uint64)
    is_end = (arr & 0x80) == 0
    ends = np.flatnonzero(is_end)
    starts = np.empty_like(ends)
    starts[0] = 0
    starts[1:] = ends[:-1] + 1
    group = np.cumsum(np.concatenate([[False], is_end[:-1]]))
    within = (np.arange(arr.size) - starts[group]).astype(np.uint64)
    contrib = (arr & 0x7F).astype(np.uint64) << (np.uint64(7) * within)
    return np.add.reduceat(contrib, starts)


def encode_runs(ids: np.ndarray, ws: np.ndarray, starts: np.ndarray) -> Iterator[tuple]:
    """Encode back-to-back posting runs in one vectorized pass.

    ``ids`` (signed int64) and ``ws`` (float64) hold the runs end to end;
    run i is rows ``[starts[i], starts[i + 1])`` (the last one ends at
    ``ids.size``) and must be sorted by signed docID (equal to the
    unsigned codec order, see the module docstring). Yields one
    ``(postings_bytes, weights_bytes, block_last, block_max, block_off,
    n)`` tuple per run:
      postings_bytes — varint(first_u, gap, gap, ...); gaps restart at
                       every run
      weights_bytes  — float64 LE, sorted-docID order
      block_last     — last signed docID per BLOCK_SIZE block (skip index)
      block_max      — max weight per block (block-max metadata; the
                       query-time upper bound is idf * block_max)
      block_off      — byte offset of each block's first varint in
                       postings_bytes. Together with block_last this makes
                       every block INDEPENDENTLY decodable (the gap base
                       of block i is block_last[i-1]), which is what lets
                       the query kernel skip decoding non-qualifying
                       blocks entirely — for a stop-like term at corpus
                       scale, eager decode IS the query cost.
    One pass over the whole slice instead of one call per run: at
    vocab x n_shards runs per build the per-call numpy overhead would
    dominate the encode stage."""
    ids = np.asarray(ids, dtype=np.int64)
    ws = np.asarray(ws, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    bounds = np.append(starts, ids.size)
    u = to_unsigned(ids)
    gaps = np.empty_like(u)
    gaps[1:] = u[1:] - u[:-1]
    first = starts[starts < u.size]
    gaps[first] = u[first]
    enc, byte_off = _varint_bytes(gaps)
    all_bytes = enc.tobytes()
    nblocks = -(-np.diff(bounds) // BLOCK_SIZE)
    first_blk = np.zeros(starts.size + 1, dtype=np.int64)
    np.cumsum(nblocks, out=first_blk[1:])
    run = np.repeat(np.arange(starts.size), nblocks)
    b_start = starts[run] + (np.arange(first_blk[-1]) - first_blk[run]) * BLOCK_SIZE
    b_end = np.minimum(b_start + BLOCK_SIZE, bounds[run + 1])
    blast = ids[b_end - 1]
    bmax = np.maximum.reduceat(ws, b_start) if b_start.size else ws[:0]
    boff = byte_off[b_start] - byte_off[starts[run]]
    for i in range(starts.size):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        b0, b1 = int(first_blk[i]), int(first_blk[i + 1])
        yield (
            all_bytes[byte_off[lo] : byte_off[hi]],
            ws[lo:hi].tobytes(),
            blast[b0:b1].tolist(),
            bmax[b0:b1].tolist(),
            boff[b0:b1].tolist(),
            hi - lo,
        )


def encode_postings(doc_ids: np.ndarray, weights: np.ndarray, presorted: bool = False):
    """Encode one term's (sub-)posting list: ``encode_runs`` of a single
    run. doc_ids: signed int64 (any order); weights: float64 aligned with
    ids. Returns the run's ``(postings_bytes, weights_bytes, block_last,
    block_max, block_off, n)``."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    w = np.asarray(weights, dtype=np.float64)
    if not presorted:
        # sign-flip order == signed order, so sorting unsigned keys equals
        # a plain signed sort; presorted=True lets Tungsten-sorted input
        # (ORDER BY doc_id) skip this.
        order = np.argsort(to_unsigned(ids), kind="stable")
        ids, w = ids[order], w[order]
    return next(encode_runs(ids, w, np.zeros(1, dtype=np.int64)))


def decode_postings(postings_bytes: bytes, weights_bytes: bytes):
    """-> (signed int64 docIDs ascending-unsigned order, float64 weights)."""
    gaps = varint_decode(postings_bytes)
    u = np.cumsum(gaps, dtype=np.uint64)
    return to_signed(u), np.frombuffer(weights_bytes, dtype=np.float64)


def decode_block(
    postings_bytes: bytes,
    weights_bytes: bytes,
    block_last: np.ndarray,
    block_off: np.ndarray,
    i: int,
):
    """Decode ONLY block ``i`` -> (ids, w). Reads just that block's byte
    slice; the gap base is block_last[i-1] (or 0 for the first block)."""
    lo = int(block_off[i])
    hi = int(block_off[i + 1]) if i + 1 < len(block_off) else len(postings_bytes)
    gaps = varint_decode(postings_bytes[lo:hi])
    base = (
        to_unsigned(np.asarray([block_last[i - 1]], dtype=np.int64))[0]
        if i > 0
        else np.uint64(0)
    )
    u = base + np.cumsum(gaps, dtype=np.uint64)
    w = np.frombuffer(
        weights_bytes, dtype=np.float64, count=gaps.size, offset=i * BLOCK_SIZE * 8
    )
    return to_signed(u), w
