"""Codec unit + property tests (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from tfidf_spark.index.codec import (
    BLOCK_SIZE,
    decode_block,
    decode_postings,
    encode_postings,
    encode_runs,
    to_signed,
    to_unsigned,
    varint_decode,
    varint_encode,
)


def test_varint_roundtrip_edges():
    vals = np.array(
        [0, 1, 127, 128, 129, 2**14 - 1, 2**14, 2**32, 2**63, 2**64 - 1],
        dtype=np.uint64,
    )
    assert np.array_equal(varint_decode(varint_encode(vals)), vals)


def test_varint_empty():
    assert varint_encode(np.empty(0, np.uint64)) == b""
    assert varint_decode(b"").size == 0


@settings(max_examples=200, deadline=None)
@given(st.lists(st.integers(min_value=0, max_value=2**64 - 1), max_size=300))
def test_varint_roundtrip_property(vals):
    arr = np.array(vals, dtype=np.uint64)
    assert np.array_equal(varint_decode(varint_encode(arr)), arr)


def test_unsigned_order_matches_signed():
    ids = np.array([-(2**63), -5, -1, 0, 1, 2**63 - 1], dtype=np.int64)
    u = to_unsigned(ids)
    assert np.array_equal(np.argsort(u), np.arange(len(ids)))
    assert np.array_equal(to_signed(u), ids)


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.integers(min_value=-(2**63), max_value=2**63 - 1),
        min_size=1,
        max_size=400,
        unique=True,
    )
)
def test_postings_roundtrip_property(ids):
    ids = np.array(ids, dtype=np.int64)
    w = (np.arange(len(ids)) % 7 + 1).astype(np.float64)
    pb, wb, block_last, block_max, block_off, n = encode_postings(ids, w)
    got_ids, got_w = decode_postings(pb, wb)
    order = np.argsort(to_unsigned(ids), kind="stable")
    assert n == len(ids)
    assert np.array_equal(got_ids, ids[order])
    assert np.array_equal(got_w, w[order])
    # block invariants: every member weight <= its block max; last ids match
    for i in range(len(block_max)):
        blk = got_w[i * BLOCK_SIZE : (i + 1) * BLOCK_SIZE]
        assert blk.max() <= block_max[i]
        assert block_last[i] == got_ids[min((i + 1) * BLOCK_SIZE, n) - 1]
    # independent block decode == the matching slice of the full decode
    assert block_off[0] == 0
    for i in range(len(block_off)):
        b_ids, b_w = decode_block(pb, wb, block_last, block_off, i)
        lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
        assert np.array_equal(b_ids, got_ids[lo:hi])
        assert np.array_equal(b_w, got_w[lo:hi])


@pytest.mark.parametrize("n", [1, 2, 127, 128, 129, 10_000])
def test_postings_block_boundaries(n):
    ids = np.arange(n, dtype=np.int64) * 3 - n  # mixed sign, sorted
    w = np.random.default_rng(42).random(n)
    pb, wb, block_last, block_max, block_off, cnt = encode_postings(ids, w)
    assert cnt == n
    assert len(block_last) == (n + BLOCK_SIZE - 1) // BLOCK_SIZE
    got_ids, got_w = decode_postings(pb, wb)
    assert np.array_equal(got_ids, ids)


def test_huge_gaps():
    ids = np.array([-(2**62), 0, 2**62], dtype=np.int64)  # gaps > 2^32
    pb, wb, *_ = encode_postings(ids, np.ones(3))
    got_ids, _ = decode_postings(pb, wb)
    assert np.array_equal(got_ids, ids)


@settings(max_examples=60, deadline=None)
@given(
    sizes=st.lists(
        st.sampled_from([1, 127, 128, 129]) | st.integers(1, 300),
        min_size=1,
        max_size=6,
    ),
    seed=st.integers(0, 2**32 - 1),
    wide=st.booleans(),
)
def test_encode_runs_matches_one_run_calls(sizes, seed, wide):
    """Back-to-back runs encoded in one call give, per run, exactly the
    tuple a one-run call gives, and every run decodes (whole and per
    block) to its own ids and weights."""
    rng = np.random.default_rng(seed)
    gmax = 2**54 if wide else 3  # wide gaps need multi-byte varints
    runs = []
    for n in sizes:
        gaps = rng.integers(1, gmax, size=n, dtype=np.int64)
        ids = -(gmax * n // 2) + np.cumsum(gaps)  # mixed sign, ascending
        runs.append((ids, rng.random(n)))
    starts = np.cumsum([0] + sizes[:-1])
    multi = list(
        encode_runs(
            np.concatenate([r[0] for r in runs]),
            np.concatenate([r[1] for r in runs]),
            starts,
        )
    )
    assert len(multi) == len(runs)
    for (ids, w), got in zip(runs, multi):
        assert got == next(encode_runs(ids, w, [0]))
        pb, wb, block_last, _, block_off, n = got
        assert n == ids.size
        got_ids, got_w = decode_postings(pb, wb)
        assert np.array_equal(got_ids, ids)
        assert np.array_equal(got_w, w)
        for i in range(len(block_off)):
            b_ids, b_w = decode_block(pb, wb, block_last, block_off, i)
            lo, hi = i * BLOCK_SIZE, min((i + 1) * BLOCK_SIZE, n)
            assert np.array_equal(b_ids, ids[lo:hi])
            assert np.array_equal(b_w, w[lo:hi])


def test_format_v3_literal_bytes():
    """Pins the on-disk encoding: a change to the gap, varint or block
    metadata layout must fail here (and bump FORMAT_VERSION)."""
    ids = np.array([300, -2, -1, 126, 254, 16638], dtype=np.int64)
    w = np.array([0.5, 1.5, 0.25, 2.0, 1.0, 0.75])
    pb, wb, block_last, block_max, block_off, n = encode_postings(ids, w)
    # sign-flipped -2 (9 bytes), then gaps 1, 127, 128, 46, 16338
    assert pb.hex() == "feffffffffffffff7f" "01" "7f" "8001" "2e" "d27f"
    assert wb == np.array([1.5, 0.25, 2.0, 1.0, 0.5, 0.75], "<f8").tobytes()
    assert (block_last, block_max, block_off, n) == ([16638], [2.0], [0], 6)

    # two blocks: block 1's offset skips block 0's 9 + 127 bytes
    pb, wb, block_last, block_max, block_off, n = encode_postings(
        np.arange(-65, 65, dtype=np.int64), np.arange(130) / 8.0
    )
    assert pb.hex() == "bfffffffffffffff7f" + "01" * 129
    assert (block_last, block_max, block_off, n) == (
        [62, 64],
        [15.875, 16.125],
        [0, 136],
        130,
    )


def test_compression_actually_compresses():
    """Dense sorted ids: gaps ~small -> ~1-2 bytes/posting vs 8 raw."""
    ids = np.cumsum(np.random.default_rng(0).integers(1, 50, 100_000)).astype(np.int64)
    pb = encode_postings(ids, np.ones(len(ids)))[0]
    assert len(pb) < len(ids) * 2
