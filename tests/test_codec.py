"""Codec unit + property tests (FIXTURES.md §4)."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import example, given, settings
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


@settings(max_examples=100, deadline=None)
@given(
    st.lists(
        st.one_of(st.sampled_from([1, 127, 128, 129]), st.integers(1, 400)),
        min_size=1,
        max_size=5,
    ),
    st.integers(0, 2**31),
)
@example(sizes=[1, 127, 128, 129], seed=0)
def test_encode_runs_equals_each_run_alone(sizes, seed):
    """One multi-run call (what the index build runs) is byte-identical,
    run by run, to encoding every run on its own."""
    rng = np.random.default_rng(seed)
    ids_parts, w_parts = [], []
    for n in sizes:
        ids = rng.choice(2**62, size=n, replace=False).astype(np.int64) - 2**61
        ids_parts.append(np.sort(ids))
        w_parts.append(rng.random(n))
    starts = np.cumsum([0] + sizes[:-1])
    got = encode_runs(np.concatenate(ids_parts), np.concatenate(w_parts), starts)
    keys = ("postings", "weights", "block_last", "block_max", "block_off", "n")
    for i, (ids, w) in enumerate(zip(ids_parts, w_parts)):
        alone = encode_postings(ids, w, presorted=True)
        assert tuple(got[k][i] for k in keys) == alone


def test_compression_actually_compresses():
    """Dense sorted ids: gaps ~small -> ~1-2 bytes/posting vs 8 raw."""
    ids = np.cumsum(np.random.default_rng(0).integers(1, 50, 100_000)).astype(np.int64)
    pb = encode_postings(ids, np.ones(len(ids)))[0]
    assert len(pb) < len(ids) * 2
