"""Posting-list codec: sorted docIDs -> delta + varint bytes, plus
block-max skip metadata. All numpy-vectorized — this code runs inside
Arrow kernels on executors, never per-row Python.

This fills the role the reference's Huffman compressor plays (shrink the
payload; reference: app/services/huffman.py:26-102) with the standard
inverted-index scheme the north_star names: gaps of sorted docIDs are
small, varint makes them 1-2 bytes instead of 8.

This is the only module that knows the run format: the index build,
incremental merges and compactions encode through ``encode_runs``, and
delete patches re-encode single runs through ``encode_postings``.

docIDs are signed int64 (xxhash64-derived, may be negative). We map them
to uint64 by flipping the sign bit, which makes unsigned order == signed
order, so gaps are well-defined and non-negative.

Edge cases (the analog of the reference Huffman's crash cases, noted in
SURVEY.md §2.8): empty lists never occur (df >= 1 by construction) but
encode/decode handle them anyway; a single-posting list is one varint
whose gap is the (sign-flipped) docID itself.
"""

from __future__ import annotations

import numpy as np

BLOCK_SIZE = 128
_SIGN = np.uint64(1 << 63)
_THRESHOLDS = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]
_RUN_FIELDS = ("postings", "weights", "block_last", "block_max", "block_off", "n")


def to_unsigned(ids: np.ndarray) -> np.ndarray:
    """Signed int64 -> order-preserving uint64 (flip sign bit)."""
    return ids.astype(np.int64).view(np.uint64) ^ _SIGN


def to_signed(u: np.ndarray) -> np.ndarray:
    return (u ^ _SIGN).view(np.int64)


def _varint_lengths(v: np.ndarray) -> np.ndarray:
    """Bytes per LEB128 varint of each uint64 in ``v`` (1..10)."""
    nb = np.ones(v.size, dtype=np.int64)
    for t in _THRESHOLDS:
        nb += (v >= t).astype(np.int64)
    return nb


def _varint_pack(v: np.ndarray, nb: np.ndarray, offsets: np.ndarray, size: int) -> bytes:
    """Write varint ``i`` of ``v`` (``nb[i]`` bytes) at ``offsets[i]``."""
    out = np.zeros(size, dtype=np.uint8)
    for j in range(10):
        mask = nb > j
        if not mask.any():
            break
        byte = ((v[mask] >> np.uint64(7 * j)) & np.uint64(0x7F)).astype(np.uint8)
        cont = (nb[mask] - 1 > j).astype(np.uint8) << 7
        out[offsets[mask] + j] = byte | cont
    return out.tobytes()


def varint_encode(values: np.ndarray) -> bytes:
    """LEB128-style varint encode of a uint64 array (vectorized)."""
    v = np.ascontiguousarray(values, dtype=np.uint64)
    nb = _varint_lengths(v)
    offsets = np.zeros(v.size + 1, dtype=np.int64)
    np.cumsum(nb, out=offsets[1:])
    return _varint_pack(v, nb, offsets[:-1], int(offsets[-1]))


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


def encode_runs(doc_ids: np.ndarray, weights: np.ndarray, starts) -> dict[str, list]:
    """Encode several posting runs in ONE vectorized delta/varint pass.

    ``doc_ids``/``weights`` hold the runs back to back: run ``i`` is rows
    ``[starts[i], starts[i + 1])`` (the last run ends at the array end),
    each non-empty and sorted by signed doc_id (== sign-flipped unsigned
    order). Gaps reset at every run start, blocks are BLOCK_SIZE-row
    slices within each run, and block_off is relative to the run's first
    varint byte — so every run's bytes equal encoding it alone. One call
    per Arrow batch instead of one per run: at vocab x n_shards runs per
    build the per-call numpy overhead would dominate the encode stage.

    Returns per-run lists keyed ``postings``, ``weights``, ``block_last``,
    ``block_max``, ``block_off`` and ``n`` (see ``encode_postings``)."""
    ids = np.asarray(doc_ids, dtype=np.int64)
    ws = np.asarray(weights, dtype=np.float64)
    starts = np.asarray(starts, dtype=np.int64)
    bounds = np.append(starts, ids.size)
    u = to_unsigned(ids)
    gaps = np.empty_like(u)
    gaps[1:] = u[1:] - u[:-1]
    gaps[starts] = u[starts]
    nb = _varint_lengths(gaps)
    byte_off = np.zeros(gaps.size + 1, dtype=np.int64)
    np.cumsum(nb, out=byte_off[1:])
    all_bytes = _varint_pack(gaps, nb, byte_off[:-1], int(byte_off[-1]))
    sizes = np.diff(bounds)
    nblocks = -(-sizes // BLOCK_SIZE)
    first_blk = np.zeros(len(starts) + 1, dtype=np.int64)
    np.cumsum(nblocks, out=first_blk[1:])
    run = np.repeat(np.arange(len(starts)), nblocks)
    within = np.arange(int(first_blk[-1])) - first_blk[run]
    b_start = starts[run] + within * BLOCK_SIZE
    b_end = np.minimum(b_start + BLOCK_SIZE, bounds[run + 1])
    blast = ids[b_end - 1]
    bmax = np.maximum.reduceat(ws, b_start) if b_start.size else np.empty(0)
    boff = byte_off[b_start] - byte_off[starts[run]]
    out: dict[str, list] = {k: [] for k in _RUN_FIELDS}
    for i in range(len(starts)):
        lo, hi = int(bounds[i]), int(bounds[i + 1])
        b0, b1 = int(first_blk[i]), int(first_blk[i + 1])
        out["postings"].append(all_bytes[byte_off[lo] : byte_off[hi]])
        out["weights"].append(ws[lo:hi].tobytes())
        out["block_last"].append(blast[b0:b1].tolist())
        out["block_max"].append(bmax[b0:b1].tolist())
        out["block_off"].append(boff[b0:b1].tolist())
        out["n"].append(hi - lo)
    return out


def encode_postings(doc_ids: np.ndarray, weights: np.ndarray, presorted: bool = False):
    """Encode one term's (sub-)posting list: ``encode_runs`` of one run.

    doc_ids: signed int64 (any order); weights: float64 aligned with ids.
    Returns (postings_bytes, weights_bytes, block_last, block_max,
    block_off, n):
      postings_bytes — varint(first_u, gap, gap, ...)
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
    """
    ids = np.asarray(doc_ids, dtype=np.int64)
    w = np.asarray(weights, dtype=np.float64)
    if not presorted:
        # sign-flip order == signed order, so sorting unsigned keys equals
        # a plain signed sort; presorted=True lets Tungsten-sorted input
        # (ORDER BY doc_id) skip this.
        order = np.argsort(to_unsigned(ids), kind="stable")
        ids, w = ids[order], w[order]
    if not ids.size:
        return b"", b"", [], [], [], 0
    run = encode_runs(ids, w, [0])
    return tuple(run[k][0] for k in _RUN_FIELDS)


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
