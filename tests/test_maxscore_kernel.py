"""Property tests of the MaxScore/block-max kernel (_topk_shard) directly
at the pandas level — no Spark, so hundreds of adversarial cases run in
seconds. Oracle: dense brute-force accumulation in numpy.

This is the armor for the pruning math: θ bootstrap, non-essential
suffix, block skipping. Any bug that silently drops a true top-k doc
shows up here long before the (slower) Spark rank-identity suite."""

from __future__ import annotations

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from tfidf_spark.index.builder import INDEX_SCHEMA  # noqa: F401 (schema parity)
from tfidf_spark.index.codec import encode_postings
from tfidf_spark.index.query import _topk_shard


def _make_pdf(term_lists: list[tuple[float, np.ndarray, np.ndarray]], k: int):
    rows = []
    for i, (mult, ids, ws) in enumerate(term_lists):
        pb, wb, block_last, block_max, block_off, n = encode_postings(ids, ws)
        rows.append(
            {
                "query_id": 1,
                "k": k,
                "term": f"t{i}",
                "mult": mult,
                "shard": 0,
                "postings": pb,
                "weights": wb,
                "block_last": block_last,
                "block_max": block_max,
                "block_off": block_off,
            }
        )
    return pd.DataFrame(rows)


def _brute(term_lists, k):
    scores: dict[int, float] = {}
    for mult, ids, ws in term_lists:
        for d, w in zip(ids.tolist(), ws.tolist()):
            scores[d] = scores.get(d, 0.0) + mult * w
    ranked = sorted(scores.items(), key=lambda kv: (-kv[1], kv[0]))
    return ranked[:k]


@st.composite
def term_lists_strategy(draw):
    n_terms = draw(st.integers(1, 5))
    universe = draw(st.integers(20, 400))
    out = []
    for _ in range(n_terms):
        df = draw(st.integers(1, universe))
        rng_seed = draw(st.integers(0, 2**31))
        rng = np.random.default_rng(rng_seed)
        ids = rng.choice(universe, size=df, replace=False).astype(np.int64) - universe // 2
        ws = rng.random(df) + 0.05
        mult = draw(st.floats(0.0, 5.0, allow_nan=False))
        out.append((mult, ids, ws))
    return out


@settings(max_examples=300, deadline=None)
@given(term_lists_strategy(), st.integers(1, 30))
def test_kernel_matches_bruteforce(term_lists, k):
    got = _topk_shard(_make_pdf(term_lists, k))
    expect = _brute(term_lists, k)
    assert got["doc_id"].tolist() == [d for d, _ in expect]
    np.testing.assert_allclose(
        got["score"].to_numpy(), [s for _, s in expect], rtol=1e-9
    )


def test_kernel_skewed_long_lists():
    """One stop-like list (df=100k) + rare terms; k small — the regime
    where block-max pruning actually skips work."""
    rng = np.random.default_rng(0)
    stop_ids = np.sort(rng.choice(10**7, size=100_000, replace=False)).astype(np.int64)
    stop_ws = rng.random(100_000) * 0.2 + 0.01  # low weights
    rare_ids = rng.choice(stop_ids, size=50, replace=False)
    rare_ws = rng.random(50) * 2 + 1.0           # high weights
    lists = [(0.3, stop_ids, stop_ws), (4.0, rare_ids, rare_ws)]
    got = _topk_shard(_make_pdf(lists, 10))
    expect = _brute(lists, 10)
    assert got["doc_id"].tolist() == [d for d, _ in expect]
    np.testing.assert_allclose(got["score"].to_numpy(), [s for _, s in expect], rtol=1e-9)


def test_lazy_decode_skips_most_bytes():
    """The point of block_off: in the stop-list regime the kernel must
    skip DECODING (not just scoring) almost all of the long list. Here
    the rare list drives θ so high the stop list is non-essential — only
    its candidate-bearing blocks (≤ 50 of ~780) are ever varint-decoded."""
    from tfidf_spark.index.query import DECODE_STATS

    rng = np.random.default_rng(0)
    stop_ids = np.sort(rng.choice(10**7, size=100_000, replace=False)).astype(np.int64)
    stop_ws = rng.random(100_000) * 0.2 + 0.01
    rare_ids = rng.choice(stop_ids, size=50, replace=False)
    rare_ws = rng.random(50) * 2 + 1.0
    lists = [(0.3, stop_ids, stop_ws), (4.0, rare_ids, rare_ws)]
    DECODE_STATS["bytes_decoded"] = DECODE_STATS["bytes_total"] = 0
    got = _topk_shard(_make_pdf(lists, 10))
    expect = _brute(lists, 10)
    assert got["doc_id"].tolist() == [d for d, _ in expect]
    assert DECODE_STATS["bytes_total"] > 100_000  # the stop list is real
    assert DECODE_STATS["bytes_decoded"] < 0.15 * DECODE_STATS["bytes_total"]


def test_single_list_query_decodes_only_winner_blocks():
    """A lone stop-like term: ranking comes from the weights buffer, so
    only the top-k docs' blocks get varint-decoded."""
    from tfidf_spark.index.query import DECODE_STATS

    rng = np.random.default_rng(3)
    ids = np.sort(rng.choice(10**7, size=50_000, replace=False)).astype(np.int64)
    ws = rng.random(50_000)  # continuous -> no k-th-score ties
    lists = [(0.5, ids, ws)]
    DECODE_STATS["bytes_decoded"] = DECODE_STATS["bytes_total"] = 0
    got = _topk_shard(_make_pdf(lists, 10))
    expect = _brute(lists, 10)
    assert got["doc_id"].tolist() == [d for d, _ in expect]
    np.testing.assert_allclose(got["score"].to_numpy(), [s for _, s in expect], rtol=1e-9)
    assert DECODE_STATS["bytes_decoded"] < 0.05 * DECODE_STATS["bytes_total"]


def test_kernel_duplicate_free_and_sorted():
    rng = np.random.default_rng(1)
    lists = [
        (1.0, rng.choice(1000, 400, replace=False).astype(np.int64), rng.random(400)),
        (2.0, rng.choice(1000, 300, replace=False).astype(np.int64), rng.random(300)),
    ]
    got = _topk_shard(_make_pdf(lists, 50))
    assert got["doc_id"].is_unique
    s = got["score"].to_numpy()
    assert all(s[i] >= s[i + 1] - 1e-12 for i in range(len(s) - 1))


def _tie_rows(shard: int, lists, k: int = 10):
    """Kernel rows of one shard: ``lists`` = [(term, {doc_id: weight})]."""
    rows = []
    for term, postings in lists:
        ids = np.array(sorted(postings), dtype=np.int64)
        ws = np.array([postings[d] for d in sorted(postings)])
        pb, wb, block_last, block_max, block_off, _ = encode_postings(ids, ws)
        rows.append(
            {
                "query_id": 1, "k": k, "term": term, "mult": 1.0, "shard": shard,
                "postings": pb, "weights": wb, "block_last": block_last,
                "block_max": block_max, "block_off": block_off,
            }
        )
    return rows


def test_exact_tie_across_shards_breaks_by_doc_id():
    """Docs 20 (shard 0) and 10 (shard 1) have identical contributions
    0.1 + 0.2 + 0.3, but their shards sort the lists differently by upper
    bound (a hot doc makes t1 lead in shard 0, t3 in shard 1). Summed in
    list order the two totals differ by 1 ulp ((0.1 + 0.3) + 0.2 vs
    (0.3 + 0.2) + 0.1); the kernel must give both the same bits so the
    doc_id tie-break decides — per shard then merged (the batch path)
    and with every shard's runs in one kernel (the local path)."""
    s0 = _tie_rows(0, [("t1", {20: 0.1, 21: 5.0}), ("t2", {20: 0.2}), ("t3", {20: 0.3})])
    s1 = _tie_rows(1, [("t1", {10: 0.1}), ("t2", {10: 0.2}), ("t3", {10: 0.3, 11: 5.0})])
    per_shard = pd.concat([_topk_shard(pd.DataFrame(s0)), _topk_shard(pd.DataFrame(s1))])
    one_kernel = _topk_shard(pd.DataFrame(s0 + s1))
    for got in (per_shard, one_kernel):
        score = dict(zip(got["doc_id"], got["score"]))
        assert score[20] == score[10]
        ranked = got.sort_values(["score", "doc_id"], ascending=[False, True])
        assert ranked["doc_id"].tolist() == [11, 21, 10, 20]


def test_exact_tie_across_shards_on_every_query_path(spark, tmp_path):
    """The same defect end to end: docs 12 (shard 0) and 3 (shard 1)
    have the same text, so their exact BM25 scores are equal; the other
    two docs make the shards order the query's lists differently by
    upper bound. All three query paths must return bitwise-equal scores
    for the pair, lower doc_id first."""
    from tfidf_spark.index.builder import build_index, load_index
    from tfidf_spark.index.query import bm25_query_index, bm25_query_terms_local

    tied = "apple banana damson cherry banana apple"
    docs = [(12, tied), (3, tied), (14, "banana damson"), (8, "banana y y apple x")]
    out = str(tmp_path / "idx")
    build_index(spark.createDataFrame(docs, "doc_id bigint, content string"), out, n_shards=2)
    idx = load_index(spark, out)
    assert idx.doc_stats.filter("doc_id in (3, 12)").select(
        F.pmod(F.xxhash64("doc_id"), F.lit(2))
    ).distinct().count() == 2  # the pair really sits in different shards
    q = ["apple", "banana", "cherry", "damson"]
    results = [bm25_query_terms_local(idx, q, k=10)]
    qdf = spark.createDataFrame([(0, q, 10)], "query_id long, terms array<string>, k int")
    for prune in (True, False):
        rows = bm25_query_index(idx, qdf, prune_by_collect=prune).orderBy("rank").collect()
        results.append([(r["doc_id"], r["score"]) for r in rows])
    for got in results:
        assert [d for d, _ in got][:2] == [3, 12]
        assert got[0][1] == got[1][1]
