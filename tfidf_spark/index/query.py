"""BM25 top-k query over the compressed sharded index.

Per (query, shard) an Arrow kernel runs **MaxScore with block-max
pruning** over the decoded posting runs — exact top-k, vectorized:

1. Fully score the docs of the highest-upper-bound list (binary-search
   lookups into the other lists via ``np.searchsorted``); the kth best
   score is the pruning threshold θ.
2. Lists whose upper bounds sum (as a suffix) below θ are non-essential:
   no doc appearing ONLY in them can reach top-k.
3. Remaining essential lists generate extra candidates, but only from
   blocks whose ``idf*block_max + Σ other-list upper bounds ≥ θ`` —
   the block-max skip. Candidates get exact scores; merge; top-k.

Exactness argument: a doc excluded everywhere has, for its best list t*,
``mult_t* · block_max_t*(doc) + Σ_{u≠t*} U_u < θ``, which upper-bounds its
full score, so it cannot beat the kth result. Ties are broken
score-desc → doc_id-asc (the engine-wide deterministic tie-break,
SURVEY.md §2.5-W1); the emitted scores add each doc's per-term
contributions in term order, whatever the shard or run, so docs with
equal contributions get bitwise-equal scores and the tie-break sees the
tie.

Shards hold disjoint doc sets, so per-shard top-k union ⊇ global top-k and
the final window merge is exact. Hot (stop-like) terms therefore never
serialize through one task — the index keeps them sharded.

This path must reproduce ``operators.scoring.bm25_topk`` (the pure
DataFrame M1 scorer) rank-identically; that equivalence is the core
integration test.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from tfidf_spark.index.builder import IndexHandle, group_slices
from tfidf_spark.index.codec import BLOCK_SIZE, decode_block, decode_postings

_KERNEL_SCHEMA = StructType(
    [
        StructField("query_id", LongType()),
        StructField("k", IntegerType()),
        StructField("doc_id", LongType()),
        StructField("score", DoubleType()),
    ]
)

# Decode accounting, meaningful when the kernel runs in-process (the
# local fast path / tests): bytes actually varint-decoded vs the bytes an
# eager decoder would have touched. On executors each Python worker has
# its own copy — treat it as diagnostics, not a metric aggregation.
DECODE_STATS = {"bytes_decoded": 0, "bytes_total": 0}


class _LazyList:
    """One (term, shard) posting run, decoded block-by-block on demand.

    Lazy decode is the point of the block-max layout: for a stop-like
    term at corpus scale the run is most of the shard, and a top-k query
    usually needs only the blocks that (a) contain a candidate from a
    rarer list or (b) beat the score threshold θ. Everything else is
    never even varint-decoded — the bytes are skipped via block_off.
    Signed docID order == sign-flipped unsigned order (codec invariant),
    so plain signed searchsorted is valid everywhere below.
    """

    __slots__ = ("mult", "pb", "wb", "bl", "bm", "off", "n_blocks", "_cache", "_full")

    def __init__(self, mult, pb, wb, block_last, block_max, block_off):
        self.mult = float(mult)
        self.pb = pb
        self.wb = wb
        self.bl = np.asarray(block_last, dtype=np.int64)
        self.bm = np.asarray(block_max, dtype=np.float64)
        self.off = np.asarray(block_off, dtype=np.int64)
        self.n_blocks = self.bl.size
        self._cache: dict[int, tuple[np.ndarray, np.ndarray]] = {}
        self._full: tuple[np.ndarray, np.ndarray] | None = None
        DECODE_STATS["bytes_total"] += len(pb)

    def block(self, i: int):
        got = self._cache.get(i)
        if got is None:
            if self._full is not None:  # slice the full decode, never re-decode
                lo = i * BLOCK_SIZE
                got = (self._full[0][lo : lo + BLOCK_SIZE], self._full[1][lo : lo + BLOCK_SIZE])
            else:
                got = decode_block(self.pb, self.wb, self.bl, self.off, i)
                hi = int(self.off[i + 1]) if i + 1 < self.n_blocks else len(self.pb)
                DECODE_STATS["bytes_decoded"] += hi - int(self.off[i])
            self._cache[i] = got
        return got

    def decode_all(self):
        if self._full is None:
            DECODE_STATS["bytes_decoded"] += len(self.pb)
            self._full = decode_postings(self.pb, self.wb)
        return self._full

    def add_scores(self, cand: np.ndarray, out: np.ndarray) -> None:
        """out[j] += mult * weight(cand[j]) for every cand[j] present in
        this list. Decodes ONLY the blocks that could contain a candidate
        (block b holds ids in (block_last[b-1], block_last[b]])."""
        if not self.n_blocks or not cand.size:
            return
        blk = np.searchsorted(self.bl, cand, side="left")
        inrange = blk < self.n_blocks
        for b in np.unique(blk[inrange]):
            sel = np.flatnonzero(blk == b)
            ids, w = self.block(int(b))
            pos = np.searchsorted(ids, cand[sel])
            pos_c = np.minimum(pos, ids.size - 1)
            hit = (pos < ids.size) & (ids[pos_c] == cand[sel])
            out[sel[hit]] += self.mult * w[pos_c[hit]]


def _topk_shard(pdf: pd.DataFrame) -> pd.DataFrame:
    query_id = int(pdf["query_id"].iloc[0])
    k = int(pdf["k"].iloc[0])
    lists, terms = [], []
    for row in pdf.itertuples(index=False):
        L = _LazyList(
            row.mult,
            bytes(row.postings),
            bytes(row.weights),
            row.block_last,
            row.block_max,
            row.block_off,
        )
        if L.n_blocks:
            lists.append(L)
            terms.append(row.term)
    if not lists:
        return pd.DataFrame(columns=["query_id", "k", "doc_id", "score"]).astype(
            {"query_id": "int64", "k": "int32", "doc_id": "int64", "score": "float64"}
        )
    # single-list query (e.g. a lone stop-like term): the ranking is
    # determined by the weights buffer alone (score = mult * w), which is
    # a raw float64 read — no varint decode needed. Decode only the
    # blocks holding the winners (+ their score-ties, so the doc_id
    # tie-break stays exact).
    if len(lists) == 1:
        L = lists[0]
        w = np.frombuffer(L.wb, dtype=np.float64)
        s = L.mult * w
        if s.size > k:
            kth = np.partition(s, s.size - k)[s.size - k]
            cand_pos = np.flatnonzero(s >= kth)
        else:
            cand_pos = np.arange(s.size)
        ids = np.empty(cand_pos.size, dtype=np.int64)
        for b in np.unique(cand_pos // BLOCK_SIZE):
            blk_ids, _ = L.block(int(b))
            lo = b * BLOCK_SIZE
            sel = (cand_pos >= lo) & (cand_pos < lo + blk_ids.size)
            ids[sel] = blk_ids[cand_pos[sel] - lo]
        sc = s[cand_pos]
        order = np.lexsort((ids, -sc))[:k]
        return pd.DataFrame(
            {
                "query_id": np.full(order.size, query_id, dtype=np.int64),
                "k": np.full(order.size, k, dtype=np.int32),
                "doc_id": ids[order],
                "score": sc[order],
            }
        )

    # the shard-independent order the final scores are summed in
    by_term = [L for _, L in sorted(zip(terms, lists), key=lambda p: p[0])]
    # negative-idf (df == N) terms still contribute; upper bound uses max(.,0)
    lists.sort(key=lambda L: -(L.mult * float(L.bm.max())))
    U = np.array([max(L.mult * float(L.bm.max()), 0.0) for L in lists])

    # pass 1: all docs of the top-bound list (typically the rarest term —
    # hot stop-like terms have low idf and land at the tail), fully
    # scored. Own-list contributions come straight from the decoded
    # weights; other lists decode only candidate-bearing blocks.
    top = lists[0]
    cand0, w0 = top.decode_all()
    s0 = top.mult * w0
    for L in lists[1:]:
        L.add_scores(cand0, s0)
    if cand0.size > k:
        theta = np.partition(s0, cand0.size - k)[cand0.size - k]
    else:
        theta = -np.inf

    # non-essential suffix: maximal suffix with cumulative U < theta
    tailsum = np.cumsum(U[::-1])[::-1]  # tailsum[i] = U[i:] sum
    n_essential = len(lists)
    for i in range(len(lists) - 1, 0, -1):
        if tailsum[i] < theta:
            n_essential = i
        else:
            break

    extra_parts = []
    for t in range(1, n_essential):
        L = lists[t]
        rest = U.sum() - U[t]
        # clamp like U: if mult were ever negative (df > n_docs from stats
        # drift) the unclamped product is NOT an upper bound and pruning
        # would turn unsound.
        keep_block = (np.maximum(L.mult * L.bm, 0.0) + rest) >= theta
        for b in np.flatnonzero(keep_block):
            ids, _ = L.block(int(b))
            extra_parts.append(ids)
    if extra_parts:
        extra = np.unique(np.concatenate(extra_parts))
        pos = np.searchsorted(cand0, extra)
        pos_c = np.minimum(pos, cand0.size - 1) if cand0.size else pos
        fresh = (
            extra[~((pos < cand0.size) & (cand0[pos_c] == extra))]
            if cand0.size
            else extra
        )
        if fresh.size:
            # a fresh candidate is by definition absent from the top list
            # (cand0 IS that list), so only lists[1:] can contribute
            s_extra = np.zeros(fresh.size, dtype=np.float64)
            for L in lists[1:]:
                L.add_scores(fresh, s_extra)
            all_ids = np.concatenate([cand0, fresh])
            all_s = np.concatenate([s0, s_extra])
        else:
            all_ids, all_s = cand0, s0
    else:
        all_ids, all_s = cand0, s0

    # Exact ties: the sums above add a doc's contributions in this
    # shard's upper-bound list order, so two docs with identical
    # contributions in different shards can land 1 ulp apart and the
    # doc_id tie-break would never see the tie. Re-score every candidate
    # that can still reach the top k (the kth score minus a margin far
    # above the summation error) adding contributions in TERM order —
    # the same order in every shard and run — from the cached blocks.
    if all_s.size > k:
        kth = np.partition(all_s, all_s.size - k)[all_s.size - k]
        near = all_s >= kth - 1e-9 * abs(kth)
        all_ids = all_ids[near]
    all_s = np.zeros(all_ids.size, dtype=np.float64)
    for L in by_term:
        L.add_scores(all_ids, all_s)

    order = np.lexsort((all_ids, -all_s))[:k]
    return pd.DataFrame(
        {
            "query_id": np.full(order.size, query_id, dtype=np.int64),
            "k": np.full(order.size, k, dtype=np.int32),
            "doc_id": all_ids[order],
            "score": all_s[order],
        }
    )


def _topk_shard_stream(batches):
    """mapInPandas kernel over rows hash-partitioned by (query_id,
    shard) and sorted so each group's rows are adjacent: the MaxScore
    kernel runs per (query_id, shard) slice of ``group_slices``.
    Replaces groupBy().applyInPandas, whose ~2 ms per-group Arrow
    round-trip dominated the batch path at queries x shards groups (r8
    profile: ~1.4 s of the 2.2 s batch50 main job)."""
    for pdf, starts, end in group_slices(batches, ("query_id", "shard")):
        bounds = np.append(starts, end)
        for i in range(len(starts)):
            yield _topk_shard(pdf.iloc[bounds[i] : bounds[i + 1]])


def bm25_query_index(
    index: IndexHandle,
    queries: DataFrame,
    prune_by_collect: bool = True,
    known_terms: list[str] | None = None,
) -> DataFrame:
    """Batch BM25 over the index.

    queries: ``(query_id long, terms array<string>, k int)``.
    Returns ``(query_id, doc_id, score, rank)``, rank 1..k per query,
    ordered by the deterministic tie-break.

    ``prune_by_collect``: collect the query rows driver-side and push an
    IN-filter on the distinct terms into the index scan (the analog of the
    reference's B-tree probe on word, app/db/models.py:100), so only the
    matching runs reach the broadcast join. The index files are in
    term-HASH order (builder.write_runs), so parquet min/max stats on
    ``term`` seldom skip a row group; the filter prunes rows, not I/O.
    ``queries`` is evaluated once. For huge query batches set False to
    use a shuffle join instead.
    """
    spark = queries.sparkSession
    # prune_by_collect=True already commits to collecting the batch's
    # distinct terms driver-side, so the batch is driver-manageable by
    # contract — collect the query ROWS instead (one plain scan job, no
    # shuffle) and build qterms as a literal local relation. The r7
    # shape paid an explode+groupBy+distinct+collect job AND repeated
    # the explode+groupBy shuffle inside the main job (r8 profile:
    # ~0.4 s of the 2.5 s batch50 path). Distributed batches
    # (prune_by_collect=False) keep the general plan. orig_k comes from
    # the same collected rows: re-reading ``queries`` would pay an
    # expensive plan twice, and a non-deterministic one could disagree.
    if prune_by_collect:
        from collections import Counter

        q_rows = [(int(r["query_id"]), int(r["k"]), r["terms"]) for r in queries.collect()]
        local_qterms = [
            (qid, k, t, int(c))
            for qid, k, terms in q_rows
            for t, c in Counter(terms or []).items()
        ]
        qterms = spark.createDataFrame(
            local_qterms, "query_id long, k int, term string, q_cnt long"
        )
        orig_k = spark.createDataFrame(
            [(qid, k) for qid, k, _ in q_rows], "query_id long, k_orig int"
        )
    else:
        qterms = (
            queries.select("query_id", "k", F.explode("terms").alias("term"))
            .groupBy("query_id", "k", "term")
            .agg(F.count(F.lit(1)).alias("q_cnt"))
        )
        orig_k = queries.select("query_id", F.col("k").alias("k_orig"))
    # Tombstoned docs are filtered AFTER the kernel; each per-shard top-k
    # over-fetches by the UNAPPLIED tombstone count so the final top-k
    # never under-fills (tombstones already physically applied by
    # patch_deletes cannot surface, so they need no headroom).
    n_ts = index.n_tombstones
    n_unapplied = index.n_unapplied_tombstones
    if n_unapplied:
        qterms = qterms.withColumn(
            "k", (F.col("k") + F.lit(n_unapplied)).cast("int")
        )

    tp = index.term_postings
    ts = index.term_stats
    if prune_by_collect:
        if known_terms is not None:
            terms = sorted(set(known_terms))
        else:
            terms = sorted({t for _, _, t, _ in local_qterms})
        if not terms:
            return spark.createDataFrame(
                [], "query_id long, doc_id long, score double, rank int"
            )
        tp = tp.filter(F.col("term").isin(terms))
        ts = ts.filter(F.col("term").isin(terms))

    idf = F.log(F.lit(float(index.n_docs)) / F.coalesce(F.col("df"), F.lit(1)).cast("double"))
    q_with_mult = (
        qterms.join(ts, "term", "left")
        .select(
            "query_id",
            "k",
            "term",
            (F.col("q_cnt").cast("double") * idf).alias("mult"),
        )
    )

    rows = tp.join(F.broadcast(q_with_mult), "term", "inner").select(
        "query_id", "k", "term", "mult", "shard",
        "postings", "weights", "block_last", "block_max", "block_off",
    )
    per_shard = (
        rows.repartition("query_id", "shard")
        .sortWithinPartitions("query_id", "shard", "term")
        .mapInPandas(_topk_shard_stream, _KERNEL_SCHEMA)
    )
    if n_ts:
        per_shard = per_shard.join(
            F.broadcast(index.tombstones), "doc_id", "left_anti"
        )
    w = Window.partitionBy("query_id").orderBy(F.desc("score"), F.asc("doc_id"))
    ranked = per_shard.withColumn("rank", F.row_number().over(w))
    return (
        ranked.join(F.broadcast(orig_k), "query_id")
        .filter(F.col("rank") <= F.col("k_orig"))
        .select("query_id", "doc_id", "score", "rank")
    )


def bm25_query_terms(
    index: IndexHandle, terms: list[str], k: int = 10
) -> DataFrame:
    """Single ad-hoc query -> ``(doc_id, score)`` ordered, limit k."""
    spark = index.spark
    q = spark.createDataFrame(
        [(0, terms, k)], "query_id long, terms array<string>, k int"
    )
    return (
        bm25_query_index(index, q, known_terms=terms)
        .select("doc_id", "score")
        .orderBy("rank")
    )


def bm25_query_terms_local(
    index: IndexHandle, terms: list[str], k: int = 10, df_budget: int = 2_000_000
) -> list[tuple[int, float]]:
    """Low-latency single-query path: ONE pruned scan collects the
    query's (term, shard) runs to the driver (a few compressed blobs),
    then the MaxScore kernel runs locally — no shuffle, no window, no
    Python-worker round trip. This is the query-coordinator pattern a
    serving tier uses; the distributed path (bm25_query_terms) is for
    query BATCHES. Exact same semantics: shards are disjoint doc sets,
    so feeding each run as its own list to the kernel double-counts
    nothing, and df(term) = Σ df_shard of the collected runs.

    ``df_budget`` guards the driver: a stop-like term's posting list is
    proportional to the corpus, and collecting it would OOM the driver at
    10^12 files. term_stats (one tiny pruned scan, one row per query
    term) is consulted FIRST; if Σ df exceeds the budget the query is
    delegated to the distributed kernel (``bm25_query_index``), which
    returns identical results — the executors decode, the driver only
    sees k rows.
    """
    import math

    import pandas as pd

    if not terms:
        return []
    distinct = sorted(set(terms))
    q_cnt = {t: terms.count(t) for t in distinct}
    df_dict = getattr(index, "_df_dict", None)
    if df_dict is not None:
        # warmed handle (IndexHandle.warm): the term dictionary is
        # coordinator-resident, so the budget precheck costs no Spark job
        # and vocabulary misses short-circuit with zero jobs
        total_df = sum(df_dict.get(t, 0) for t in distinct)
        if total_df == 0:
            return []
    else:
        total_df = (
            index.term_stats.filter(F.col("term").isin(distinct))
            .agg(F.sum("df").alias("s"))
            .collect()[0]["s"]
            or 0
        )
    if total_df > df_budget:
        out = bm25_query_terms(index, terms, k=k).collect()
        return [(int(r["doc_id"]), float(r["score"])) for r in out]
    rows = (
        index.term_postings.filter(F.col("term").isin(distinct))
        .select(
            "term", "shard", "df_shard",
            "postings", "weights", "block_last", "block_max", "block_off",
        )
        .collect()
    )
    if not rows:
        return []
    df_total: dict[str, int] = {}
    for r in rows:
        df_total[r["term"]] = df_total.get(r["term"], 0) + r["df_shard"]
    ts = index.tombstones
    deleted = (
        {r["doc_id"] for r in ts.collect()} if index.n_tombstones else set()
    )
    k_fetch = k + len(deleted)
    pdf = pd.DataFrame(
        {
            "query_id": [0] * len(rows),
            "k": [k_fetch] * len(rows),
            "term": [r["term"] for r in rows],
            "mult": [
                q_cnt[r["term"]] * math.log(index.n_docs / df_total[r["term"]])
                for r in rows
            ],
            "shard": [r["shard"] for r in rows],
            "postings": [bytes(r["postings"]) for r in rows],
            "weights": [bytes(r["weights"]) for r in rows],
            "block_last": [r["block_last"] for r in rows],
            "block_max": [r["block_max"] for r in rows],
            "block_off": [r["block_off"] for r in rows],
        }
    )
    out = _topk_shard(pdf)
    result = [
        (int(d), float(s))
        for d, s in zip(out["doc_id"], out["score"])
        if int(d) not in deleted
    ]
    return result[:k]
