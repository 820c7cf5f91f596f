"""Benchmark harness (driver contract): runs the headline query suite at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS], plus the index-build + BM25 pipeline on the
deterministic synthetic corpus (the driver testdata documents are too
small to exercise the build path).

Prints ONE JSON line:
  {"metric": "...", "value": <total sec>, "unit": "sec",
   "queries": {...per-query sec...}, "sf": <sf>,
   "build_files_per_sec": ..., "query_p50_ms": ...}
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from tfidf_spark import entrypoints
from tfidf_spark.index.builder import build_index, load_index
from tfidf_spark.index.query import bm25_query_index
from tfidf_spark.session import get_spark
from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

HEADLINE = [
    "bm25_topk", "tfidf_topk", "collection_stats", "minhash_lsh_pairs",
    "simhash", "ann_cosine_topk", "lineitem_agg", "revenue_topk",
    "events_sessions", "clicks_asof_purchase", "kmv_distinct_terms",
]


def main():
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    sf = float(sf_dir.rstrip("/").rsplit("sf", 1)[-1]) if "sf" in sf_dir else 0.0
    n_corpus = int(os.environ.get("SPARK_GRAFT_CORPUS_DOCS", max(2000, int(sf * 200_000))))

    spark = get_spark(
        app_name="tfidf_spark-bench",
        master=f"local[{cpus}]",
        shuffle_partitions=max(4, cpus),
    )
    spark.sparkContext.setLogLevel("ERROR")
    timings: dict[str, float] = {}

    # Warm the session (codegen JIT, Python workers, parquet footers) so
    # headline timings measure query cost, not first-job startup.
    entrypoints.QUERIES["term_df"](spark, sf_dir).collect()
    entrypoints.QUERIES["lineitem_agg"](spark, sf_dir).collect()

    # 3 interleaved passes, median per query: this host's throughput
    # swings up to 4x minute-to-minute, so a single-sample suite reads
    # as regression or improvement depending on which minute the driver
    # lands in; interleaving spreads any bad minute across queries
    # instead of concentrating it on one
    passes = int(os.environ.get("SPARK_GRAFT_BENCH_PASSES", "3"))
    samples: dict[str, list[float]] = {n: [] for n in HEADLINE}
    for _ in range(passes):
        for name in HEADLINE:
            fn = entrypoints.QUERIES[name]
            t0 = time.perf_counter()
            fn(spark, sf_dir).collect()
            samples[name].append(time.perf_counter() - t0)
    for name, vals in samples.items():
        timings[name] = round(statistics.median(vals), 3)

    # index pipeline on the synthetic corpus (tmpfs: /tmp is a throttled
    # virtual disk in this sandbox). Like the headline suite, the
    # pipeline rows are MEDIANS over interleaved passes — the r3 bench
    # left index_build single-sampled and the host's 4x weather swings
    # made it read as a +47% regression that wasn't there (VERDICT r3).
    # Each pass builds into a FRESH directory so no pass reads the
    # other's files.
    fast = "/dev/shm" if os.path.isdir("/dev/shm") else None
    workdir = tempfile.mkdtemp(prefix="tfidf_bench_", dir=fast)
    pipe_passes = int(os.environ.get("SPARK_GRAFT_PIPELINE_PASSES", "3"))
    try:
        corpus = with_doc_id(synth_corpus(spark, n_corpus, partitions=cpus * 2))
        qset = reference_queries(50)
        qdf = spark.createDataFrame(qset, "query_id long, terms array<string>, k int")
        big = reference_queries(200)
        bigdf = spark.createDataFrame(big, "query_id long, terms array<string>, k int")

        pipe: dict[str, list[float]] = {
            "index_build": [], "index_query_batch50": [],
            "index_query_batch200_join": [],
        }
        idx = None
        for i in range(pipe_passes):
            idx_dir = f"{workdir}/p{i}/idx"
            t0 = time.perf_counter()
            build_index(corpus, idx_dir, n_shards=max(4, cpus // 2))
            pipe["index_build"].append(time.perf_counter() - t0)

            idx = load_index(spark, idx_dir)
            t0 = time.perf_counter()
            n_results = bm25_query_index(idx, qdf).count()
            pipe["index_query_batch50"].append(time.perf_counter() - t0)

            # large-batch path: shuffle join instead of a driver IN-list —
            # the shape that scales past driver-collected term sets
            t0 = time.perf_counter()
            bm25_query_index(idx, bigdf, prune_by_collect=False).count()
            pipe["index_query_batch200_join"].append(time.perf_counter() - t0)
            if i < pipe_passes - 1:
                shutil.rmtree(f"{workdir}/p{i}", ignore_errors=True)
        for name, vals in pipe.items():
            timings[name] = round(statistics.median(vals), 3)
        build_sec = statistics.median(pipe["index_build"])

        from tfidf_spark.index.query import bm25_query_terms_local

        lat = []
        for qid, terms, k in qset[:8]:
            t0 = time.perf_counter()
            bm25_query_terms_local(idx, terms, k)
            lat.append(time.perf_counter() - t0)
        query_p50_ms = round(1000 * statistics.median(lat), 1)

        # serving-tier latency: executor-memory pinned tables + the
        # coordinator-resident term dictionary and posting runs
        # (IndexHandle.warm)
        idx.warm()
        lat_w = []
        for qid, terms, k in qset[:8]:
            t0 = time.perf_counter()
            bm25_query_terms_local(idx, terms, k)
            lat_w.append(time.perf_counter() - t0)
        query_p50_warm_ms = round(1000 * statistics.median(lat_w), 1)
    finally:
        shutil.rmtree(workdir, ignore_errors=True)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "headline suite + index build/query wall time",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "corpus_docs": n_corpus,
                "build_files_per_sec": round(n_corpus / build_sec, 1),
                "query_p50_ms": query_p50_ms,
                "query_p50_warm_ms": query_p50_warm_ms,
                "batch50_results": n_results,
                "cpus": cpus,
            }
        )
    )
    spark.stop()
    # keep BENCH/TREND.json current (idempotent rebuild from the
    # driver-recorded BENCH_r*.json round snapshots)
    try:
        sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
        from tools.append_trend import rebuild

        rebuild()
    except Exception:
        pass  # trend upkeep must never fail the bench


if __name__ == "__main__":
    main()
