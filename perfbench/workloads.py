"""The benchmark's workloads and the metrics they report.

Both workloads are closed loops with one client on ``local[cores]``. The
seed drives ``synth_corpus``, ``reference_queries`` and the delta and
delete sets. Indexes are built the way a user builds them: write the
corpus as an Iceberg table with ``catalog.write_table``, load it with
``load_corpus``, attach doc ids, ``build_index`` into a fresh directory.
Each workload sets up ``SETUPS`` times and ``setup_s`` is the median
set-up wall; the first build also warms code generation and the Python
workers.

- ``search``: one index is built; a set-up opens and warms a serving
  handle on it (executor-cached tables and the driver's df dictionary).
  Rounds of single queries through ``bm25_query_terms_local`` alternate
  with the whole query set as one batch through ``bm25_query_index`` on
  each path. All timed work is in the query layer, behind caches that
  hit.
- ``ingest``: a set-up builds a base index; CDC cycles on set-ups' tables
  and indexes append a delta snapshot, read it with
  ``incremental_changes``, merge it with ``compact_index``, query; delete
  rows, read them, tombstone them, query; patch the tombstones, query.
  Every query opens the snapshot afresh and is never warmed, so it
  bypasses the serving caches.
"""

from __future__ import annotations

import contextlib
import os
import statistics
import time
from collections import defaultdict

import numpy as np
from pyspark.sql import functions as F

from perfbench.gate import Ledger, Oracle, content_sha256, first_difference, same_ranking
from perfbench.trace import SparkTaskLog, Tracer
from tfidf_spark.index import checkpoint
from tfidf_spark.index.builder import build_index, load_index
from tfidf_spark.index.incremental import compact_index, delete_docs, patch_deletes
from tfidf_spark.index.query import DECODE_STATS, bm25_query_index, bm25_query_terms_local
from tfidf_spark.sources import catalog, iceberg_meta
from tfidf_spark.sources.corpus import reference_queries, synth_corpus, with_doc_id

SETUPS = 3
SEARCH_DOCS = 4_000
INGEST_BASE_DOCS = 2_000
INGEST_DELTA_DOCS = INGEST_BASE_DOCS // 10
INGEST_DELETE_DOCS = 20
# CDC cycles, each on its own set-up's table and index; the first
# set-up, which also warms code generation, gets none (run budget)
INGEST_CYCLES = 2
N_QUERIES = 200
# p90 needs at least ten samples beyond it
MIN_SINGLES = 100
# at least this many rounds of MIN_SINGLES / SEARCH_ROUNDS single
# queries followed by one batch on each path
SEARCH_ROUNDS = 2
# reference_queries kind = query_id % 5
KINDS = ("head", "mid", "tail", "miss", "mixed")
QUERY_SCHEMA = "query_id long, terms array<string>, k int"
CORPUS_COLS = ["repo", "path", "commit", "lang", "content"]


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def p90(xs) -> float:
    return float(statistics.quantiles(xs, n=10)[-1]) if len(xs) >= 2 else median(xs)


def docs_of(pdf) -> dict[int, str]:
    """doc_id -> content of corpus rows."""
    return {int(d): c for d, c in zip(pdf["doc_id"], pdf["content"])}


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(d, f))
    return total


class Bench:
    """One run: the session, the scratch directory, the tracer and the
    ledger of attempted and failed operations."""

    def __init__(self, spark, work, seed, seconds, cores, trace):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.seconds = seconds
        self.cores = cores
        self.trace = trace
        self.tracer = Tracer(spark.sparkContext, enabled=trace)
        self.ledger = Ledger()
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.scan_bytes: list[int] = []
        # per traced/untraced op wall, for the tracing overhead
        self.ab: dict[bool, list[float]] = {True: [], False: []}
        self.summary: list[str] = []
        self.phases: list[str] = []
        self._phase_t = time.perf_counter()
        self._span_on = trace
        if trace:
            # builder stages are spans around StageCheckpointer.run
            orig = checkpoint.StageCheckpointer.run
            tracer = self.tracer

            def run_stage(ckpt, stage, fn):
                with tracer.span(f"builder.{stage}"):
                    return orig(ckpt, stage, fn)

            checkpoint.StageCheckpointer.run = run_stage

    # -- helpers -------------------------------------------------------------

    def phase(self, name: str) -> None:
        """Note the wall time since the previous phase mark."""
        now = time.perf_counter()
        self.phases.append(f"{name} {now - self._phase_t:.2f}s")
        self._phase_t = now

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    @contextlib.contextmanager
    def op(self, name: str, traced: bool = True):
        """Root span of one operation; ``traced=False`` runs it with the
        tracer off (the untraced half of the overhead comparison)."""
        self.tracer.enabled = self._span_on and traced
        try:
            with self.tracer.op(name) as s:
                yield s
        finally:
            self.tracer.enabled = self._span_on

    def corpus(self, n_docs: int):
        """The seeded corpus rows, in generation order, on the driver,
        with the doc ids the engine's ``with_doc_id`` gives them."""
        df = synth_corpus(self.spark, n_docs, seed=self.seed, partitions=self.cores)
        pdf = with_doc_id(df).toPandas()
        pdf["idx"] = pdf["path"].str.extract(r"/f(\d+)\.", expand=False).astype(int)
        return pdf.sort_values("idx").reset_index(drop=True)

    def write_table(self, pdf, table: str) -> int:
        with self.tracer.span("catalog.write_table"):
            catalog.write_table(
                self.spark.createDataFrame(pdf[CORPUS_COLS]), table, fmt="iceberg"
            )
        return iceberg_meta.current_metadata(table)["current-snapshot-id"]

    def build(self, table: str, out: str) -> dict:
        with self.tracer.span("catalog.load_corpus"):
            df, fp = catalog.load_corpus(self.spark, table, fmt="iceberg")
        if self.trace:
            # bytes of the data files the scan covers (Spark's input
            # metrics miss reads made behind a Python UDF)
            files = iceberg_meta.snapshot_entries(table)["data"]
            self.scan_bytes.append(
                sum(os.path.getsize(f["path"].removeprefix("file:")) for f in files)
            )
        with self.tracer.span("builder.build_index"):
            return build_index(with_doc_id(df), out, source_snapshot=fp)

    def base(self, pdf, i: int) -> dict:
        """Write ``pdf`` as a new Iceberg table, load it, attach doc ids
        and build its index, all into fresh directories."""
        table, out = self.path(f"table{i}"), self.path(f"index{i}")
        snap = self.write_table(pdf, table)
        manifest = self.build(table, out)
        self.note_index(out, manifest)
        return {"table": table, "snap": snap, "dir": out, "manifest": manifest}

    def setups(self, fn, teardown=None) -> list:
        """Run ``fn(i)`` SETUPS times; ``setup_s`` is the median wall.
        ``teardown`` releases the previous result, untimed, before the
        next set-up starts."""
        out, walls = [], []
        for i in range(SETUPS):
            if teardown is not None and out:
                teardown(out[-1])
            with self.op("op.setup"):
                t0 = time.perf_counter()
                out.append(fn(i))
                walls.append(time.perf_counter() - t0)
        self.e2e["setup_s"] = median(walls)
        self.summary.append("set-up walls: " + ", ".join(f"{w:.3f}" for w in walls) + " s")
        return out

    def check_setups(self, pdf, states, oracle: Oracle) -> None:
        """Each set-up's index counts the oracle's docs and postings, and
        its table snapshot holds the generated rows (content sha256)."""
        for st in states:
            m = st["manifest"]
            ok = m["n_docs"] == oracle.index.n_docs and (
                m["metrics"]["postings_emitted"] == oracle.n_postings
            )
            self.ledger.record(ok, f"{st['dir']}: n_docs/postings_emitted differ from the oracle")
            df, _ = catalog.load_corpus(self.spark, st["table"], fmt="iceberg", snapshot_id=st["snap"])
            got = {
                r["path"]: r["h"]
                for r in df.select("path", F.sha2("content", 256).alias("h")).collect()
            }
            want = {p: content_sha256(c) for p, c in zip(pdf["path"], pdf["content"])}
            self.ledger.record(got == want, f"{st['table']}: content sha256 differs")

    def query(self, h, terms, k) -> list[tuple[int, float]]:
        with self.tracer.span("query.bm25_query_terms_local") as s:
            before = dict(DECODE_STATS)
            out = bm25_query_terms_local(h, terms, k)
            if s is not None:
                s.attrs["fetched"] = DECODE_STATS["bytes_total"] - before["bytes_total"]
                s.attrs["decoded"] = DECODE_STATS["bytes_decoded"] - before["bytes_decoded"]
        return out

    def note_index(self, index_dir: str, manifest: dict) -> None:
        """Per-layer size metrics of a freshly built index."""
        if not self.trace:
            return
        for name in ("postings", "doc_stats", "term_postings", "term_stats"):
            self.layer[f"builder.stored_bytes.{name}"] = float(
                dir_bytes(os.path.join(index_dir, name))
            )
        m = manifest["metrics"]
        self.layer["codec.bytes_per_posting"] = m["bytes_compressed"] / max(m["postings_emitted"], 1)

    # -- reporting -----------------------------------------------------------

    def per_layer(self, events_dir: str) -> dict[str, float]:
        return layer_metrics(self, SparkTaskLog(events_dir))

    def report(self, workload: str, metrics: dict[str, float], units: dict[str, str]):
        missing = sorted(set(units) - set(metrics))
        if missing:
            raise RuntimeError(f"{workload} did not measure {missing}")
        lg = self.ledger
        lines = list(self.summary)
        lines.append("phases: " + ", ".join(self.phases))
        lines.append(
            f"{workload}: attempted={lg.attempted} failed={lg.failed} "
            f"failed_share={lg.failed / max(lg.attempted, 1):.4f} "
            f"correct={lg.failed == 0}"
        )
        lines.extend(f"FAILED: {r}" for r in lg.reasons)
        for name in units:
            lines.append(f"  {name} = {metrics[name]:.6g} {units[name]}")
        return {"summary": lines, "result": lg.result(metrics, units)}


# ---------------------------------------------------------------------------
# search


def run_search(b: Bench) -> None:
    spark = b.spark
    pdf = b.corpus(SEARCH_DOCS)
    b.phase("corpus")
    content_bytes = int(pdf["content"].fillna("").str.encode("utf-8").str.len().sum())
    queries = reference_queries(N_QUERIES, seed=b.seed)
    qdf = spark.createDataFrame(queries, QUERY_SCHEMA)

    with b.op("op.prep"):
        state = b.base(pdf, 0)
    index_dir = state["dir"]
    b.phase("prep")

    def setup(i):
        h = load_index(spark, index_dir)
        with b.tracer.span("query.warm"):
            h.warm()
        return h

    # handles on one index share Spark's cached plans, so the previous
    # handle is released before the next set-up warms its own
    h = b.setups(setup, teardown=lambda old: old.cool())[-1]
    b.phase("setup")
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    mem = sum(r.memSize() for r in storage)
    disk = sum(r.diskSize() for r in storage)
    b.summary.append(
        f"search: corpus {len(pdf)} docs, {content_bytes} content bytes, index "
        f"{dir_bytes(index_dir)} bytes; warmed tables {mem} bytes in storage "
        f"memory, {disk} on disk (fits={disk == 0})"
    )

    # warm the query paths (driver kernel, executor kernel, both batch
    # plans) outside the timed region
    for _, terms, k in queries[:3]:
        bm25_query_terms_local(h, terms, k)
    for prune in (True, False):
        bm25_query_index(h, qdf.limit(10), prune_by_collect=prune).collect()

    b.phase("warm-up")
    # rounds of single queries then one batch per path, so a slow spell
    # on the host lands in part of each kind of sample, not all of it
    deadline = time.perf_counter() + b.seconds
    singles = []  # (qid, seconds, result)
    batches = {True: [], False: []}  # prune_by_collect -> [(seconds, rows)]
    rounds = 0
    while rounds < SEARCH_ROUNDS or time.perf_counter() < deadline:
        for _ in range(MIN_SINGLES // SEARCH_ROUNDS):
            i = len(singles)
            qid, terms, k = queries[i % len(queries)]
            traced = i % 2 == 0
            with b.op("op.single", traced) as s:
                res, dt = b.ledger.timed(lambda: b.query(h, terms, k), f"single q{qid}")
                if s is not None:
                    s.attrs["kind"] = KINDS[qid % 5]
            b.ab[traced].append(dt)
            singles.append((qid, dt, res))
        for prune in (True, False):
            name = "op.batch_pruned" if prune else "op.batch_join"
            with b.op(name):

                def run():
                    with b.tracer.span("query.bm25_query_index"):
                        plan = bm25_query_index(h, qdf, prune_by_collect=prune)
                    with b.tracer.span("query.batch_collect"):
                        return plan.collect()

                rows, dt = b.ledger.timed(run, name)
            batches[prune].append((dt, rows))
        rounds += 1

    b.phase("measure")
    # correctness, outside the timed region
    oracle = Oracle(docs_of(pdf))
    b.check_setups(pdf, [state], oracle)
    want = {qid: oracle.topk(terms, k) for qid, terms, k in queries}
    local = {}
    for qid, _, res in singles:
        if res is not None:
            local[qid] = res
            if not same_ranking(res, want[qid]):
                b.ledger.wrong(
                    f"single q{qid} {queries[qid][1]} differs from the oracle: "
                    + first_difference(res, want[qid])
                )
    for prune, runs in batches.items():
        for _, rows in runs:
            if rows is None:
                continue
            got = defaultdict(list)
            for r in sorted(rows, key=lambda r: (r["query_id"], r["rank"])):
                got[int(r["query_id"])].append((int(r["doc_id"]), float(r["score"])))
            bad = [q for q in want if not same_ranking(got.get(q, []), want[q])] + [
                q for q, res in local.items() if not same_ranking(got.get(q, []), res)
            ]
            if bad:
                b.ledger.wrong(
                    f"batch prune_by_collect={prune} differs from the oracle or the "
                    f"single-query results on queries {sorted(set(bad))}"
                )

    b.phase("check")
    lat = [dt for _, dt, res in singles if res is not None]
    b.e2e["latency_p50_ms"] = median(lat) * 1000.0
    walls = [dt for runs in batches.values() for dt, rows in runs if rows is not None]
    b.e2e["work_per_s"] = len(walls) * len(queries) / sum(walls) if walls else 0.0
    b.e2e["stored_bytes_per_input_byte"] = dir_bytes(index_dir) / content_bytes
    if b.trace:
        b.layer["query.latency_p90_ms"] = p90(lat) * 1000.0
        for prune, key in ((True, "query.batch_pruned_qps"), (False, "query.batch_join_qps")):
            w = [dt for dt, rows in batches[prune] if rows is not None]
            b.layer[key] = len(queries) / median(w) if w else 0.0
    b.summary.append(
        f"search: {len(lat)} single queries, p50 {median(lat) * 1e3:.2f} ms, "
        f"p90 {p90(lat) * 1e3:.2f} ms; batches "
        + ", ".join(
            f"{'pruned' if p else 'join'} {dt:.2f}s" for p, r in batches.items() for dt, _ in r
        )
    )


# ---------------------------------------------------------------------------
# ingest


def rare_term_query(oracle: Oracle, doc_id: int) -> list[str]:
    """A one-term query on the doc's rarest term (fewest docs; ties by
    term), so the oracle ranks the doc in the top-k."""
    counts = oracle.index.counts[doc_id]
    term = min(counts, key=lambda t: (oracle.index.df[t], t))
    return [term]


def run_ingest(b: Bench) -> None:
    spark = b.spark
    n_total = INGEST_BASE_DOCS + INGEST_CYCLES * INGEST_DELTA_DOCS
    pdf = b.corpus(n_total)
    b.phase("corpus")
    base = pdf.iloc[:INGEST_BASE_DOCS]
    deltas = [
        pdf.iloc[INGEST_BASE_DOCS + c * INGEST_DELTA_DOCS : INGEST_BASE_DOCS + (c + 1) * INGEST_DELTA_DOCS]
        for c in range(INGEST_CYCLES)
    ]
    rng = np.random.default_rng([b.seed, 1])
    # delete from regular docs (ids >= 6 skip the tokenizer edge cases)
    victims = [
        base.iloc[np.sort(rng.choice(np.arange(6, len(base)), INGEST_DELETE_DOCS, replace=False))]
        for _ in range(INGEST_CYCLES)
    ]
    queries = reference_queries(N_QUERIES, seed=b.seed)

    states = b.setups(lambda i: b.base(base, i))
    b.phase("setup")

    base_docs = docs_of(base)
    lat: list[float] = []
    fresh_s, visible_s, rates, stored, checks, patch_bytes = [], [], [], [], [], []
    qi = 0

    def probe(h_dir, terms, k):
        """Open the snapshot afresh and query it."""
        with b.tracer.span("query.load_index"):
            h = load_index(spark, h_dir)
        t0 = time.perf_counter()
        res = b.query(h, terms, k)
        lat.append(time.perf_counter() - t0)
        return res

    def extra_query(h_dir, oracle_state):
        """One reference query on the snapshot; successive calls rotate
        through the query kinds. A traced run repeats it untraced, for
        the tracing overhead."""
        nonlocal qi
        qid, terms, k = queries[qi % len(queries)]
        qi += 1
        for traced in (True, False) if b.trace else (True,):
            with b.op("op.query", traced) as s:
                res, dt = b.ledger.timed(lambda: probe(h_dir, terms, k), f"ingest q{qid}")
                if s is not None:
                    s.attrs["kind"] = KINDS[qid % 5]
            b.ab[traced].append(dt)
            checks.append((res, oracle_state.topk(terms, k), f"ingest q{qid}"))

    b.check_setups(base, states, Oracle(base_docs))
    for c, st in enumerate(states[-INGEST_CYCLES:]):
        table, snap0, dir0 = st["table"], st["snap"], st["dir"]
        oracle = Oracle(base_docs)
        delta_docs = docs_of(deltas[c])
        oracle.add(delta_docs)
        dir1, dir2 = b.path(f"c{c}_s1"), b.path(f"c{c}_s2")
        # the first delta doc whose rare-term query ranks a delta doc
        fresh_q, fresh_want = next(
            (q, want)
            for q, want in (
                (q, oracle.topk(q, 10))
                for q in (rare_term_query(oracle, d) for d in sorted(delta_docs))
            )
            if any(d in delta_docs for d, _ in want)
        )

        # append, then time CDC read -> merge -> first query on the new snapshot
        with b.op("op.append"):
            snap1, _ = b.ledger.timed(lambda: b.write_table(deltas[c], table), "append")

        def freshen():
            with b.tracer.span("catalog.incremental_changes"):
                app, _, _ = catalog.incremental_changes(spark, table, snap0, snap1)
            h0 = load_index(spark, dir0)
            with b.tracer.span("incremental.compact_index"):
                compact_index(h0, with_doc_id(app), dir1)
            return probe(dir1, fresh_q, 10)

        with b.op("op.freshness"):
            fresh_res, dt = b.ledger.timed(freshen, f"cycle {c} freshness")
        checks.append((fresh_res, fresh_want, f"cycle {c} freshness probe"))
        fresh_s.append(dt)
        extra_query(dir1, oracle)

        # delete, then time CDC read -> tombstones -> queries without them
        victim_docs = docs_of(victims[c])
        # probes whose top-k holds a victim before the delete
        del_qs = [
            q
            for q in (rare_term_query(oracle, d) for d in sorted(victim_docs))
            if any(d in victim_docs for d, _ in oracle.topk(q, 10))
        ][:2]
        paths = victims[c]["path"].tolist()
        with b.op("op.delete"):
            with b.tracer.span("catalog.delete_where"):
                snap2, _ = b.ledger.timed(
                    lambda: catalog.delete_where(spark, table, F.col("path").isin(paths)),
                    "delete_where",
                )
        oracle.hide(victim_docs)

        def make_invisible():
            with b.tracer.span("catalog.incremental_changes"):
                _, dele, _ = catalog.incremental_changes(spark, table, snap1, snap2)
                ids = [int(r["doc_id"]) for r in with_doc_id(dele).select("doc_id").collect()]
            with b.tracer.span("incremental.delete_docs"):
                delete_docs(load_index(spark, dir1), ids)
            return ids, [probe(dir1, q, 10) for q in del_qs]

        with b.op("op.delete_visible"):
            got, dt = b.ledger.timed(make_invisible, f"cycle {c} delete visibility")
        visible_s.append(dt)
        if got is not None:
            ids, results = got
            ok = sorted(ids) == sorted(victim_docs) and all(
                not any(d in victim_docs for d, _ in res) and same_ranking(res, oracle.topk(q, 10))
                for q, res in zip(del_qs, results)
            )
            if not ok:
                b.ledger.wrong(f"cycle {c}: deleted ids or probes after the delete are wrong")

        # patch the tombstones into the postings, then query
        with b.op("op.patch"):
            with b.tracer.span("incremental.patch_deletes"):
                pm, _ = b.ledger.timed(
                    lambda: patch_deletes(load_index(spark, dir1), dir2), f"cycle {c} patch"
                )
        oracle.apply_hidden()
        if pm is not None:
            want_n = INGEST_BASE_DOCS + INGEST_DELTA_DOCS - INGEST_DELETE_DOCS
            if pm["n_docs"] != want_n:
                b.ledger.wrong(f"cycle {c}: patched n_docs {pm['n_docs']} != {want_n}")
            patch_bytes.append(pm["metrics"]["bytes_written_postings"])
            b.layer["incremental.segments"] = float(len(pm["segments"]["term_postings"]))
            b.layer["incremental.shadowed_runs"] = float(pm["metrics"]["runs_patched"])
        extra_query(dir2, oracle)

        if fresh_res is not None and got is not None:
            rates.append((INGEST_DELTA_DOCS + INGEST_DELETE_DOCS) / (fresh_s[-1] + visible_s[-1]))
        live_bytes = sum(len((t or "").encode("utf-8")) for t in oracle.docs.values())
        stored.append(sum(dir_bytes(d) for d in (dir0, dir1, dir2)) / live_bytes)

    b.phase("cycles")
    for res, want, what in checks:
        if res is not None and not same_ranking(res, want):
            b.ledger.wrong(f"{what} differs from the oracle: {first_difference(res, want)}")

    b.phase("check")
    b.e2e["latency_p50_ms"] = median(lat) * 1000.0
    b.e2e["work_per_s"] = median(rates)
    b.e2e["stored_bytes_per_input_byte"] = median(stored)
    if b.trace:
        b.layer["incremental.patch_bytes_written"] = median(patch_bytes)
        b.layer["incremental.freshness_s"] = median(fresh_s)
        b.layer["incremental.delete_visible_s"] = median(visible_s)
        b.layer["query.latency_p90_ms"] = p90(lat) * 1000.0
    b.summary.append(
        f"ingest: base {INGEST_BASE_DOCS} docs, delta {INGEST_DELTA_DOCS}, "
        f"deletes {INGEST_DELETE_DOCS}, {INGEST_CYCLES} cycles; freshness "
        + ", ".join(f"{x:.2f}" for x in fresh_s)
        + " s; delete visible "
        + ", ".join(f"{x:.2f}" for x in visible_s)
        + f" s; {len(lat)} queries p50 {median(lat) * 1e3:.1f} ms"
    )


WORKLOADS = {"search": run_search, "ingest": run_ingest}


# ---------------------------------------------------------------------------
# per-layer metrics from the spans and the event log


def layer_metrics(b: Bench, log: SparkTaskLog) -> dict[str, float]:
    tr = b.tracer
    kids = tr.children()

    def durs(name):
        return [s.dur for s in tr.named(name)]

    def tree(s):
        return tr.subtree(s, kids)

    m: dict[str, float] = {}
    m["catalog.write_table_s"] = median(durs("catalog.write_table"))
    m["catalog.load_corpus_s"] = median(durs("catalog.load_corpus"))
    m["catalog.cdc_read_s"] = median(durs("catalog.incremental_changes"))
    m["catalog.delete_where_s"] = median(durs("catalog.delete_where"))

    for stage in ("postings", "doc_stats", "encode", "term_stats"):
        m[f"builder.{stage}_s"] = median(durs(f"builder.{stage}"))
    builds = tr.named("builder.build_index")
    rows, shuffle, busy, driver = [], [], [], []
    for s in builds:
        driver.append(tr.self_time(s, kids))
        ids = tree(s)
        shuffle.append(log.sum(ids, "shuffle_write_bytes"))
        busy.append(log.sum(ids, "task_run_s") / (s.dur * b.cores))
        for stage in kids.get(s.id, []):
            if stage.name == "builder.postings":
                rows.append(log.sum(tree(stage), "output_records"))
    m["catalog.scan_bytes"] = median(b.scan_bytes)
    m["builder.driver_s"] = median(driver)
    m["builder.postings_rows"] = median(rows)
    m["builder.shuffle_write_bytes"] = median(shuffle)
    m["builder.core_busy_frac"] = median(busy)
    m["builder.task_failures"] = sum(log.sum(tree(s), "task_failures") for s in builds)
    for name in ("postings", "doc_stats", "term_postings", "term_stats"):
        key = f"builder.stored_bytes.{name}"
        m[key] = b.layer.get(key, 0.0)
    m["codec.bytes_per_posting"] = b.layer.get("codec.bytes_per_posting", 0.0)

    # single queries: search singles and ingest queries (traced halves)
    qs = [s for s in tr.spans if s.name in ("op.single", "op.query") and s.t1 is not None]
    jobs, job_s, drv, fetched = [], [], [], []
    dec_sum = fetch_sum = 0.0
    by_kind = defaultdict(list)
    for s in qs:
        ids = tree(s)
        jobs.append(log.sum(ids, "jobs"))
        js = log.sum(ids, "job_s")
        job_s.append(js)
        drv.append(s.dur - js)
        by_kind[s.attrs.get("kind")].append(s.dur)
        for sid in ids:
            a = tr.spans[sid].attrs
            if "fetched" in a:
                fetched.append(a["fetched"])
                fetch_sum += a["fetched"]
                dec_sum += a["decoded"]
    m["query.jobs_per_query"] = median(jobs)
    m["query.spark_job_s"] = median(job_s)
    m["query.driver_s"] = median(drv)
    m["query.bytes_fetched_per_query"] = median(fetched)
    m["query.decode_frac"] = dec_sum / fetch_sum if fetch_sum else 0.0
    for kind in KINDS:
        m[f"query.latency_p50_ms.{kind}"] = median(by_kind.get(kind, [])) * 1000.0
    m["query.latency_p90_ms"] = b.layer.get("query.latency_p90_ms", 0.0)
    m["query.batch_pruned_qps"] = b.layer.get("query.batch_pruned_qps", 0.0)
    m["query.batch_join_qps"] = b.layer.get("query.batch_join_qps", 0.0)
    batch_ops = [s for s in tr.spans if s.name in ("op.batch_pruned", "op.batch_join")]
    m["query.batch_collect_s"] = median(durs("query.batch_collect"))
    m["query.batch_shuffle_bytes"] = median([log.sum(tree(s), "shuffle_write_bytes") for s in batch_ops])
    m["query.batch_kernel_task_s"] = median([log.sum(tree(s), "task_run_s") for s in batch_ops])
    m["query.warm_s"] = median(durs("query.warm"))

    m["incremental.compact_index_s"] = median(durs("incremental.compact_index"))
    m["incremental.delete_docs_s"] = median(durs("incremental.delete_docs"))
    m["incremental.patch_deletes_s"] = median(durs("incremental.patch_deletes"))
    for key in (
        "incremental.patch_bytes_written",
        "incremental.segments",
        "incremental.shadowed_runs",
        "incremental.freshness_s",
        "incremental.delete_visible_s",
    ):
        m[key] = b.layer.get(key, 0.0)

    m["spark.task_failures"] = log.total["task_failures"]
    traced, untraced = median(b.ab[True]), median(b.ab[False])
    m["trace.overhead_frac"] = traced / untraced - 1.0 if untraced else 0.0
    roots = [s for s in tr.spans if s.parent is None and s.t1 is not None]
    wall = sum(s.dur for s in roots)
    m["trace.unattributed_frac"] = (
        sum(tr.self_time(s, kids) for s in roots) / wall if wall else 0.0
    )
    m["trace.spans"] = float(len(tr.spans))
    return m
