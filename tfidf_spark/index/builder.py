"""Inverted-index build: corpus -> compressed, doc-sharded posting lists.

Scale design (the part that must survive 10^12 files):

- **One tokenize pass.** Stage 1 materializes exploded postings
  ``(doc_id, term, cnt, dl)`` to parquet in a single scan of the corpus
  (zero-token docs kept as null-term sentinel rows so N and avgdl count
  them, matching the reference's all-docs-in-scope N,
  reference app/repositories/document.py:231-255). Doc stats, corpus
  stats, and the index all derive from that materialization — the raw
  text is never re-read.
- **Doc-sharding IS the skew handling.** A hot term (``the``, ``if``,
  ``return`` in ~every code file) would otherwise funnel its whole
  posting list through one reducer. Every posting carries
  ``shard = pmod(xxhash64(doc_id), n_shards)`` and lists are built per
  (term, shard): hot terms fan out across n_shards tasks — the explicit
  salting the north_rule requires, except the salt is KEPT in the index
  key: queries process (term, shard) runs independently (disjoint doc
  sets) and merge top-k, so no single-reducer merge exists at build OR
  query time. Size n_shards so max_df/n_shards * 16B fits comfortably in
  an executor task.
- **Group assembly is a Tungsten sort, not an aggregation.** Rows are
  hash-repartitioned by (term, shard) and sorted by
  (xxhash64(term), term, shard, doc_id) inside Tungsten (sign-flip docID
  order == signed order, so each run is already in codec order); ONE
  mapInPandas pass slices run boundaries and encodes them with
  ``codec.encode_runs``. ``write_runs`` is that plan, and the build,
  the incremental merge and the major compaction all write through it.
  Two rejected designs, both measured: per-group applyInPandas (~2ms
  Arrow overhead per group; vocab x shards groups dominated the build)
  and sort_array(collect_list(...)) (the JVM object aggregation alone
  cost ~7x the entire Python encode).
- BM25's idf-independent weight (cnt, dl, avgdl folded in) is computed
  JVM-side and stored per posting; its per-block max is the block-max
  skip metadata. Query-time score = idf * stored weight.
- On-disk layout: term_postings files are hash-partitioned by
  (term, shard) and, within each file, ordered by the term's xxhash64 —
  term-HASH order, not term order. Parquet min/max statistics on
  ``term`` therefore span nearly the whole vocabulary in every row group
  and seldom skip one; a term lookup's pushed-down IN-filter mainly keeps
  non-matching rows out of the plan above the scan.

The materialized tables are the scalable analog of the reference's
``word_frequencies`` B-tree'd table (reference app/db/models.py:94-110):
doc_stats == its per-document rows, term_stats == its GROUP BY word view
(reference app/repositories/document.py:190-229).
"""

from __future__ import annotations

import json
import math
import os
from collections.abc import Iterator

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from tfidf_spark import BM25_B, BM25_K1
from tfidf_spark.index.checkpoint import StageCheckpointer, write_json_atomic
from tfidf_spark.index.codec import BLOCK_SIZE, encode_runs
from tfidf_spark.operators.postings import with_term_counts
from tfidf_spark.operators.scoring import bm25_weight_expr

# On-disk snapshot format. v2 added block byte offsets (lazy per-block
# decode), v3 segment lists in the manifest, v4 shadow rows that name a
# segment by its POSITION in ``segments.term_postings`` (v3 used a ref
# string relative to the snapshot). Readers accept exactly this version;
# any other fails with one rebuild-required error.
FORMAT_VERSION = 4

INDEX_SCHEMA = StructType(
    [
        StructField("term", StringType()),
        StructField("shard", IntegerType()),
        StructField("df_shard", LongType()),
        StructField("postings", BinaryType()),
        StructField("weights", BinaryType()),
        StructField("block_last", ArrayType(LongType())),
        StructField("block_max", ArrayType(DoubleType())),
        StructField("block_off", ArrayType(LongType())),
        # blob size as a plain column: stats jobs read THIS, never the
        # binary columns (parquet column pruning skips the blobs)
        StructField("n_bytes", LongType()),
    ]
)

# The columns of a run the query kernel reads.
RUN_COLUMNS = (
    "term", "shard", "postings", "weights", "block_last", "block_max", "block_off",
)

# Driver bytes of one pinned run beyond its blobs and term: an 8-byte
# offset per variable-width column (term, two blobs, three block lists),
# the int32 shard and validity bits, rounded up. Each block adds one
# 8-byte entry to each of the three block lists.
_RUN_OVERHEAD = 64
_BLOCK_BYTES = 24


def runs_bytes_bound(stats: pa.Table, max_runs_per_term: int) -> int:
    """Upper bound on the Arrow bytes of the runs of the ``(term, df,
    bytes)`` rows in ``stats``: the blobs (``bytes``), per run its term
    string and ``_RUN_OVERHEAD``, and ``_BLOCK_BYTES`` per block. A term
    has at most ``min(df, max_runs_per_term)`` runs, and those runs at
    most ``ceil(df / BLOCK_SIZE)`` + runs blocks."""
    df = stats.column("df").to_numpy()
    runs = np.minimum(df, max_runs_per_term)
    term_len = pc.binary_length(stats.column("term")).to_numpy()
    blocks = -(-df // BLOCK_SIZE) + runs
    return int(
        stats.column("bytes").to_numpy().sum()
        + (runs * (term_len + _RUN_OVERHEAD)).sum()
        + (blocks * _BLOCK_BYTES).sum()
    )


def driver_result_cap(spark: SparkSession) -> float:
    """Spark's cap on the bytes one action may collect to the driver
    (``spark.driver.maxResultSize``, default 1g; 0 means no cap)."""
    conf = spark.sparkContext._jsc.sc().getConf()
    return conf.getSizeAsBytes("spark.driver.maxResultSize", "1g") or math.inf


def group_slices(
    batches: Iterator[pd.DataFrame], keys: tuple[str, ...]
) -> Iterator[tuple[pd.DataFrame, np.ndarray, int]]:
    """Boundary-carrying slicer for mapInPandas kernels over partitions
    sorted so each ``keys`` group's rows are adjacent. Yields
    ``(pdf, starts, end)``: rows ``[starts[i], starts[i + 1])`` (the last
    group ends at ``end``) are complete groups; a trailing group that may
    continue into the next Arrow batch is held back and prepended to it.
    Replaces per-group applyInPandas (~2 ms Arrow round-trip per group)
    and collect_list aggregations (~7x the whole Python encode)."""
    pend: pd.DataFrame | None = None
    for pdf in batches:
        if pend is not None:
            pdf = pd.concat([pend, pdf], ignore_index=True)
            pend = None
        if not len(pdf):
            continue
        change = np.zeros(len(pdf), dtype=bool)
        change[0] = True
        for key in keys:
            col = pdf[key].to_numpy()
            change[1:] |= col[1:] != col[:-1]
        starts = np.flatnonzero(change)
        if len(starts) == 1:
            pend = pdf  # single (possibly continuing) group: hold it all
            continue
        tail = int(starts[-1])
        pend = pdf.iloc[tail:].reset_index(drop=True)
        yield pdf, starts[:-1], tail
    if pend is not None and len(pend):
        yield pend, np.array([0]), len(pend)


def _encode_sorted_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas kernel over rows hash-partitioned by (term, shard) and
    sorted so each run's rows are adjacent and in doc_id order: every
    complete (term, shard) run of a batch is encoded in one
    ``codec.encode_runs`` call."""
    for pdf, starts, end in group_slices(batches, ("term", "shard")):
        runs = encode_runs(
            pdf["doc_id"].to_numpy(dtype=np.int64)[:end],
            pdf["w"].to_numpy(dtype=np.float64)[:end],
            starts,
        )
        df_shard = runs.pop("n")
        yield pd.DataFrame(
            {
                "term": pdf["term"].to_numpy()[starts],
                "shard": pdf["shard"].to_numpy()[starts],
                "df_shard": df_shard,
                **runs,
                "n_bytes": [len(p) + len(w) for p, w in zip(runs["postings"], runs["weights"])],
            }
        )


def shard_col(n_shards: int):
    """A doc's shard: every posting of a doc lives in the runs of this
    shard, so deletes and per-shard scans can locate it from the id."""
    return F.pmod(F.xxhash64("doc_id"), F.lit(n_shards)).cast("int")


def write_runs(postings: DataFrame, n_shards: int, path: str) -> None:
    """Posting rows ``(term, doc_id, w)`` -> encoded (term, shard) runs
    (``INDEX_SCHEMA``) at ``path``. The one encode plan of the build, the
    incremental merge and the major compaction:

    Hash-shuffle rows by (term, shard), Tungsten-sort each partition by
    (tkey, term, shard, doc_id) and stream the sorted rows through the
    Arrow encode kernel. ``tkey = xxhash64(term)`` leads the sort so
    Tungsten radix-sorts an int64 instead of string-comparing terms
    (measured ~14% faster encode at 8 cores); ``term`` follows so hash
    collisions still sort adjacent-but-separated. tkey is projected AFTER
    the repartition so its 8 bytes/row never cross the shuffle. The
    written files are therefore in term-HASH order, not term order.
    (A repartitionByRange would re-run the pipeline just to sample
    boundaries; a collect_list aggregation was measured ~7x the cost of
    the entire Python encode.)"""
    spark = postings.sparkSession
    runs = (
        postings.select("term", shard_col(n_shards).alias("shard"), "doc_id", "w")
        .repartition("term", "shard")
        .withColumn("tkey", F.xxhash64("term"))
        .sortWithinPartitions("tkey", "term", "shard", "doc_id")
        .drop("tkey")
        .mapInPandas(_encode_sorted_stream, INDEX_SCHEMA)
    )
    # big Arrow batches ONLY for this plan: posting rows are ~30B, so
    # 100k rows/batch is a few MB and amortizes the kernel's per-batch
    # overhead; the session default stays 10k because the same knob
    # sizes text-carrying UDF batches (session.py)
    conf_key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(conf_key, "10000")
    spark.conf.set(conf_key, "100000")
    try:
        runs.write.mode("overwrite").parquet(path)
    finally:
        spark.conf.set(conf_key, prev)


def term_totals(runs: DataFrame) -> DataFrame:
    """Per-term ``(term, df, bytes)`` of ``(term, df_shard, n_bytes)`` rows
    — the term_stats table. df_shard/n_bytes are stored int columns, so
    the scan never touches a posting blob (parquet column pruning)."""
    return runs.groupBy("term").agg(
        F.sum("df_shard").alias("df"), F.sum("n_bytes").alias("bytes")
    )


def run_totals(runs: DataFrame) -> tuple[int, int]:
    """(postings, bytes) summed over encoded runs."""
    r = runs.agg(F.sum("df_shard"), F.sum("n_bytes")).collect()[0]
    return int(r[0] or 0), int(r[1] or 0)


def write_manifest(out_dir: str, manifest: dict) -> None:
    """Commit a snapshot: ``manifest.json`` is replaced atomically, so a
    crash mid-write never leaves a truncated manifest behind."""
    write_json_atomic(os.path.join(out_dir, "manifest.json"), manifest, indent=2)


def stage_postings(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    code_aware: bool = False,
) -> None:
    """Stage 1: single tokenize pass -> postings parquet
    ``(doc_id, term nullable, cnt, dl, part_id)``.

    EVERY doc additionally emits one null-term MARKER row with
    ``cnt = n_unique``: doc stats and per-partition lineage then derive
    from the markers with a filter/projection instead of a 17M-row
    groupBy shuffle, and zero-token docs stay counted in N/avgdl. The
    marker is prepended to the exploded map entries inside ONE explode
    (concat of arrays), so tokenization still runs exactly once.

    The write is PARTITIONED by ``sec`` (0 = postings, 1 = markers):
    downstream doc_stats reads only the marker directory (O(n_docs)
    rows) and encode only the posting directory — parquet partition
    pruning instead of a null-filter scan over the whole table. The
    marker scan was measured scaling at ~0.58 N->4N because it re-read
    all posting row groups just to drop them; directory pruning removes
    that entirely. partitionBy adds only a per-task sort on a 0/1 key,
    no shuffle."""
    counted = with_term_counts(docs, text_col, code_aware)
    marker = F.array(
        F.struct(
            F.lit(None).cast("string").alias("key"),
            F.size("term_counts").alias("value"),
        )
    )
    entries = F.concat(marker, F.map_entries("term_counts"))
    exploded = counted.select(
        F.col(id_col).alias("doc_id"),
        F.explode(entries).alias("e"),
        F.col("dl"),
        F.spark_partition_id().alias("part_id"),  # per-partition lineage key
    ).select(
        "doc_id",
        F.col("e.key").alias("term"),
        F.col("e.value").alias("cnt"),
        "dl",
        "part_id",
    )
    exploded.withColumn(
        "sec", F.when(F.col("term").isNull(), F.lit(1)).otherwise(F.lit(0))
    ).write.partitionBy("sec").mode("overwrite").parquet(f"{out_dir}/postings")


def stage_encode(
    raw: DataFrame,
    out_dir: str,
    avgdl: float,
    n_shards: int,
    k1: float = BM25_K1,
    b: float = BM25_B,
) -> None:
    """Stage 3: staged postings (``stage_postings`` output) -> compressed
    per-(term, shard) runs at ``out_dir/term_postings`` via ``write_runs``
    (files in term-hash order). Public so the stage-scaling harness
    (tools/stage_scaling.py) times EXACTLY the build's encode plan in
    isolation."""
    postings = raw.filter(F.col("sec") == 0).withColumn(
        "w", bm25_weight_expr("cnt", "dl", avgdl if avgdl > 0 else 1.0, k1, b)
    )
    write_runs(postings, n_shards, f"{out_dir}/term_postings")


def build_index(
    docs: DataFrame,
    out_dir: str,
    text_col: str = "content",
    id_col: str = "doc_id",
    n_shards: int = 8,
    code_aware: bool = False,
    k1: float = BM25_K1,
    b: float = BM25_B,
    source_snapshot: str | None = None,
    resume: bool = False,
    avgdl_override: float | None = None,
) -> dict:
    """Build the full index at ``out_dir``. Returns the manifest dict.

    Layout: postings/, doc_stats/, term_postings/, term_stats/ (parquet)
    + manifest.json + _lineage/ (per-stage commits and per-partition
    metrics — the durable analog of the reference's Valkey counters,
    reference app/services/metrics.py:10-63).

    ``resume=True`` skips stages already committed for the same
    ``source_snapshot`` fingerprint (pass the Iceberg snapshot id / input
    version; it defaults to the build parameters only, so explicit
    versioning is strongly recommended for real resume use).
    """
    spark = docs.sparkSession
    fingerprint = json.dumps(
        {
            "snapshot": source_snapshot,
            "n_shards": n_shards,
            "code_aware": code_aware,
            "k1": k1,
            "b": b,
            # stage-output layout version: a resume against stages written
            # by an older engine (e.g. postings without the sec partition)
            # must invalidate, not read a shape that no longer exists
            "layout": FORMAT_VERSION,
        },
        sort_keys=True,
    )
    ckpt = StageCheckpointer(out_dir, fingerprint, resume=resume)

    ckpt.run(
        "postings",
        lambda: stage_postings(docs, out_dir, text_col, id_col, code_aware),
    )
    raw = spark.read.parquet(f"{out_dir}/postings")

    def _doc_stats():
        # markers only: shuffle-free doc stats + lineage over n_docs rows,
        # read via partition pruning (sec=1 directory — never touches the
        # posting row groups)
        markers = raw.filter(F.col("sec") == 1)
        markers.select(
            "doc_id", "dl", F.col("cnt").cast("long").alias("n_unique")
        ).write.mode("overwrite").parquet(f"{out_dir}/doc_stats")
        # per-posting count per doc == n_unique (one row per distinct term).
        # dl_sum folds the corpus-stats job into this write: N and avgdl
        # then come from the tiny lineage table instead of a separate
        # full doc_stats aggregation job (a fixed per-build driver cost
        # that the N->4N scaling criterion would otherwise carry).
        markers.groupBy("part_id").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("cnt").alias("n_postings"),
            F.sum("dl").alias("dl_sum"),
        ).withColumn("stage", F.lit("postings")).write.mode("overwrite").parquet(
            f"{out_dir}/_lineage/partitions"
        )

    ckpt.run("doc_stats", _doc_stats)
    cs = (
        spark.read.parquet(f"{out_dir}/_lineage/partitions")
        # partitions is a multi-stage table (stage, part_id, ...); a future
        # stage appending rows here must not double-count N / dl_sum
        .filter(F.col("stage") == "postings")
        .agg(F.sum("n_docs").alias("n"), F.sum("dl_sum").alias("dl_sum"))
        .collect()[0]
    )
    n_docs = int(cs["n"] or 0)
    avgdl = float(cs["dl_sum"] or 0.0) / n_docs if n_docs else 0.0
    if avgdl_override is not None:
        # incremental merges pin the base index's avgdl (see
        # incremental.py for the drift/rebuild policy); a full rebuild
        # under the same pinned value reproduces their stored weights —
        # the reference index the merge-equivalence checks compare with
        avgdl = avgdl_override

    ckpt.run("encode", lambda: stage_encode(raw, out_dir, avgdl, n_shards, k1=k1, b=b))
    tp = spark.read.parquet(f"{out_dir}/term_postings")
    ckpt.run(
        "term_stats",
        lambda: term_totals(tp).write.mode("overwrite").parquet(f"{out_dir}/term_stats"),
    )
    n_postings, n_bytes = run_totals(tp)
    manifest = {
        "format_version": FORMAT_VERSION,
        # provenance: which source snapshot this index was built from
        # (the Iceberg snapshot fingerprint when the corpus came through
        # load_corpus) — None for ad-hoc DataFrames
        "source_snapshot": source_snapshot,
        "n_docs": n_docs,
        "avgdl": avgdl,
        # true cumulative token count: incremental merges use this for
        # exact drift accounting (pinned avgdl * n_docs would understate
        # drift once increments themselves pin avgdl)
        "dl_sum": float(cs["dl_sum"] or 0.0),
        "n_shards": n_shards,
        "k1": k1,
        "b": b,
        "code_aware": code_aware,
        # Iceberg-manifest pattern: the snapshot LISTS its data segments;
        # incremental merges append a delta segment without rewriting the
        # carried ones (see incremental.compact_index). A fresh build is
        # a single-segment snapshot. Every entry is RELATIVE to the
        # manifest's directory ("../base/term_postings" for a carried
        # segment), so a chain of snapshots under one root moves as a
        # unit; full_compact writes a self-contained one.
        "segments": {
            "term_postings": ["term_postings"],
            "doc_stats": ["doc_stats"],
        },
        "metrics": {
            "docs_tokenized": n_docs,
            "postings_emitted": n_postings,
            "bytes_compressed": n_bytes,
            **ckpt.walls,
        },
    }
    write_manifest(out_dir, manifest)
    return manifest


class IndexHandle:
    """Loaded index: lazily-read DataFrames + collected scalars.

    ``term_postings`` and ``doc_stats`` are the UNION of the snapshot's
    segment directories (manifest ``segments`` — one per incremental
    merge, Lucene/Iceberg style). Segments hold disjoint doc sets (the
    re-ingest guard enforces it), so a term may have multiple runs per
    shard; the MaxScore kernel treats each run as an independent list,
    which stays exact because every doc appears in at most one run per
    term. ``term_stats`` is always a single merged table (tiny, O(vocab))
    so the query-side idf join sees one row per term.

    Segment lists are append-only: ``compact_index`` and
    ``patch_deletes`` add one segment at the end and ``full_compact``
    starts a new list, so a segment's position never changes along a
    chain. Shadow rows (runs a delete patch superseded) therefore name
    their segment by that position, ``(seg int, term, shard)``, and are
    carried from snapshot to snapshot unchanged.
    """

    def __init__(self, spark: SparkSession, path: str):
        self.spark = spark
        # abspath: Spark resolves relative paths against the JVM's cwd
        # (not Python's), and chained manifests written from a handle
        # opened via a relative path would record refs that re-resolve
        # against the wrong directory (ADVICE r3).
        self.path = os.path.abspath(path)
        with open(os.path.join(path, "manifest.json")) as f:
            self.manifest = json.load(f)
        version = self.manifest.get("format_version")
        if version != FORMAT_VERSION:
            raise ValueError(
                f"index at {path} has format_version={version}; this engine "
                f"reads only format_version {FORMAT_VERSION}: rebuild required "
                "(build_index over the source corpus)"
            )
        self.n_docs = self.manifest["n_docs"]
        self.avgdl = self.manifest["avgdl"]
        self.k1 = self.manifest["k1"]
        self.b = self.manifest["b"]
        self._dfs: dict[str, DataFrame] = {}
        self._n_tombstones: int | None = None
        self._tombstone_ids: list[int] | None = None
        self._df_dict: dict[str, int] | None = None
        # warm()-pinned runs: one Arrow table sorted by term, and each
        # term's [start, end) row slice of it
        self._runs: pa.Table | None = None
        self._run_slices: dict[str, tuple[int, int]] = {}

    def segment_paths(self, name: str) -> list[str]:
        return [
            os.path.normpath(os.path.join(self.path, p))
            for p in self.manifest["segments"][name]
        ]

    def carried_segments(self, out_dir: str) -> dict[str, list[str]]:
        """This snapshot's segment lists re-expressed relative to
        ``out_dir``: the refs a snapshot written there carries, in the
        same order (so shadow positions stay valid)."""
        out_abs = os.path.abspath(out_dir)
        return {
            name: [os.path.relpath(p, out_abs) for p in self.segment_paths(name)]
            for name in ("term_postings", "doc_stats")
        }

    def tagged_runs(self) -> DataFrame:
        """Every segment's runs with an int ``seg`` column (the segment's
        position), superseded runs (``shadowed_runs``) anti-joined out."""
        parts = [
            self.spark.read.parquet(p).withColumn("seg", F.lit(i))
            for i, p in enumerate(self.segment_paths("term_postings"))
        ]
        df = parts[0]
        for part in parts[1:]:
            df = df.unionByName(part)
        shadow = self.shadowed_runs
        if shadow is None:
            return df
        return df.join(F.broadcast(shadow), ["seg", "term", "shard"], "left_anti")

    def _read_term_postings(self) -> DataFrame:
        if not self.manifest.get("shadowed_runs"):
            return self.spark.read.parquet(*self.segment_paths("term_postings"))
        return self.tagged_runs().drop("seg")

    @property
    def shadowed_runs(self) -> DataFrame | None:
        """(seg, term, shard) runs superseded by a patch segment, or None."""
        if not self.manifest.get("shadowed_runs"):
            return None
        df = self._dfs.get("shadowed_runs")
        if df is None:
            df = self.spark.read.parquet(f"{self.path}/shadowed_runs")
            self._dfs["shadowed_runs"] = df
        return df

    def _cached(self, name: str) -> DataFrame:
        # one read per table per handle: repeated spark.read calls re-list
        # files and re-read footers on every query
        df = self._dfs.get(name)
        if df is None:
            if name == "term_postings":
                df = self._read_term_postings()
            elif name == "doc_stats":
                df = self.spark.read.parquet(*self.segment_paths(name))
            else:
                df = self.spark.read.parquet(f"{self.path}/{name}")
            self._dfs[name] = df
        return df

    @property
    def term_postings(self) -> DataFrame:
        return self._cached("term_postings")

    @property
    def term_stats(self) -> DataFrame:
        return self._cached("term_stats")

    @property
    def doc_stats(self) -> DataFrame:
        return self._cached("doc_stats")

    @property
    def tombstones(self) -> DataFrame | None:
        """Soft-deleted doc_ids (see incremental.delete_docs), or None."""
        if not os.path.isdir(f"{self.path}/tombstones"):
            return None
        return self._cached("tombstones")

    @property
    def n_tombstones(self) -> int:
        if self._n_tombstones is None:
            ts = self.tombstones
            self._n_tombstones = 0 if ts is None else ts.count()
        return self._n_tombstones

    def tombstone_ids(self) -> list[int]:
        """The tombstoned doc_ids: collected in one job on first use and
        memoized until ``invalidate_tombstones``. The row count primes
        ``n_tombstones``, so no separate count job runs."""
        if self._tombstone_ids is None:
            ts = self.tombstones
            self._tombstone_ids = [] if ts is None else [r["doc_id"] for r in ts.collect()]
            self._n_tombstones = len(self._tombstone_ids)
        return self._tombstone_ids

    @property
    def n_unapplied_tombstones(self) -> int:
        """Tombstones not yet physically applied to the postings —
        the count the query path must over-fetch by. patch_deletes
        records how many it applied; deletes issued after the patch are
        the difference."""
        return max(
            0,
            self.n_tombstones
            - int(self.manifest.get("postings_tombstones_applied", 0)),
        )

    def invalidate_tombstones(self) -> None:
        self._dfs.pop("tombstones", None)
        self._n_tombstones = None
        self._tombstone_ids = None

    def warm(self, df_dict_max_terms: int = 1_000_000) -> dict:
        """Pin the serving tables for low-latency querying.

        Three standard serving-tier moves, all scale-true:

        - ``term_postings`` and ``term_stats`` are persisted in executor
          memory (MEMORY_AND_DISK — spills, never fails), so the batch
          path and cold-path scans read Spark's in-memory columnar cache
          instead of re-listing files and re-reading parquet footers +
          pages. Each cache is filled by the job that collects from it
          below; a ``count()`` runs only for a table nothing collects
          whole.
        - the ``term -> df`` dictionary is collected driver-side when the
          vocabulary fits (``<= df_dict_max_terms`` rows) — the
          coordinator-resident term dictionary every search tier keeps in
          RAM (sharded across coordinators at 10^12-file scale; the guard
          refuses rather than OOMs a driver that was not sized for it).
          ``bm25_query_terms_local``'s df-budget precheck then runs with
          no Spark job, and vocabulary misses short-circuit to [].
          ``toArrow`` runs the limited collect as ONE job however many
          partitions ``term_stats`` has (``collect`` would scan them in
          growing rounds, one job each).
        - the posting runs themselves are collected driver-side as ONE
          Arrow table sorted by term, with a ``term -> (start, end)``
          row-slice index, when the dictionary fits and twice
          ``runs_bytes_bound`` of its rows (the collected table plus the
          sort's copy; blobs, terms, block lists and per-run offsets) fits
          ``spark.driver.maxResultSize`` — the driver's result budget the
          operator sized, past which the collect itself would abort. A
          warmed ``bm25_query_terms_local`` then slices its runs from the
          table and runs zero Spark jobs. The runs come from
          ``term_postings``, the shadow-filtered view, so a patched
          snapshot pins exactly what the scan would return. The two
          term-keyed dicts are bounded by ``df_dict_max_terms``, not by
          the byte budget.

        The tombstone ids are collected too (memoized on the handle until
        a delete invalidates them).

        Returns ``{"persisted": [...], "df_dict_terms": n | None,
        "pinned_runs": rows | None}``. The handle's tables are immutable
        per snapshot, so staleness only enters via a NEW handle — which
        starts cold."""
        from pyspark import StorageLevel

        persisted = []
        for name in ("term_postings", "term_stats"):
            self._dfs[name] = self._cached(name).persist(StorageLevel.MEMORY_AND_DISK)
            persisted.append(name)
        self._df_dict = None
        self._runs, self._run_slices = None, {}
        if df_dict_max_terms > 0:
            stats = (
                self.term_stats.select("term", "df", "bytes")
                .limit(df_dict_max_terms + 1)
                .toArrow()
            )
            if stats.num_rows <= df_dict_max_terms:
                self._df_dict = dict(
                    zip(stats.column("term").to_pylist(), stats.column("df").to_pylist())
                )
        if self._df_dict is None:
            self.term_stats.count()  # the limited collect may stop early
        max_runs = self.manifest["n_shards"] * len(self.manifest["segments"]["term_postings"])
        if self._df_dict is not None and 2 * runs_bytes_bound(
            stats, max_runs
        ) <= driver_result_cap(self.spark):
            self._pin_runs(self.term_postings.select(*RUN_COLUMNS).toArrow())
        else:
            self.term_postings.count()
        self.tombstone_ids()
        return {
            "persisted": persisted,
            "df_dict_terms": None if self._df_dict is None else len(self._df_dict),
            "pinned_runs": None if self._runs is None else self._runs.num_rows,
        }

    def _pin_runs(self, runs: pa.Table) -> None:
        runs = runs.sort_by("term")
        terms = runs.column("term").to_numpy(zero_copy_only=False)
        new = np.ones(terms.size, dtype=bool)
        new[1:] = terms[1:] != terms[:-1]
        starts = np.flatnonzero(new)
        ends = np.append(starts[1:], terms.size)
        self._run_slices = dict(
            zip(terms[starts].tolist(), zip(starts.tolist(), ends.tolist()))
        )
        self._runs = runs

    def pinned_runs(self, terms: list[str]) -> pa.Table | None:
        """The ``RUN_COLUMNS`` rows of ``terms`` from the runs ``warm``
        pinned on the driver, or None when no runs are pinned."""
        if self._runs is None:
            return None
        parts = [
            self._runs.slice(start, end - start)
            for start, end in (self._run_slices[t] for t in terms if t in self._run_slices)
        ]
        return pa.concat_tables(parts) if parts else self._runs.slice(0, 0)

    def cool(self) -> None:
        """Release everything ``warm`` pinned."""
        for name in ("term_postings", "term_stats"):
            df = self._dfs.get(name)
            if df is not None:
                df.unpersist()
        self._df_dict = None
        self._runs, self._run_slices = None, {}
        self._tombstone_ids = None


def load_index(spark: SparkSession, path: str) -> IndexHandle:
    return IndexHandle(spark, path)
