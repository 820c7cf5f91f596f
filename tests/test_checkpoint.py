"""Resumable-build tests (SURVEY.md §5.4 / §7.2-M5): kill after stage N,
resume, identical final index; fingerprint change invalidates."""

from __future__ import annotations

import json
import os
import shutil

import pytest
from pyspark.sql import functions as F

from tfidf_spark.index.builder import build_index, load_index, write_manifest
from tfidf_spark.index.query import bm25_query_terms


def _query_sig(spark, path):
    idx = load_index(spark, path)
    rows = bm25_query_terms(idx, ["a", "b", "c"], k=10).collect()
    return [(r["doc_id"], round(r["score"], 12)) for r in rows]


def test_resume_after_partial_build(spark, tiny_corpus, tmp_path):
    out = str(tmp_path / "idx")
    build_index(tiny_corpus, out, n_shards=2, source_snapshot="v1", resume=True)
    baseline = _query_sig(spark, out)
    lineage_dir = os.path.join(out, "_lineage")
    walls1 = {
        e["stage"]: e["wall_sec"]
        for e in map(json.load, (open(os.path.join(lineage_dir, f)) for f in sorted(os.listdir(lineage_dir)) if f.endswith(".json")))
    }
    assert set(walls1) == {"postings", "doc_stats", "encode", "term_stats"}

    # simulate a crash after doc_stats: encode + term_stats lost
    shutil.rmtree(os.path.join(out, "term_postings"))
    shutil.rmtree(os.path.join(out, "term_stats"))
    os.remove(os.path.join(lineage_dir, "encode.json"))
    os.remove(os.path.join(lineage_dir, "term_stats.json"))

    m = build_index(tiny_corpus, out, n_shards=2, source_snapshot="v1", resume=True)
    # completed stages were skipped (zero wall), lost stages re-ran
    assert m["metrics"]["stage_postings_sec"] == 0.0
    assert m["metrics"]["stage_doc_stats_sec"] == 0.0
    assert m["metrics"]["stage_encode_sec"] > 0
    assert _query_sig(spark, out) == baseline


def test_fingerprint_change_invalidates(spark, tiny_corpus, tmp_path):
    out = str(tmp_path / "idx2")
    build_index(tiny_corpus, out, n_shards=2, source_snapshot="v1", resume=True)
    m = build_index(tiny_corpus, out, n_shards=2, source_snapshot="v2", resume=True)
    assert m["metrics"]["stage_postings_sec"] > 0  # re-ran: new snapshot


def test_partition_lineage_rows(spark, tiny_corpus, tmp_path):
    out = str(tmp_path / "idx3")
    m = build_index(tiny_corpus, out, n_shards=2)
    rows = spark.read.parquet(f"{out}/_lineage/partitions").collect()
    assert sum(r["n_docs"] for r in rows) == 6
    assert sum(r["n_postings"] for r in rows) == m["metrics"]["postings_emitted"]
    assert all(r["stage"] == "postings" for r in rows)


def test_manifest_write_is_atomic(tmp_path):
    """A manifest that fails to serialize leaves the committed one
    byte-identical and no partial or temp file behind."""
    write_manifest(str(tmp_path), {"n_docs": 1})
    path = tmp_path / "manifest.json"
    before = path.read_bytes()
    with pytest.raises(TypeError):
        write_manifest(str(tmp_path), {"n_docs": 2, "bad": object()})
    assert path.read_bytes() == before
    assert os.listdir(tmp_path) == ["manifest.json"]
    # the first commit into an empty directory is all-or-nothing too
    fresh = tmp_path / "fresh"
    fresh.mkdir()
    with pytest.raises(TypeError):
        write_manifest(str(fresh), {"bad": object()})
    assert os.listdir(fresh) == []
