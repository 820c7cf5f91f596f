"""Digest of every posting run an index lifecycle writes, for checking
that a change to the write path keeps the on-disk runs byte-identical.

Builds a seeded ``synth_corpus`` index with 10% of the docs held back,
merges them with ``compact_index``, tombstones ~1% of the docs and
applies them with ``patch_deletes``, then runs ``full_compact``. For each
snapshot it prints one sha256 over the sorted
``(term, shard, df_shard, sha256(postings), sha256(weights), block_last,
block_max, block_off, n_bytes)`` rows — of the snapshot's own segment
and of the handle's merged view — plus one over its term_stats.

Run it from the root of each checkout to compare (it imports the
``tfidf_spark`` found there) and diff the outputs:

    python tools/index_digest.py [n_docs] [n_shards]
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

sys.path.insert(0, os.getcwd())

from pyspark.sql import functions as F  # noqa: E402

from tfidf_spark.index.builder import build_index, load_index  # noqa: E402
from tfidf_spark.index.incremental import (  # noqa: E402
    compact_index,
    delete_docs,
    full_compact,
    patch_deletes,
)
from tfidf_spark.session import get_spark  # noqa: E402
from tfidf_spark.sources.corpus import synth_corpus, with_doc_id  # noqa: E402


def _sha(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()


def _run_rows(df) -> list[tuple]:
    h = lambda b: hashlib.sha256(bytes(b)).hexdigest()  # noqa: E731
    return sorted(
        (
            r["term"], r["shard"], r["df_shard"], h(r["postings"]), h(r["weights"]),
            tuple(r["block_last"]), tuple(r["block_max"]), tuple(r["block_off"]),
            r["n_bytes"],
        )
        for r in df.collect()
    )


def main(n_docs: int = 8000, n_shards: int = 6) -> None:
    spark = get_spark(app_name="index-digest", master="local[4]", shuffle_partitions=4)
    corpus = with_doc_id(synth_corpus(spark, n_docs, seed=42, partitions=4)).cache()
    ids = sorted(r["doc_id"] for r in corpus.select("doc_id").collect())
    held_back = ids[::10]
    root = tempfile.mkdtemp(prefix="index_digest_")
    dirs = {name: os.path.join(root, name) for name in ("base", "merged", "patched", "full")}
    try:
        build_index(corpus.filter(~F.col("doc_id").isin(held_back)), dirs["base"], n_shards=n_shards)
        compact_index(
            load_index(spark, dirs["base"]),
            corpus.filter(F.col("doc_id").isin(held_back)),
            dirs["merged"],
            force=True,
        )
        delete_docs(load_index(spark, dirs["merged"]), ids[3::97])
        patch_deletes(load_index(spark, dirs["merged"]), dirs["patched"])
        full_compact(load_index(spark, dirs["patched"]), dirs["full"])
        for name, d in dirs.items():
            idx = load_index(spark, d)
            for view, df in (
                ("segment", spark.read.parquet(f"{d}/term_postings")),
                ("handle", idx.term_postings),
            ):
                rows = _run_rows(df)
                print(f"{name} {view} runs={len(rows)} sha256={_sha(rows)}")
            stats = sorted((r["term"], r["df"], r["bytes"]) for r in idx.term_stats.collect())
            print(f"{name} term_stats terms={len(stats)} sha256={_sha(stats)}")
    finally:
        shutil.rmtree(root, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main(*(int(a) for a in sys.argv[1:3]))
