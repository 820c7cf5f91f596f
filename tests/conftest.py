from __future__ import annotations

import uuid

import pytest

from tfidf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tfidf_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


@pytest.fixture
def spark_jobs(spark):
    """``run(fn) -> (fn(), number of Spark jobs fn started)``, counted
    through a job group of its own."""
    sc = spark.sparkContext

    def run(fn):
        group = f"count-{uuid.uuid4().hex}"
        sc.setJobGroup(group, group)
        try:
            out = fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return out, len(sc.statusTracker().getJobIdsForGroup(group))

    return run


# A tiny hand-computable corpus (FIXTURES.md §3) + the §2.7-F1 tokenizer
# edge docs. doc_ids are explicit so goldens are stable.
TINY_DOCS = [
    (1, "a a b c"),          # dl=4: a:2 b:1 c:1
    (2, "a b b"),            # dl=3: a:1 b:2
    (3, "c"),                # dl=1: c:1
    (4, ""),                 # empty -> dl=0, no postings, counts toward N
    (5, "snake_case x86_64"),  # zero tokens under reference regex
    (6, "café héllo"),       # non-ASCII -> zero tokens
]


@pytest.fixture(scope="session")
def tiny_corpus(spark):
    return spark.createDataFrame(TINY_DOCS, "doc_id bigint, content string")
