from __future__ import annotations

import time
import uuid

import pytest

from tfidf_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tfidf_spark-tests", master="local[4]", shuffle_partitions=8)
    yield s
    s.stop()


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


@pytest.fixture(scope="session")
def jobs_of(spark):
    """``jobs_of(fn)``: the ids of the Spark jobs ``fn()`` starts. ``fn``
    runs in a fresh job group, then a marker job runs in another; the
    status listener receives job events in order, so once it lists the
    marker it has listed every job of ``fn`` too."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()

    def in_group(group, f):
        sc.setJobGroup(group, "job probe")
        try:
            f()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)

    def run(fn):
        group, marker = (f"probe-{uuid.uuid4().hex}" for _ in range(2))
        in_group(group, fn)
        in_group(marker, lambda: sc.parallelize([0], 1).count())
        deadline = time.time() + 30
        while not tracker.getJobIdsForGroup(marker) and time.time() < deadline:
            time.sleep(0.05)
        assert tracker.getJobIdsForGroup(marker), "status listener fell behind"
        return list(tracker.getJobIdsForGroup(group))

    return run
