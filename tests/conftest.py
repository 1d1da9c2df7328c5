from __future__ import annotations

import uuid

import pytest

from duplicate_finder_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="dfs-tests", master="local[4]",
                  shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def small_corpus():
    from duplicate_finder_spark.fixtures import generate_corpus
    return generate_corpus(n_pages=600, seed=42)


@pytest.fixture(scope="session")
def small_pages(spark, small_corpus):
    from duplicate_finder_spark.fixtures import corpus_to_spark
    pages, truth = corpus_to_spark(spark, small_corpus)
    pages = pages.cache()
    pages.count()
    return pages, truth


@pytest.fixture
def count_jobs(spark):
    """``count_jobs(fn)`` → the Spark jobs ``fn()`` launches, counted in
    a job group of its own through the status tracker."""
    sc = spark.sparkContext

    def count(fn) -> int:
        group = f"jobs-{uuid.uuid4().hex[:8]}"
        sc.setJobGroup(group, group)
        try:
            fn()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))
    return count
