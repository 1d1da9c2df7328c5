"""The incremental split of the bench corpus, on a small Spark session:
the same seed gives the same pages, and every page lands where the
hash split says."""

import pytest

from perfbench import gen


@pytest.fixture(scope="module")
def spark():
    from duplicate_finder_spark.session import get_spark
    s = get_spark(app_name="perfbench-tests", master="local[2]",
                  shuffle_partitions=2,
                  extra_conf={"spark.driver.memory": "1g",
                              "spark.ui.enabled": "false"})
    yield s
    s.stop()


def split(spark, root, seed, n_batches=2):
    gen.incremental_write(spark, str(root), 800, n_batches, seed)

    def rows(path):
        return sorted(tuple(r) for r in spark.read.parquet(path).collect())

    return (rows(str(root / "store_pages")),
            [rows(gen.batch_dir(str(root), b)) for b in range(n_batches)])


def test_incremental_split_is_deterministic_per_seed(spark, tmp_path):
    a = split(spark, tmp_path / "a", 3)
    assert a == split(spark, tmp_path / "b", 3)
    assert a != split(spark, tmp_path / "c", 4)


def test_incremental_split_shares(spark, tmp_path):
    store, batches = split(spark, tmp_path, 3)
    stored = {u for u, _ in store}
    new = [{u for u, _ in b} - stored for b in batches]
    recrawls = [{u for u, _ in b} & stored for b in batches]
    assert len(stored) + sum(map(len, new)) == 800
    assert not new[0] & new[1]
    # about 5% of the corpus each: new pages, and re-crawled stored ones
    for n, r in zip(new, recrawls):
        assert 20 <= len(n) <= 60 and 20 <= len(r) <= 60
    assert not recrawls[0] & recrawls[1]
