"""The incremental ingest (duplicate_finder_spark/store.py::ingest_batch):
its commit protocol survives a crash at every write, and it stays
identical to the hand copy the incremental benchmark workload runs.
"""

from __future__ import annotations

import shutil

import pytest

from duplicate_finder_spark.operators.minhash import SIG_COLS, signatures
from duplicate_finder_spark.store import (REGISTRY, STORE_PREFIX,
                                          commit_batch, gc_store,
                                          ingest_batch, read_store,
                                          store_batches)
from duplicate_finder_spark.warehouse import ParquetWarehouse
from perfbench import workloads

CFG = workloads.CFG


def _doc(seed: str, n: int = 60) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


#: a 3-doc seed store and two 4-doc batches covering every decision:
#: a near-copy and a re-crawl of the store, an in-batch pair, a unique
SEED = [("s1", _doc("a")), ("s2", _doc("b")), ("s3", _doc("e"))]
BATCHES = {
    "b1": [("n1", _doc("a")), ("s3", _doc("e")), ("n2", _doc("c")),
           ("n3", _doc("c")), ("n4", _doc("d"))],
    "b2": [("m1", _doc("c")), ("m2", _doc("f")), ("m3", _doc("g")),
           ("m4", _doc("g"))],
}
#: what ingesting ``b1`` into the seed store gives: (decision rows,
#: store url set, registry order)
B1_STATE = ([("n1", "n1", "delete", "dup_of_corpus"),
             ("n2", "n2", "keep", "cluster_rep"),
             ("n3", "n2", "delete", "dup_in_batch"),
             ("n4", "n4", "keep", "unique"),
             ("s3", "s3", "delete", "dup_of_corpus")],
            {"s1", "s2", "s3", "n2", "n4"}, ["b0", "b1"])


class Crash(RuntimeError):
    pass


class CrashingWarehouse(ParquetWarehouse):
    """Raises, before anything lands, on the first write (table or JSON
    document) whose name starts with ``crash_on``."""

    crash_on: str | None = None

    def write(self, df, name, **kw):
        if self.crash_on and name.startswith(self.crash_on):
            raise Crash(name)
        return super().write(df, name, **kw)

    def write_json(self, name, value):
        if self.crash_on and name.startswith(self.crash_on):
            raise Crash(name)
        return super().write_json(name, value)


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


@pytest.fixture(scope="module")
def seeded(spark, tmp_path_factory):
    """A warehouse holding the committed seed batch ``b0``."""
    root = str(tmp_path_factory.mktemp("ingest") / "seed")
    wh = ParquetWarehouse(spark, root)
    kept = wh.write(signatures(_pages(spark, SEED), CFG), STORE_PREFIX + "b0",
                    stage="store_batch", fingerprint="b0")
    commit_batch(wh, spark, "b0", kept.rows)
    return root


def _copy(seeded, tmp_path, name="wh"):
    dst = str(tmp_path / name)
    shutil.copytree(seeded, dst, symlinks=True)
    return dst


def _store_urls(spark, wh):
    template = spark.createDataFrame([], "url string")
    return {r["url"] for r in
            read_store(wh, template, ["url"]).collect()}


def _kept(wh, batch_id):
    return {r["url"] for r in
            wh.read(STORE_PREFIX + batch_id).select("url").collect()}


def _state(spark, wh, decisions):
    """(decision rows, store url set, registry order)."""
    rows = sorted(tuple(r) for r in decisions.select(
        "url", "cluster_id", "action", "reason").collect())
    return rows, _store_urls(spark, wh), store_batches(wh)


def test_batch_id_with_slash_is_rejected(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    with pytest.raises(ValueError, match="must not contain"):
        ingest_batch(spark, wh, _pages(spark, SEED), "2026/08", CFG)
    assert wh.tables() == []


@pytest.mark.parametrize("step", ["incr_decisions_", STORE_PREFIX,
                                  REGISTRY],
                         ids=["decisions", "kept", "registry"])
def test_crash_at_each_write_leaves_store_unchanged(spark, seeded, tmp_path,
                                                    step):
    """A crash at any write before the registry commit leaves the read
    contract as it was; the orphan kept table a registry-step crash
    leaves behind is dropped by ``gc_store``; the rerun of the same
    batch id equals an uncrashed ingest (``B1_STATE``)."""
    wh = CrashingWarehouse(spark, _copy(seeded, tmp_path))
    before = (_store_urls(spark, wh), store_batches(wh))
    pages = _pages(spark, BATCHES["b1"])

    wh.crash_on = step
    # session fixtures of other test modules may hold cached tables
    spark.catalog.clearCache()
    with pytest.raises(Crash):
        ingest_batch(spark, wh, pages, "b1", CFG)
    # the crashed run released its persisted signatures
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
    assert (_store_urls(spark, wh), store_batches(wh)) == before
    orphans = [STORE_PREFIX + "b1"] if step == REGISTRY else []
    assert gc_store(wh) == orphans
    assert (_store_urls(spark, wh), store_batches(wh)) == before

    wh.crash_on = None
    done = ingest_batch(spark, wh, pages, "b1", CFG)
    assert _state(spark, wh, done.decisions) == B1_STATE


def test_ingest_batch_matches_benchmark_copy(spark, seeded, tmp_path):
    """``perfbench.workloads.ingest`` is a hand copy of ``ingest_batch``
    that the incremental benchmark measures; until the benchmark calls
    ``ingest_batch`` itself, both must give the same decisions, kept
    tables and registry over two batches. The first batch is also the
    uncrashed run the crash test compares its reruns with."""
    wh_engine = ParquetWarehouse(spark, _copy(seeded, tmp_path, "engine"))
    wh_bench = ParquetWarehouse(spark, _copy(seeded, tmp_path, "bench"))
    for batch_id, rows in BATCHES.items():
        pages = _pages(spark, rows)
        done = ingest_batch(spark, wh_engine, pages, batch_id,
                            workloads.CFG)
        bench = workloads.ingest(spark, wh_bench, pages, batch_id)
        state = _state(spark, wh_engine, done.decisions)
        assert state == _state(spark, wh_bench, bench)
        if batch_id == "b1":
            assert state == B1_STATE
        assert _kept(wh_engine, batch_id) == _kept(wh_bench, batch_id)
        assert wh_engine.read(STORE_PREFIX + batch_id).columns == SIG_COLS
    assert store_batches(wh_engine) == ["b0", "b1", "b2"]
