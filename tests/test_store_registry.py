"""The corpus store's registry (duplicate_finder_spark/store.py): a JSON
document in commit order, read and committed on the driver — no Spark
job on a ``ParquetWarehouse`` — that still reads a store committed when
the registry was the ``corpus_batches`` Spark table.
"""

from __future__ import annotations

from duplicate_finder_spark.store import (REGISTRY, STORE_PREFIX,
                                          commit_batch, compact_store,
                                          registry_rows, store_batches)
from duplicate_finder_spark.warehouse import ParquetWarehouse, _Warehouse

SCHEMA = "url string, n long"


def _write_batch(spark, wh, bid, rows):
    wh.write(spark.createDataFrame(rows, SCHEMA), STORE_PREFIX + bid,
             stage="store_batch", fingerprint=bid)


def test_registry_reads_and_commits_launch_no_spark_job(spark, tmp_path,
                                                        count_jobs,
                                                        monkeypatch):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    for i, bid in enumerate(("b1", "b2", "b3")):
        _write_batch(spark, wh, bid, [(f"u{i}", i)])
    assert count_jobs(lambda: [commit_batch(wh, spark, b, 1)
                               for b in ("b1", "b2", "b3", "b1")]) == 0
    # a rerun batch moves to the end of the commit order
    assert count_jobs(lambda: store_batches(wh)) == 0
    assert store_batches(wh) == ["b2", "b3", "b1"]

    # compaction's merged write runs jobs; its registry swap does not
    swap_jobs = []
    write_json = wh.write_json
    monkeypatch.setattr(wh, "write_json", lambda name, value: swap_jobs
                        .append(count_jobs(lambda: write_json(name, value))))
    out = compact_store(wh, spark, ["url", "n"], keep_last=1)
    assert swap_jobs == [0]
    assert registry_rows(wh) == [(out["merged_id"], 2), ("b1", 1)]


def test_legacy_registry_table_reads_in_commit_order(spark, tmp_path):
    """A store whose registry is the old ``corpus_batches`` table
    (batch_id, rows, committed_at) reads in committed_at order; the
    next commit writes the document with every entry."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    wh.write(spark.createDataFrame(
        [("b2", 2, 20.0), ("b3", 3, 30.0), ("b1", 1, 10.0)],
        "batch_id string, rows long, committed_at double"),
        "corpus_batches", stage="registry")
    assert wh.read_json(REGISTRY) is None
    assert registry_rows(wh) == [("b1", 1), ("b2", 2), ("b3", 3)]
    assert registry_rows(wh, exclude="b2") == [("b1", 1), ("b3", 3)]

    assert commit_batch(wh, spark, "b4", 4) == [("b1", 1), ("b2", 2),
                                                ("b3", 3)]
    assert wh.read_json(REGISTRY) == [["b1", 1], ["b2", 2], ["b3", 3],
                                      ["b4", 4]]
    assert store_batches(wh) == ["b1", "b2", "b3", "b4"]


def test_generic_json_document_round_trips(spark, tmp_path):
    """``_Warehouse.read_json``/``write_json`` (what IcebergWarehouse
    inherits: a one-row table through ``write``/``read``) called on a
    ParquetWarehouse."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    assert _Warehouse.read_json(wh, "doc") is None
    value = [["b1", 1], ["compacted-0123", 20]]
    _Warehouse.write_json(wh, "doc", value)
    assert _Warehouse.read_json(wh, "doc") == value
    assert wh.tables() == ["doc"]
    _Warehouse.write_json(wh, "doc", [])
    assert _Warehouse.read_json(wh, "doc") == []
