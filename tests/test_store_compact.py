"""Corpus-store compaction (duplicate_finder_spark/store.py): folding
per-batch signature tables must be invisible to every reader, survive
crashes at any point in its protocol, and actually bound the store's
table count.
"""

from __future__ import annotations

import os

from duplicate_finder_spark.store import (REGISTRY, STORE_PREFIX,
                                          commit_batch, compact_store,
                                          gc_store, read_store,
                                          store_batches)
from duplicate_finder_spark.warehouse import ParquetWarehouse

COLS = ["url", "n"]
SCHEMA = "url string, n long"


def _seed(spark, wh, batches):
    """batches: {batch_id: [(url, n), ...]} committed in dict order."""
    for bid, rows in batches.items():
        wh.write(spark.createDataFrame(rows, SCHEMA), STORE_PREFIX + bid,
                 stage="store_batch", fingerprint=bid)
        commit_batch(wh, spark, bid, len(rows))


def _store_rows(spark, wh, exclude=None):
    template = spark.createDataFrame([], SCHEMA)
    return {(r["url"], r["n"]) for r in
            read_store(wh, template, COLS, exclude=exclude).collect()}


def test_compact_preserves_reads_and_drops_folded(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, {"b1": [("u1", 1), ("u2", 2)],
                      "b2": [("u3", 3)],
                      "b3": [("u4", 4)]})
    before = _store_rows(spark, wh)

    out = compact_store(wh, spark, COLS, keep_last=1)
    assert out["folded"] == 2 and out["merged_rows"] == 3
    assert out["store_batches"] == 2

    # the read contract is unchanged...
    assert _store_rows(spark, wh) == before
    # ...the newest batch survives individually (still reprocessable:
    # excluding it still removes its rows)...
    batches = store_batches(wh)
    assert batches[-1] == "b3" and len(batches) == 2
    assert _store_rows(spark, wh, exclude="b3") == {("u1", 1), ("u2", 2),
                                                    ("u3", 3)}
    # ...and the folded per-batch tables are gone
    assert not wh.exists(STORE_PREFIX + "b1")
    assert not wh.exists(STORE_PREFIX + "b2")
    merged = out["merged_id"]
    assert wh.exists(STORE_PREFIX + merged)
    # the merged entry takes the folded batches' place: read order is
    # merged-first
    assert batches[0] == merged


def test_compact_noop_below_two_foldable(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, {"b1": [("u1", 1)], "b2": [("u2", 2)]})
    # keep_last=1 leaves only one foldable batch -> no-op, no writes
    doc = os.path.join(wh.root, REGISTRY + ".json")

    def registry_state():
        with open(doc, "rb") as f:
            return f.read(), os.stat(doc).st_mtime_ns
    before = registry_state()
    out = compact_store(wh, spark, COLS, keep_last=1)
    assert out == {"folded": 0, "store_batches": 2}
    assert registry_state() == before
    assert wh.exists(STORE_PREFIX + "b1")


def test_compact_keep_last_zero_folds_everything(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, {"b1": [("u1", 1)], "b2": [("u2", 2)],
                      "b3": [("u3", 3)]})
    before = _store_rows(spark, wh)
    out = compact_store(wh, spark, COLS, keep_last=0)
    assert out["folded"] == 3 and out["store_batches"] == 1
    assert _store_rows(spark, wh) == before
    assert len(store_batches(wh)) == 1


def test_compact_is_idempotent_and_stackable(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, {"b1": [("u1", 1)], "b2": [("u2", 2)],
                      "b3": [("u3", 3)]})
    first = compact_store(wh, spark, COLS, keep_last=1)
    # nothing newly foldable: the merged table + b3 -> folds them BOTH
    # on a second pass with keep_last=0 (compacted tables are ordinary
    # batches to a later compaction)
    second = compact_store(wh, spark, COLS, keep_last=0)
    assert second["folded"] == 2
    assert second["merged_id"] != first["merged_id"]
    assert _store_rows(spark, wh) == {("u1", 1), ("u2", 2), ("u3", 3)}
    assert not wh.exists(STORE_PREFIX + first["merged_id"])


def test_crash_before_registry_commit_changes_nothing(spark, tmp_path):
    """Simulate a crash between the merged-table write and the registry
    commit: the merged table exists but is unreferenced — reads are
    unchanged, a rerun produces the SAME merged id (deterministic hash
    of the folded ids), and gc_store alone would remove the orphan."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    _seed(spark, wh, {"b1": [("u1", 1)], "b2": [("u2", 2)],
                      "b3": [("u3", 3)]})
    before = _store_rows(spark, wh)

    # crash-sim: perform ONLY step 2 of the protocol (the merged write)
    import hashlib
    from functools import reduce
    from pyspark.sql import DataFrame
    fold = store_batches(wh)[:2]
    merged_id = ("compacted-" + hashlib.sha256(
        "|".join(fold).encode()).hexdigest()[:12])
    merged = reduce(DataFrame.unionByName,
                    (wh.read(STORE_PREFIX + b).select(*COLS)
                     for b in fold))
    wh.write(merged, STORE_PREFIX + merged_id, stage="store_compact",
             fingerprint=merged_id)

    # registry untouched -> readers see the old world exactly
    assert store_batches(wh) == ["b1", "b2", "b3"]
    assert _store_rows(spark, wh) == before

    # recovery path A: rerun compaction — same merged id, clean commit
    out = compact_store(wh, spark, COLS, keep_last=1)
    assert out["merged_id"] == merged_id
    assert _store_rows(spark, wh) == before

    # recovery path B (instead of a rerun): gc_store drops the orphan
    wh2 = ParquetWarehouse(spark, str(tmp_path / "wh2"))
    _seed(spark, wh2, {"c1": [("v1", 1)]})
    wh2.write(spark.createDataFrame([("x", 9)], SCHEMA),
              STORE_PREFIX + "orphan", stage="store_batch",
              fingerprint="orphan")
    assert gc_store(wh2) == [STORE_PREFIX + "orphan"]
    assert not wh2.exists(STORE_PREFIX + "orphan")
    assert wh2.exists(STORE_PREFIX + "c1")


def test_warehouse_tables_lists_current_only(spark, tmp_path):
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    assert wh.tables() == []
    wh.write(spark.createDataFrame([("a", 1)], SCHEMA), "t1")
    wh.write(spark.createDataFrame([("b", 2)], SCHEMA), "t2")
    assert wh.tables() == ["t1", "t2"]
    wh.drop("t1")
    assert wh.tables() == ["t2"]
