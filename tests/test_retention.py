"""Long-run snapshot retention (VERDICT r4 #7): a 100+-write warehouse
table, a 100-batch incremental store, and a compacting near-dup stream
must all hold O(1) snapshot state — the superseded snapshot survives
exactly one write for in-flight readers (retain >= 2), everything older
is GC'd as new writes land, so disk footprint is bounded by CONTENT
size, never by write COUNT."""

from __future__ import annotations

import datetime as dt
import os

from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.warehouse import ParquetWarehouse

T0 = dt.datetime(2026, 1, 1)


def _snap_dirs(root: str, table: str) -> list[str]:
    d = os.path.join(root, table)
    if not os.path.isdir(d):
        return []
    return [e for e in os.listdir(d) if e.startswith("snapshot-")]


def test_warehouse_holds_retain_snapshots_across_120_writes(spark,
                                                            tmp_path):
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, root)
    df = spark.range(3).select(F.col("id"))
    for i in range(120):
        wh.write(df, "t", stage="s", fingerprint=f"w{i}")
        # invariant holds AFTER EVERY write, not just at the end
        if i % 13 == 0 or i >= 118:
            assert len(_snap_dirs(root, "t")) <= wh.retain
    assert len(_snap_dirs(root, "t")) == wh.retain
    assert wh.read("t").count() == 3
    assert len(wh.history("t")) == wh.retain
    assert wh.manifest("t").fingerprint == "w119"


def test_store_registry_bounded_over_100_batches(spark, tmp_path):
    from duplicate_finder_spark.store import (
        REGISTRY, STORE_PREFIX, commit_batch, compact_store, gc_store,
        store_batches)
    root = str(tmp_path / "wh")
    wh = ParquetWarehouse(spark, root)
    for i in range(100):
        sigs = spark.createDataFrame([(f"u{i}", i)], "url string, h long")
        wh.write(sigs, STORE_PREFIX + f"b{i:03d}", stage="store_batch",
                 fingerprint=f"b{i:03d}")
        commit_batch(wh, spark, f"b{i:03d}", rows=1)
    # the registry is ONE document replaced per commit: no matter how
    # many batches landed, one registry file and no temp files in root
    assert [e for e in os.listdir(root)
            if e.startswith((".", REGISTRY))] == [REGISTRY + ".json"]
    assert len(store_batches(wh)) == 100
    # compaction folds the 100 batch tables into one; orphan GC sweeps
    # the folded tables — table count returns to O(1)
    compact_store(wh, spark, ["url", "h"], keep_last=0)
    gc_store(wh)
    live = store_batches(wh)
    assert len(live) == 1
    merged = wh.read(STORE_PREFIX + live[0])
    assert merged.count() == 100
    store_tables = [t for t in wh.tables() if t.startswith(STORE_PREFIX)]
    assert len(store_tables) == 1
    assert len(_snap_dirs(root, STORE_PREFIX + live[0])) <= wh.retain


def test_streaming_neardup_state_bounded_over_40_batches(spark, tmp_path):
    from duplicate_finder_spark.streaming.neardup import (
        _EDGE_TABLE, _SIG_TABLE, StreamingNearDup)
    cfg = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8)
    store = str(tmp_path / "state")
    snd = StreamingNearDup(spark, cfg, store, compact_every=4,
                           watermark_minutes=10_000)
    text = ("the quick brown fox jumps over the lazy dog and then "
            "keeps on running through the long web page " * 3)
    for i in range(40):
        rows = [(f"u{i}a", T0 + dt.timedelta(minutes=i), text),
                (f"u{i}b", T0 + dt.timedelta(minutes=i), text + " tail")]
        snd.process_batch(
            spark.createDataFrame(
                rows, "url string, warc_ts timestamp, text string"), i)
    wh_root = os.path.join(store, "warehouse")
    # 10 compactions happened; each state table holds <= retain snapshots
    for table in (_SIG_TABLE, _EDGE_TABLE):
        n = len(_snap_dirs(wh_root, table))
        assert 1 <= n <= snd.warehouse.retain, (table, n)
    # batch 39 triggered compaction → delta dirs are cleared, so the
    # on-disk state is the base snapshots alone (bounded by content)
    assert not os.path.exists(snd.sig_delta)
    assert not os.path.exists(snd.edge_delta)
    # and the state is still the full, correct corpus
    assert snd.stored_signatures().count() == 80
    assert snd.edges().count() >= 40  # each batch's (a,b) clone pair
