"""Resumability + determinism (SURVEY.md §5 items 5-6): rerun after a
completed stage reuses checkpoints; two runs produce identical output."""

from __future__ import annotations

from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.pipeline import config_fingerprint, run_resumable
from duplicate_finder_spark.warehouse import get_warehouse

CFG = PipelineConfig(num_perm=128, lsh_bands=32, jaccard_threshold=0.8)


def _decision_set(df):
    return {(r["url"], r["action"]) for r in
            df.select("url", "action").collect()}


def test_resume_skips_completed_stages(spark, small_pages, tmp_path):
    pages, _ = small_pages
    wh = get_warehouse(spark, str(tmp_path / "wh"))
    d1 = run_resumable(spark, pages, CFG, wh, input_id="corpus-v1")
    out1 = _decision_set(d1)

    fp = config_fingerprint(CFG, "corpus-v1")
    m1 = wh.read(f"metrics_{fp}").collect()
    assert all(not r["resumed"] for r in m1)

    # rerun: every checkpointed stage must resume, output identical
    d2 = run_resumable(spark, pages, CFG, wh, input_id="corpus-v1")
    m2 = wh.read(f"metrics_{fp}").collect()
    resumed = {r["stage"]: r["resumed"] for r in m2}
    assert resumed == {"signatures": True, "edges": True,
                       "clusters": True, "decisions": False}
    assert _decision_set(d2) == out1

    # changed config → different fingerprint → full recompute
    cfg2 = PipelineConfig(num_perm=128, lsh_bands=32,
                          jaccard_threshold=0.9)
    run_resumable(spark, pages, cfg2, wh, input_id="corpus-v1")
    fp2 = config_fingerprint(cfg2, "corpus-v1")
    assert fp2 != fp
    m3 = wh.read(f"metrics_{fp2}").collect()
    assert all(not r["resumed"] for r in m3)


def test_determinism_two_runs_identical(spark, small_pages, tmp_path):
    pages, _ = small_pages
    wh_a = get_warehouse(spark, str(tmp_path / "a"))
    wh_b = get_warehouse(spark, str(tmp_path / "b"))
    da = run_resumable(spark, pages, CFG, wh_a, input_id="x")
    db = run_resumable(spark, pages, CFG, wh_b, input_id="x")
    rows_a = sorted(map(tuple, da.select(
        "cluster_id", "url", "rank", "action").collect()))
    rows_b = sorted(map(tuple, db.select(
        "cluster_id", "url", "rank", "action").collect()))
    assert rows_a == rows_b


def test_keep_overrides_flow_through(spark, small_pages, tmp_path):
    pages, _ = small_pages
    wh = get_warehouse(spark, str(tmp_path / "wh"))
    base = run_resumable(spark, pages, CFG, wh, input_id="o")
    some = base.filter(F.col("rank") == 2).select(
        "cluster_id", F.col("url").alias("keep_url")).limit(1)
    ov = some.collect()
    assert ov, "need at least one multi-member cluster"
    overrides = spark.createDataFrame(ov, "cluster_id string, keep_url string")
    d = run_resumable(spark, pages, CFG, wh, input_id="o",
                      keep_overrides=overrides)
    kept = {r["url"]: r["action"] for r in
            d.filter(F.col("cluster_id") == ov[0]["cluster_id"]).collect()}
    assert kept[ov[0]["keep_url"]] == "keep"
    assert all(a == "delete" for u, a in kept.items()
               if u != ov[0]["keep_url"])


def test_manifest_per_partition_lineage(spark, small_pages, tmp_path):
    """Every checkpoint snapshot's manifest carries the per-partition row
    histogram (north rule: per-partition lineage + metrics) and the
    derived skew ratio."""
    pages, _ = small_pages
    wh = get_warehouse(spark, str(tmp_path / "whp"))
    run_resumable(spark, pages, CFG, wh, input_id="corpus-v1")
    fp = config_fingerprint(CFG, "corpus-v1")
    for stage in ("signatures", "edges", "clusters"):
        m = wh.manifest(f"{stage}_{fp}")
        assert m is not None
        assert m.n_partitions == len(m.partition_rows) > 0
        assert sum(m.partition_rows) == m.rows
        assert m.max_partition_rows == max(m.partition_rows)
        assert m.skew_ratio >= 1.0


def test_cc_reliable_round_checkpoint_resume(spark, tmp_path):
    """VERDICT r2 #3: connected_components with a warehouse writes each
    round's edge set to a reliable round table; a rerun after a 'crash'
    at round N resumes (reads, doesn't recompute) rounds ≤ N and
    produces identical clusters. Content-addressed fingerprints keep a
    different input from false-resuming."""
    from duplicate_finder_spark.operators.components import \
        connected_components
    from duplicate_finder_spark.warehouse import get_warehouse

    # a 30-node chain needs several large/small-star rounds to converge
    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)]
        + [("m0", "m1")], "src string, dst string")
    wh = get_warehouse(spark, str(tmp_path / "whcc"))

    want = {(r["url"], r["cluster_id"])
            for r in connected_components(edges).collect()}

    # simulated crash: only 2 rounds run, tables r1/r2 persisted
    connected_components(edges, max_iter=2, warehouse=wh,
                         checkpoint_every=1)
    assert wh.exists("cc_round_r1") and wh.exists("cc_round_r2")
    ts_before = {n: wh.manifest(n).written_at
                 for n in ("cc_round_r1", "cc_round_r2")}

    # full rerun: resumes r1/r2 (manifests untouched), finishes the rest
    # (gc_rounds off here so the resume evidence stays inspectable)
    got = {(r["url"], r["cluster_id"])
           for r in connected_components(edges, warehouse=wh,
                                         checkpoint_every=1,
                                         gc_rounds=False).collect()}
    assert got == want
    for name, ts in ts_before.items():
        assert wh.manifest(name).written_at == ts, f"{name} was recomputed"
    assert wh.exists("cc_round_r3"), "later rounds must have run"

    # different input → different content fingerprint → r1 recomputed
    edges2 = edges.unionByName(spark.createDataFrame(
        [("z0", "z1")], "src string, dst string"))
    got2 = {(r["url"], r["cluster_id"])
            for r in connected_components(edges2, warehouse=wh,
                                          checkpoint_every=1,
                                          gc_rounds=False).collect()}
    want2 = {(r["url"], r["cluster_id"])
             for r in connected_components(edges2).collect()}
    assert got2 == want2
    assert wh.manifest("cc_round_r1").written_at > ts_before["cc_round_r1"]


def test_cc_input_fp_skips_checksum_prepass(spark, tmp_path, monkeypatch):
    """VERDICT r3 wrong-#5: a caller that already holds a fingerprint
    determining the edge set (run_resumable's stage key) passes it as
    ``input_fp`` and CC skips the up-front content-checksum pass — the
    only ``_checksum`` actions left are the per-round convergence
    checks. Round tables key off the caller fingerprint and resume."""
    from duplicate_finder_spark.operators import components as comp

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)],
        "src string, dst string")
    wh = get_warehouse(spark, str(tmp_path / "whfp"))

    calls = []
    real = comp._checksum
    monkeypatch.setattr(comp, "_checksum",
                        lambda df: (calls.append(1) or real(df)))

    # content-addressed default: rounds + 1 (the pre-pass)
    comp.connected_components(edges, max_iter=2, warehouse=wh,
                              checkpoint_every=1, table_prefix="cc_a")
    content_calls = len(calls)

    # caller fingerprint: exactly one fewer action, tables keyed by it
    calls.clear()
    comp.connected_components(edges, max_iter=2, warehouse=wh,
                              checkpoint_every=1, table_prefix="cc_b",
                              input_fp="edges-v1")
    assert len(calls) == content_calls - 1
    assert wh.manifest("cc_b_r1").fingerprint == "cc:edges-v1:r1"

    # rerun with the same input_fp resumes; a different one recomputes
    ts = wh.manifest("cc_b_r1").written_at
    comp.connected_components(edges, max_iter=2, warehouse=wh,
                              checkpoint_every=1, table_prefix="cc_b",
                              input_fp="edges-v1")
    assert wh.manifest("cc_b_r1").written_at == ts
    comp.connected_components(edges, max_iter=2, warehouse=wh,
                              checkpoint_every=1, table_prefix="cc_b",
                              input_fp="edges-v2")
    assert wh.manifest("cc_b_r1").written_at > ts


def test_cc_round_table_gc_after_convergence(spark, tmp_path):
    """VERDICT r3 #7: a CONVERGED reliable run sweeps its round tables
    (and stale deeper ones from an earlier longer run), keeping only the
    highest completed round; a truncated (non-converged) run keeps all
    of them for crash resume."""
    import os

    from duplicate_finder_spark.operators.components import \
        connected_components
    from duplicate_finder_spark.warehouse import get_warehouse

    edges = spark.createDataFrame(
        [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(29)],
        "src string, dst string")
    wh = get_warehouse(spark, str(tmp_path / "whgc"))

    def round_tables():
        return sorted(d for d in os.listdir(str(tmp_path / "whgc"))
                      if d.startswith("cc_round_r"))

    # truncated run: no convergence → nothing GC'd
    connected_components(edges, max_iter=2, warehouse=wh,
                         checkpoint_every=1)
    assert round_tables() == ["cc_round_r1", "cc_round_r2"]

    # converged default run: only the final round table survives
    want = {(r["url"], r["cluster_id"])
            for r in connected_components(edges).collect()}
    got = {(r["url"], r["cluster_id"])
           for r in connected_components(edges, warehouse=wh,
                                         checkpoint_every=1).collect()}
    assert got == want
    left = round_tables()
    assert len(left) == 1, f"stale round tables not GC'd: {left}"
    kept = int(left[0].rsplit("r", 1)[1])
    assert kept >= 3, "kept table must be the final round"
    # a rerun over the same input still works after the sweep
    got2 = {(r["url"], r["cluster_id"])
            for r in connected_components(edges, warehouse=wh,
                                          checkpoint_every=1).collect()}
    assert got2 == want


def test_iceberg_missing_catalog_clean_error(spark):
    """No iceberg jar/catalog in the sandbox: constructing the Iceberg
    warehouse against an unconfigured catalog must fail with a clear,
    actionable RuntimeError — not a raw AnalysisException."""
    import pytest
    from duplicate_finder_spark.warehouse import (IcebergWarehouse,
                                                  get_warehouse)
    with pytest.raises(RuntimeError, match="not configured"):
        IcebergWarehouse(spark, "no_such_catalog", "dedup")
    with pytest.raises(RuntimeError, match="no_such_catalog"):
        get_warehouse(spark, "no_such_catalog.dedup", fmt="iceberg")


def test_parquet_snapshot_survives_concurrent_reader(spark, tmp_path):
    """Snapshot-pointer contract: a DataFrame bound to snapshot v1 keeps
    working through the v2 write (superseded snapshot retained), new
    reads see v2 atomically, and v1 is GC'd only after v3."""
    import os
    from duplicate_finder_spark.warehouse import get_warehouse
    wh = get_warehouse(spark, str(tmp_path / "wh"))

    v1 = spark.range(10).withColumnRenamed("id", "x")
    wh.write(v1, "t", stage="s", fingerprint="f1")
    reader = wh.read("t")            # binds to v1's real path
    assert reader.count() == 10

    v2 = spark.range(25).withColumnRenamed("id", "x")
    wh.write(v2, "t", stage="s", fingerprint="f2")
    # in-flight reader still sees complete v1 data
    assert reader.count() == 10
    # fresh read sees v2; manifest followed the pointer
    assert wh.read("t").count() == 25
    assert wh.manifest("t").fingerprint == "f2"

    table = str(tmp_path / "wh" / "t")
    snaps = [e for e in os.listdir(table) if e.startswith("snapshot-")]
    assert len(snaps) == 2           # current + one retained for readers

    v3 = spark.range(3).withColumnRenamed("id", "x")
    wh.write(v3, "t", stage="s", fingerprint="f3")
    snaps = [e for e in os.listdir(table) if e.startswith("snapshot-")]
    assert len(snaps) == 2           # v1 garbage-collected
    assert wh.read("t").count() == 3


def test_warehouse_time_travel_and_retention(spark, tmp_path):
    """Iceberg-parity surface: history() is the snapshot log,
    read(snapshot_id=...) time-travels to a retained snapshot, and
    retain bounds the kept tail."""
    import pytest

    from duplicate_finder_spark.warehouse import ParquetWarehouse
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"), retain=3)
    for i, fp in enumerate(("f1", "f2", "f3"), start=1):
        wh.write(spark.range(i).withColumnRenamed("id", "x"),
                 "t", stage="s", fingerprint=fp)
    hist = wh.history("t")
    assert [h["fingerprint"] for h in hist] == ["f3", "f2", "f1"]
    assert [h["rows"] for h in hist] == [3, 2, 1]
    assert hist[0]["is_current"] and not hist[1]["is_current"]
    # time travel to the oldest retained snapshot
    assert wh.read("t", snapshot_id=hist[2]["snapshot_id"]).count() == 1
    # a 4th write expires f1 (retain=3)
    wh.write(spark.range(4).withColumnRenamed("id", "x"),
             "t", stage="s", fingerprint="f4")
    hist2 = wh.history("t")
    assert [h["fingerprint"] for h in hist2] == ["f4", "f3", "f2"]
    with pytest.raises(FileNotFoundError):
        wh.read("t", snapshot_id=hist[2]["snapshot_id"])
    with pytest.raises(ValueError):
        ParquetWarehouse(spark, str(tmp_path / "wh2"), retain=1)


def test_parquet_warehouse_empty_stage(spark, tmp_path):
    """A dup-free corpus checkpoints ZERO edges: the empty stage must
    round-trip (write, manifest, read-back) without type-inference
    failures — the bug class the Iceberg manifest schema pins."""
    from duplicate_finder_spark.warehouse import get_warehouse
    wh = get_warehouse(spark, str(tmp_path / "wh"))
    empty = spark.createDataFrame([], "src string, dst string")
    m = wh.write(empty, "edges", stage="edges", fingerprint="fp")
    assert m.rows == 0
    assert m.partition_rows == []
    assert m.skew_ratio == 1.0
    assert wh.read("edges").count() == 0
    assert wh.manifest("edges").fingerprint == "fp"


def test_iceberg_manifest_schema_accepts_empty_partition_rows(spark):
    """The explicit manifest schema must type an EMPTY partition_rows
    list (the createDataFrame failure mode on empty stages)."""
    from duplicate_finder_spark.warehouse import (IcebergWarehouse,
                                                  StageManifest)
    m = StageManifest(stage="s", fingerprint="f", rows=0, written_at=0.0,
                      partition_rows=[], n_partitions=0,
                      max_partition_rows=0)
    df = spark.createDataFrame([m.__dict__],
                               schema=IcebergWarehouse.MANIFEST_SCHEMA)
    row = df.collect()[0]
    assert row["partition_rows"] == []
    assert row["rows"] == 0


def _spark_file_rows(spark, path: str) -> list[int]:
    """Rows per data file of a parquet dir, counted by Spark, in file
    path order."""
    rows = (spark.read.parquet(path)
            .groupBy(F.input_file_name().alias("f")).count().collect())
    return [r["count"] for r in sorted(rows, key=lambda r: r["f"])]


def test_parquet_manifest_matches_spark_count(spark, tmp_path):
    """The manifest's row counts come from the Parquet footers; they
    must equal what Spark counts in the snapshot, for a multi-file
    write with uneven files and for a ``partition_by`` write."""
    import os
    wh = get_warehouse(spark, str(tmp_path / "wh"))
    # 3 keys hashed into 4 partitions: uneven files, and one partition
    # writes none
    uneven = (spark.range(1000).withColumn("k", F.col("id") % 3)
              .repartition(4, "k"))
    split = (spark.range(600)
             .withColumn("action", F.when(F.col("id") % 5 == 0, "keep")
                         .otherwise("delete"))
             .repartition(3))
    for name, df, by in (("multi", uneven, None),
                         ("split", split, ["action"])):
        m = wh.write(df, name, stage=name, fingerprint="fp",
                     partition_by=by)
        data = os.path.join(os.path.realpath(
            str(tmp_path / "wh" / name / "current")), "data")
        counted = _spark_file_rows(spark, data)
        assert len(counted) > 1
        assert m.partition_rows == counted
        assert m.rows == wh.read(name).count() == df.count()
        assert m.n_partitions == len(counted)
        assert m.max_partition_rows == max(counted)
        assert wh.manifest(name).partition_rows == counted


def test_parquet_write_launches_no_readback_job(spark, tmp_path,
                                                count_jobs):
    """The manifest costs no Spark job: a warehouse write launches as
    many jobs as a bare parquet write of the same DataFrame."""
    wh = get_warehouse(spark, str(tmp_path / "wh"))
    df = spark.range(2000).withColumn("x", F.col("id") * 2)
    bare = count_jobs(
        lambda: df.write.mode("overwrite").parquet(str(tmp_path / "bare")))
    assert count_jobs(lambda: wh.write(df, "t", stage="t")) == bare
