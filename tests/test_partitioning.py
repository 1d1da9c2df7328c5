"""Shuffle auto-sizing (partitioning.py, VERDICT r4 #5): the one knob a
job must hand-scale with input size. The rule itself is pure and tested
exhaustively; the Spark-side wiring is tested once end-to-end."""

from __future__ import annotations

import pytest

from duplicate_finder_spark.partitioning import (
    SHUFFLE_EXPANSION, SHUFFLE_TARGET_BYTES, autosize_shuffle_partitions,
    autosize_unless_set, scan_bytes, shuffle_partitions_for)

MIB = 1 << 20


def test_small_input_floors_at_core_count():
    # anything that inflates to under cores × target stays at cores —
    # parallelism floor, not partition-size optimum
    assert shuffle_partitions_for(10 * MIB, cores=32) == 32
    assert shuffle_partitions_for(0, cores=8) == 8


def test_large_input_scales_by_bytes():
    # 20 GiB scan × 3 expansion / 128 MiB target = 480 partitions —
    # the regime where the cores-sized default (32) OOMed the 8M-doc
    # linearity probe at a 16 GiB heap
    got = shuffle_partitions_for(20 * 1024 * MIB, cores=32)
    assert got == -(-20 * 1024 * MIB * 3 // (128 * MIB))  # ceil
    assert got == 480


def test_rule_is_monotone_in_bytes():
    vals = [shuffle_partitions_for(b * MIB, cores=16)
            for b in (0, 100, 1000, 10_000, 100_000, 10_000_000)]
    assert vals == sorted(vals)


def test_ceiling_backstop():
    # 100 TB would want ~2.4M partitions; the ceiling keeps the local
    # default schedulable (a real cluster raises target_bytes instead)
    assert shuffle_partitions_for(100 * (1 << 40), cores=32) == 65536
    assert shuffle_partitions_for(
        100 * (1 << 40), cores=32, ceiling=10_000) == 10_000


def test_expansion_and_target_knobs():
    b = 1024 * MIB
    assert shuffle_partitions_for(b, cores=1, expansion=1.0,
                                  target_bytes=256 * MIB) == 4
    assert shuffle_partitions_for(b, cores=1, expansion=2.0,
                                  target_bytes=256 * MIB) == 8
    # defaults are what the module advertises
    assert SHUFFLE_TARGET_BYTES == 128 * MIB
    assert SHUFFLE_EXPANSION == pytest.approx(3.0)


def test_fan_out_only_when_scan_is_narrow(spark, tmp_path):
    from duplicate_finder_spark.partitioning import fan_out
    path = str(tmp_path / "one")
    spark.range(100).coalesce(1).write.parquet(path)
    df = spark.read.parquet(path)
    goal = spark.sparkContext.defaultParallelism
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == goal
    # already-wide input is untouched (no gratuitous shuffle)
    wide = str(tmp_path / "wide")
    spark.range(1000).repartition(goal).write.parquet(wide)
    df2 = spark.read.parquet(wide)
    assert fan_out(df2) is df2


def test_autosize_sets_conf_from_scan(spark, tmp_path):
    path = str(tmp_path / "pages")
    spark.range(10_000).selectExpr(
        "id", "repeat('x', 200) AS text").write.parquet(path)
    df = spark.read.parquet(path)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        assert scan_bytes(df) > 0
        n = autosize_shuffle_partitions(spark, df)
        # tiny input → floors at the session's parallelism
        assert n == spark.sparkContext.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
        # a forced low target must push the count above the floor and
        # into the conf (the 8M-doc regime, shrunk to test scale)
        n2 = autosize_shuffle_partitions(spark, df, target_bytes=1024,
                                         expansion=1.0)
        assert n2 > n
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n2)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)


def test_autosize_skips_implausible_estimate(spark, monkeypatch):
    """r5 ADVICE: a stats-less plan reports Catalyst's
    defaultSizeInBytes sentinel (Long.MaxValue); autosizing must treat
    it as unknown and keep the session default instead of slamming the
    conf to the ceiling."""
    from duplicate_finder_spark import partitioning as pt
    before = spark.conf.get("spark.sql.shuffle.partitions")
    monkeypatch.setattr(pt, "scan_bytes", lambda df: (1 << 63) - 1)
    n = pt.autosize_shuffle_partitions(spark, spark.range(10))
    assert n == int(before)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_autosize_keeps_explicit_conf(spark, tmp_path, monkeypatch):
    """The jobs' autosize keeps a spark.sql.shuffle.partitions that the
    SparkConf holds (spark-submit --conf), and sizes it when unset."""
    from pyspark import SparkConf
    path = str(tmp_path / "pages")
    spark.range(10_000).selectExpr(
        "id", "repeat('x', 200) AS text").write.parquet(path)
    df = spark.read.parquet(path)
    sc = spark.sparkContext
    assert sc.getConf().contains("spark.sql.shuffle.partitions")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "7")
        assert autosize_unless_set(spark, df) is None
        assert spark.conf.get("spark.sql.shuffle.partitions") == "7"
        monkeypatch.setattr(sc, "getConf",
                            lambda: SparkConf(loadDefaults=False))
        n = autosize_unless_set(spark, df)
        assert n == sc.defaultParallelism
        assert spark.conf.get("spark.sql.shuffle.partitions") == str(n)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
