"""SparkSession factory tuned for the dedup workload.

Settings rationale (scale-first, per SURVEY.md §4):
* AQE on — runtime coalesce + skew-join split is the backstop for LSH
  bucket skew; explicit salting in operators/lsh.py is the primary control.
* Arrow on — every per-doc computation rides pandas UDF batches
  (BASELINE.json input_hint: "no per-row Python").
* shuffle.partitions defaults to the core count locally; on a real cluster
  this is overridden to ~2-3× total cores via spark-submit conf.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession

from duplicate_finder_spark.config import PipelineConfig, normalize_parallelism


def get_spark(app_name: str = "duplicate-finder-spark",
              master: str | None = None,
              shuffle_partitions: int | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    cores = normalize_parallelism(None)
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cores}]")
    parts = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(cores)))
    builder = (
        SparkSession.builder
        .master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(parts))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def job_session(app: str) -> SparkSession:
    """A spark-submit job's session: ``getOrCreate`` keeps every
    ``--conf`` (executors, shuffle partitions, Iceberg catalogs); only
    the workload-semantic defaults (AQE, skew join, Arrow) are set."""
    return (SparkSession.builder
            .appName(f"duplicate-finder-spark:{app}")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.skewJoin.enabled", "true")
            .config("spark.sql.execution.arrow.pyspark.enabled", "true")
            .getOrCreate())


def job_config(path: str | None) -> PipelineConfig:
    """A job's ``--config``: a JSON file of PipelineConfig overrides."""
    if not path:
        return PipelineConfig()
    with open(path) as f:
        return PipelineConfig(**json.load(f))


def read_pages(spark: SparkSession, path: str, fmt: str) -> DataFrame:
    """A job's ``--input``: parquet path, Iceberg ``catalog.ns.table``,
    or a directory of .warc/.warc.gz segments (text extracted)."""
    if fmt == "iceberg":
        return spark.table(path)
    if fmt == "warc":
        from duplicate_finder_spark.functions.extraction import (
            with_extracted_text)
        from duplicate_finder_spark.sources.warc import read_warc
        return with_extracted_text(read_warc(spark, path))
    return spark.read.parquet(path)
