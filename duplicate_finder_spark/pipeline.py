"""End-to-end dedup pipeline: exact stage → near-dup candidates → verify
→ connected components → clusters → keep/delete decisions.

This is the engine lifecycle from SURVEY.md §3.4 — a declared DataFrame
program; Catalyst owns parse/analyze/optimize/physical. Stage boundaries
(signatures, edges, clusters) can be checkpointed through the Warehouse
facade for resumability (north rule), see warehouse.py.
"""

from __future__ import annotations

import hashlib
import json
import time

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators import exact as ex
from duplicate_finder_spark.operators.components import connected_components
from duplicate_finder_spark.operators.decisions import decide
from duplicate_finder_spark.operators.lsh import candidate_pairs, verify_pairs
from duplicate_finder_spark.operators.minhash import signatures


def exact_edges(clusters: DataFrame) -> DataFrame:
    """Exact-dup clusters → star edges (rank-1 member ↔ each other member),
    ready to union with near-dup edges before components."""
    rank1 = clusters.filter(F.col("rank") == 1).select(
        "content_hash", F.col("url").alias("src"))
    rest = clusters.filter(F.col("rank") > 1).select(
        "content_hash", F.col("url").alias("dst"))
    return rank1.join(rest, "content_hash").select("src", "dst")


def near_dup_edges(pages: DataFrame, cfg: PipelineConfig,
                   sigs: DataFrame | None = None) -> DataFrame:
    """MinHash/LSH candidates, verified by exact shingle Jaccard →
    (url_a, url_b, jaccard) edges."""
    if sigs is None:
        sigs = signatures(pages, cfg)
    pairs = candidate_pairs(sigs, cfg)
    return verify_pairs(pairs, sigs, cfg.jaccard_threshold, cfg)


# --- resumable, lineage-tracked run (north rule: checkpoint + metrics) ------

#: the ``metrics`` table's columns; the table is built from Arrow so its
#: few driver-side rows never go through a Python worker
METRICS_SCHEMA = pa.schema([("stage", pa.string()), ("rows", pa.int64()),
                            ("wall_sec", pa.float64()),
                            ("resumed", pa.bool_()),
                            ("fingerprint", pa.string())])


class StageRecorder:
    """Stage checkpoints plus their ``metrics_<fp>`` table (one row per
    stage), shared by ``run_resumable`` and jobs/curate.py."""

    def __init__(self, warehouse, fp: str):
        self.warehouse, self.fp, self.rows = warehouse, fp, []

    def staged(self, name: str, compute) -> DataFrame:
        """``compute()`` checkpointed as ``<name>_<fp>``, resumed when
        its fingerprint matches; records the stage's row."""
        t0, table = time.time(), f"{name}_{self.fp}"
        df, resumed = self.warehouse.checkpoint_or_compute(table, self.fp,
                                                           compute)
        self.record(name, self.warehouse.manifest(table).rows, t0, resumed)
        return df

    def record(self, name: str, rows: int, t0: float,
               resumed: bool = False) -> None:
        """Row of a stage started at ``t0`` (also for uncheckpointed
        stages)."""
        self.rows.append({"stage": name, "rows": rows,
                          "wall_sec": round(time.time() - t0, 3),
                          "resumed": resumed, "fingerprint": self.fp})

    def write(self, spark: SparkSession) -> None:
        self.warehouse.write(
            spark.createDataFrame(
                pa.Table.from_pylist(self.rows, schema=METRICS_SCHEMA)),
            f"metrics_{self.fp}", stage="metrics", fingerprint=self.fp)


def config_fingerprint(cfg: PipelineConfig, input_id: str) -> str:
    """Deterministic stage-cache key from (pinned config, input id)."""
    payload = json.dumps({
        "input": input_id,
        "shingle_size": cfg.shingle_size, "num_perm": cfg.num_perm,
        "lsh_bands": cfg.lsh_bands, "jaccard": cfg.jaccard_threshold,
        "seed": cfg.seed, "min": cfg.min_size, "max": cfg.max_size,
        "inc": cfg.include_patterns, "exc": cfg.exclude_patterns,
        "hot": cfg.hot_bucket_limit,
    }, sort_keys=True)
    return hashlib.sha256(payload.encode()).hexdigest()[:24]


def run_resumable(spark: SparkSession, pages: DataFrame,
                  cfg: PipelineConfig, warehouse, input_id: str,
                  keep_overrides: DataFrame | None = None,
                  cc_checkpoint_every: int = 0) -> DataFrame:
    """Full pipeline with per-stage warehouse checkpoints: a rerun after
    a failure resumes from the last completed stage (fingerprint match),
    and every stage logs a row into the ``metrics`` table (stage, rows,
    wall seconds, resumed flag) — the engine's answer to the reference's
    per-stage progress banners (duplicate_finder.py:31,131,186,206).

    ``cc_checkpoint_every`` > 0 additionally writes every that-many-th
    connected-components ROUND to a reliable warehouse round table
    (operators/components.py), so a long clustering job survives
    executor loss mid-stage, not just between stages.
    """
    fp = config_fingerprint(cfg, input_id)
    recorder = StageRecorder(warehouse, fp)
    staged = recorder.staged

    filtered = ex.apply_filters(pages, cfg)
    sigs = staged("signatures", lambda: signatures(filtered, cfg))
    edges = staged("edges", lambda: (
        exact_edges(ex.exact_clusters(pages, cfg)).unionByName(
            near_dup_edges(filtered, cfg, sigs)
            .select(F.col("url_a").alias("src"),
                    F.col("url_b").alias("dst")))))
    clusters = staged("clusters", lambda: connected_components(
        edges, warehouse=warehouse if cc_checkpoint_every > 0 else None,
        checkpoint_every=cc_checkpoint_every,
        table_prefix=f"cc_round_{fp}",
        # fp already determines the edge set (the edges stage above is
        # checkpointed under it) — skip CC's content-checksum pre-pass
        input_fp=fp))

    # decisions are NOT checkpointed: they are cheap relative to the
    # signature/edge/cluster stages and must react to a fresh
    # keep_overrides table (SURVEY.md §3.4 checkpoints the three heavy
    # boundaries only)
    w = Window.partitionBy("cluster_id").orderBy("url")
    ranked = (clusters
              .join(filtered.select("url", ex.SIZE_COL), "url", "left")
              .withColumn("rank", F.row_number().over(w)))
    t0 = time.time()
    decisions = decide(ranked, keep_overrides)
    recorder.record("decisions", decisions.count(), t0)
    recorder.write(spark)
    return decisions
