"""spark-submit entry for the full dedup pipeline (SURVEY.md §3.4):

    spark-submit --py-files dist/duplicate_finder_spark.zip \\
        jobs/dedup.py --input /path/pages_parquet \\
        --warehouse /path/wh --config job.json

Unlike the interactive CLI (duplicate_finder_spark/cli.py — the
reference-parity lifecycle for a human at a terminal), this is the
cluster job: non-interactive, checkpointed per stage through the
Warehouse facade (resume-on-rerun), decisions written as a table, one
JSON summary line on stdout for the orchestrator.

Config file: JSON object of PipelineConfig field overrides
(duplicate_finder_spark/config.py), e.g.
``{"num_perm": 128, "lsh_bands": 32, "jaccard_threshold": 0.8}``.
The session (``session.job_session``) keeps every spark-submit
``--conf`` and only adds the workload-semantic defaults (Arrow, AQE).
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from duplicate_finder_spark.partitioning import autosize_unless_set
from duplicate_finder_spark.pipeline import config_fingerprint, run_resumable
from duplicate_finder_spark.session import (job_config, job_session,
                                            read_pages)
from duplicate_finder_spark.warehouse import get_warehouse


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="dedup-job")
    p.add_argument("--input", required=True,
                   help="pages table: parquet path, catalog.ns.table "
                        "with --format iceberg, or a directory of "
                        ".warc/.warc.gz segments with --format warc")
    p.add_argument("--warehouse", required=True,
                   help="checkpoint warehouse root (parquet) or "
                        "catalog.namespace (iceberg)")
    p.add_argument("--format", choices=("parquet", "iceberg", "warc"),
                   default="parquet")
    p.add_argument("--config", default=None,
                   help="JSON file of PipelineConfig overrides")
    p.add_argument("--input-id", default=None,
                   help="stable id for the input snapshot (stage-cache "
                        "key); defaults to the input path")
    p.add_argument("--warmup", action="store_true",
                   help="run an untimed Python-UDF warmup pass before "
                        "the measured pipeline: spawns the per-core "
                        "UDF daemons (each imports numpy/pandas) and "
                        "JITs the hot JVM paths, bringing a FRESH "
                        "local JVM to the steady state a long-lived "
                        "cluster executor is already in — use for "
                        "throughput comparisons, where daemon spawn "
                        "(a per-executor one-time cost that grows "
                        "with core count) would otherwise be billed "
                        "to the wide configuration")
    p.add_argument("--no-autosize", action="store_true",
                   help="keep the session's spark.sql.shuffle.partitions "
                        "instead of sizing it from the scanned input "
                        "bytes (an explicit --conf value is kept "
                        "either way)")
    return p.parse_args(argv)


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cfg = job_config(args.config)
    spark = job_session("dedup")
    try:
        pages = read_pages(spark, args.input, args.format)
        wh = get_warehouse(spark, args.warehouse, fmt=args.format)

        # size the shuffle to the INPUT, not the session default,
        # deriving from scanned bytes so an 8M-doc run does not push
        # 600 MB partitions through a 16g heap. An explicit
        # spark.sql.shuffle.partitions in the SparkConf (spark-submit
        # --conf) is kept; --no-autosize keeps the session default too
        if not args.no_autosize:
            n_parts = autosize_unless_set(spark, pages)
            if n_parts is not None:
                print(f"shuffle.partitions={n_parts} (auto)",
                      file=sys.stderr)

        input_id = args.input_id or args.input
        if args.warmup:
            from pyspark.sql import functions as F
            _w = F.pandas_udf(lambda s: s, "long")
            (spark.range(100_000)
                  .repartition(spark.sparkContext.defaultParallelism)
                  .select(_w("id"))
                  .write.format("noop").mode("overwrite").save())
        t0 = time.time()
        decisions = run_resumable(spark, pages, cfg, wh, input_id=input_id)
        manifest = wh.write(decisions, "decisions", stage="decisions",
                            fingerprint=input_id)
        wall = round(time.time() - t0, 2)

        # doc count from the signatures stage manifest — recounting the
        # source would re-scan it (for WARC: re-read + re-parse +
        # re-gunzip every segment) just for a throughput stat
        sig_manifest = wh.manifest(
            f"signatures_{config_fingerprint(cfg, input_id)}")
        n_docs = sig_manifest.rows if sig_manifest else manifest.rows
        summary = {
            "rows": manifest.rows,
            "n_partitions": manifest.n_partitions,
            "skew_ratio": round(manifest.skew_ratio, 3),
            "wall_sec": wall,
            "docs_per_sec": round(n_docs / wall, 1) if wall else None,
        }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
