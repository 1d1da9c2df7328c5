"""spark-submit entry for the INCREMENTAL dedup pass — a new crawl
snapshot against the kept corpus (operators/crosssnap.py):

    spark-submit --py-files dist/duplicate_finder_spark.zip \\
        jobs/incremental.py --input /path/new_batch_parquet \\
        --warehouse /path/wh --batch-id 2026-08

One run is one ``duplicate_finder_spark.store.ingest_batch`` call,
whose docstring holds the commit protocol (decisions, kept signatures,
then the registry row as the commit point) and the rerun contract; the
append-only store layout is in duplicate_finder_spark/store.py.

``--compact [--keep-last K]`` is the maintenance mode: it folds
committed per-batch tables into one (bounding the read union's fan-in
as batches accumulate) and drops orphaned store tables left by crashed
runs. Run it between ingests, not concurrently.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from duplicate_finder_spark.operators.minhash import SIG_COLS
from duplicate_finder_spark.session import (job_config, job_session,
                                            read_pages)
from duplicate_finder_spark.store import (compact_store, gc_store,
                                          ingest_batch)
from duplicate_finder_spark.warehouse import get_warehouse


def parse_args(argv: list[str] | None = None) -> argparse.Namespace:
    p = argparse.ArgumentParser(prog="incremental-dedup-job")
    p.add_argument("--input",
                   help="new batch pages: parquet path, or "
                        "catalog.ns.table with --format iceberg, or a "
                        "directory of .warc/.warc.gz segments")
    p.add_argument("--warehouse", required=True,
                   help="corpus warehouse root (parquet) or "
                        "catalog.namespace (iceberg); holds the "
                        "per-batch signature tables, the registry and "
                        "the decision tables")
    p.add_argument("--format", choices=("parquet", "iceberg", "warc"),
                   default="parquet")
    p.add_argument("--config", default=None,
                   help="JSON file of PipelineConfig overrides — must "
                        "match the config the store was built with "
                        "(signatures are config-specific)")
    p.add_argument("--batch-id",
                   help="stable id for this snapshot (names the "
                        "decision and store tables; e.g. crawl date). "
                        "Must not contain '/'")
    p.add_argument("--bloom-fpp", type=float, default=None,
                   help="enable the broadcast Bloom-filter re-crawl "
                        "prefilter at this false-positive rate (e.g. "
                        "0.01): the batch probes a bitmap of the "
                        "store's urls instead of anti-joining the "
                        "whole store; results are identical "
                        "(operators/bloomfilter.py)")
    p.add_argument("--compact", action="store_true",
                   help="maintenance mode: fold committed per-batch "
                        "store tables into one and drop orphans "
                        "(duplicate_finder_spark.store.compact_store); "
                        "no ingest — run it from a window with no "
                        "concurrent ingest job")
    p.add_argument("--keep-last", type=int, default=1,
                   help="with --compact: newest batches left unfolded "
                        "(still individually reprocessable); default 1")
    args = p.parse_args(argv)
    if args.compact:
        if args.input or args.batch_id:
            p.error("--compact takes no --input/--batch-id")
    elif not args.input or not args.batch_id:
        p.error("--input and --batch-id are required (or use --compact)")
    return args


def main(argv: list[str] | None = None) -> int:
    args = parse_args(argv)
    cfg = job_config(args.config)
    spark = job_session("incremental")
    try:
        wh = get_warehouse(spark, args.warehouse, fmt=args.format)
        if args.compact:
            summary = compact_store(wh, spark, SIG_COLS,
                                    keep_last=args.keep_last)
            summary["orphans_dropped"] = gc_store(wh)
            print(json.dumps(summary))
            return 0
        pages = read_pages(spark, args.input, args.format)
        t0 = time.time()
        done = ingest_batch(spark, wh, pages, args.batch_id, cfg,
                            bloom_fpp=args.bloom_fpp)
        wall = round(time.time() - t0, 2)

        by_reason = {r["reason"]: r["count"] for r in
                     done.decisions.groupBy("reason").count().collect()}
        summary = {
            "batch_id": args.batch_id,
            "n_new": done.n_decided,
            "by_reason": by_reason,
            "batch_kept": done.n_kept,
            "store_rows": sum(n for _, n in done.prior) + done.n_kept,
            "n_store_batches": len(done.prior) + 1,
            "wall_sec": wall,
            "docs_per_sec": (round(done.n_decided / wall, 1)
                             if wall else None),
        }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
