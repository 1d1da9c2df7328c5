"""spark-submit entry for the INCREMENTAL dedup pass — a new crawl
snapshot against the kept corpus (operators/crosssnap.py):

    spark-submit --py-files dist/duplicate_finder_spark.zip \\
        jobs/incremental.py --input /path/new_batch_parquet \\
        --warehouse /path/wh --batch-id 2026-08

Store layout — APPEND-ONLY, the property that makes the workflow
10^12-doc-safe: the kept corpus is the union of per-batch signature
tables ``corpus_sigs__<batch-id>`` listed in a tiny ``corpus_batches``
registry table. Each run writes O(batch) rows (its kept survivors),
never O(corpus) — the incumbent corpus is READ (and, via the pruned
census, only its colliding buckets are even shuffled) but never
rewritten. This is Iceberg's append-snapshot pattern expressed on the
warehouse facade's atomic-swap primitive; under a real Iceberg catalog
the per-batch table becomes an APPEND to one table and the registry
becomes its snapshot log.

Each run:

1. signs the new batch (store signatures are read, never recomputed);
2. decides keep/delete per new doc — incumbents win components they
   touch, new-only clusters keep-first, store×store pairs never
   generated (operators/crosssnap.py);
3. writes ``incr_decisions_<batch-id>`` (the audit/deletion report);
4. writes the batch's KEPT signatures as ``corpus_sigs__<batch-id>``;
5. commits the batch into the registry (the last write = the commit
   point: a crash anywhere earlier leaves the corpus exactly as it
   was, and the rerun redoes the batch from scratch).

Reruns of the same --batch-id are safe and idempotent: the store read
EXCLUDES the current batch id, so a crash between steps 4 and 5 (or a
deliberate reprocess of a published batch) recomputes against the same
incumbent set and overwrites the batch's tables via snapshot swap.

The first run (empty registry) dedups the batch within itself and
seeds the corpus — no flag needed. Batch urls must be globally unique
across snapshots (url is the document identity; re-crawls of a stored
url are exact-dup territory for the exact stage upstream).

``--compact [--keep-last K]`` is the maintenance mode: it folds
committed per-batch tables into one (bounding the read union's fan-in
as batches accumulate) and drops orphaned store tables left by crashed
runs — see duplicate_finder_spark/store.py for the commit protocol and
the reprocessing contract. Run it between ingests, not concurrently.
"""

from __future__ import annotations

import argparse
import json
import sys
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators.crosssnap import cross_snapshot_decisions
from duplicate_finder_spark.operators.minhash import SIG_COLS, signatures
from duplicate_finder_spark.store import (STORE_PREFIX, commit_batch,
                                          compact_store, gc_store)
from duplicate_finder_spark.store import read_store as _read_store
from duplicate_finder_spark.warehouse import get_warehouse


def read_store(wh, template: DataFrame,
               exclude: str | None = None) -> DataFrame:
    """The kept corpus's signatures (duplicate_finder_spark.store)."""
    return _read_store(wh, template, SIG_COLS, exclude=exclude)


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
    if args.batch_id and "/" in args.batch_id:
        raise SystemExit("--batch-id must not contain '/'")
    overrides = {}
    if args.config:
        with open(args.config) as f:
            overrides = json.load(f)
    cfg = PipelineConfig(**overrides)

    spark = (SparkSession.builder
             .appName("duplicate-finder-spark:incremental")
             .config("spark.sql.adaptive.enabled", "true")
             .config("spark.sql.adaptive.skewJoin.enabled", "true")
             .config("spark.sql.execution.arrow.pyspark.enabled", "true")
             .getOrCreate())
    try:
        if args.compact:
            wh = get_warehouse(spark, args.warehouse, fmt=args.format)
            summary = compact_store(wh, spark, SIG_COLS,
                                    keep_last=args.keep_last)
            summary["orphans_dropped"] = gc_store(wh)
            print(json.dumps(summary))
            return 0
        if args.format == "iceberg":
            pages = spark.table(args.input)
        elif args.format == "warc":
            from duplicate_finder_spark.functions.extraction import (
                with_extracted_text)
            from duplicate_finder_spark.sources.warc import read_warc
            pages = with_extracted_text(read_warc(spark, args.input))
        else:
            pages = spark.read.parquet(args.input)
        wh = get_warehouse(
            spark, args.warehouse,
            fmt="parquet" if args.format == "warc" else args.format)

        t0 = time.time()
        # persisted across its consumers (decisions + the kept-new
        # anti-join below) — O(batch) rows; released after the last use
        new_sigs = signatures(pages, cfg).persist()
        store_sigs = read_store(wh, new_sigs, exclude=args.batch_id)

        store_bloom = None
        if args.bloom_fpp is not None:
            # registry rows give the store size without scanning it;
            # the build itself shuffles ≤ m/64 word rows
            from duplicate_finder_spark.operators.bloomfilter import (
                BloomFilter)
            from duplicate_finder_spark.store import registry_rows
            n_store = sum(n for _, n, _ in
                          registry_rows(wh, exclude=args.batch_id))
            if n_store:
                store_bloom = BloomFilter.build(
                    store_sigs.select("url"), "url",
                    n_expected=n_store, fpp=args.bloom_fpp)

        decisions = cross_snapshot_decisions(new_sigs, store_sigs, cfg,
                                             store_bloom=store_bloom)
        dec_manifest = wh.write(decisions,
                                f"incr_decisions_{args.batch_id}",
                                stage="incr_decisions",
                                fingerprint=args.batch_id)
        # reuse the MATERIALIZED decisions: the apply is one anti-join,
        # not a recompute of the candidate/verify/components chain
        decided = wh.read(f"incr_decisions_{args.batch_id}")
        dropped = decided.filter(F.col("action") == "delete") \
            .select("url")
        kept_new = new_sigs.select(*SIG_COLS) \
            .join(dropped, "url", "left_anti")
        kept_manifest = wh.write(kept_new, STORE_PREFIX + args.batch_id,
                                 stage="store_batch",
                                 fingerprint=args.batch_id)
        new_sigs.unpersist()
        # the COMMIT: one registry row per batch; a rerun of the same
        # batch id replaces its row (and moves it to the end — the
        # reprocessed batch is now the newest arrival)
        prior = commit_batch(wh, spark, args.batch_id,
                             kept_manifest.rows)
        wall = round(time.time() - t0, 2)

        by_reason = {r["reason"]: r["n"] for r in
                     decided.groupBy("reason")
                     .agg(F.count("*").alias("n")).collect()}
        summary = {
            "batch_id": args.batch_id,
            "n_new": dec_manifest.rows,
            "by_reason": by_reason,
            "batch_kept": kept_manifest.rows,
            "store_rows": sum(n for _, n, _ in prior)
            + kept_manifest.rows,
            "n_store_batches": len(prior) + 1,
            "wall_sec": wall,
            "docs_per_sec": (round(dec_manifest.rows / wall, 1)
                             if wall else None),
        }
        print(json.dumps(summary))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
