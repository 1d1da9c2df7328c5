"""CLI lifecycle — the reference's ``DuplicateFinder.run``
(duplicate_finder.py:20-108) re-expressed over the Spark engine.

Stage structure and console output mirror the reference line-for-line
(scan banner :30, empty-scan early-outs :38,45, group printout :257-274,
report file :276-295, confirmation gate :85-105, delete/dry-run lines
:299-351, interactive prompt loop with reprompt-on-invalid :353-425) —
but every data-touching stage is the distributed DataFrame path:
``binaryFile`` scan → filters → size semi-join prefilter → sha2 group →
clusters. The driver only ever handles the tiny duplicate-group tail.

Three input kinds:
* ``--format files`` (default): real parity — walks a directory of
  actual files through Spark's binaryFile source; deletion unlinks.
* ``--format parquet``: the web-scale path — a pages table (url, text);
  "deletion" rewrites survivors to ``<folder>__dedup`` (never mutates
  the input in place).
* ``--format warc``: Common-Crawl-style archives (sources/warc.py),
  text extracted on the fly; survivors rewrite like parquet mode.
"""

from __future__ import annotations

import sys
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from duplicate_finder_spark.cli_args import ArgumentParserAdapter
from duplicate_finder_spark.config import PipelineConfig, humanize_size
from duplicate_finder_spark.operators import exact as ex
from duplicate_finder_spark.session import get_spark


def load_pages(spark: SparkSession, folder: str, fmt: str) -> DataFrame:
    """folder → (url, text) DataFrame. 'files' = binaryFile walk (S1:
    recursive, symlink-free — Hadoop's globber does not follow dangling
    links); 'parquet' = pages table; 'warc' = Common-Crawl-style
    archives (sources/warc.py) with text extracted on the fly."""
    if fmt == "parquet":
        return spark.read.parquet(folder)
    if fmt == "warc":
        from duplicate_finder_spark.functions.extraction import (
            with_extracted_text)
        from duplicate_finder_spark.sources.warc import read_warc
        return with_extracted_text(read_warc(spark, folder)) \
            .select("url", "text")
    raw = (spark.read.format("binaryFile")
           .option("recursiveFileLookup", "true")
           .load(folder))
    # plain POSIX paths like the reference prints (binaryFile yields
    # file:/... URIs); content stays binary — sha2/length work unchanged
    return raw.select(
        F.regexp_replace("path", r"^file:/+", "/").alias("url"),
        F.col("content").alias("text"))


def collect_groups(clusters: DataFrame, cfg: PipelineConfig,
                   max_groups: int | None = None) -> tuple[list[dict], int]:
    """clusters → (ordered [{members, size, k}], total group count) —
    the tiny report tail (W1 member sort, O1/O2/O3 group ordering,
    ref :241-255).

    ``max_groups`` fences the driver collect: the first N groups under
    the configured ordering come back via a Spark-side orderBy+limit
    (TakeOrderedAndProject — no full collect), so the CLI is safe to
    point at a big table. Default None collects everything, like the
    reference (which holds all groups in memory too).
    """
    agg = (clusters.groupBy("cluster_id")
           .agg(F.sort_array(F.collect_list("url")).alias("members"),
                F.max("size").alias("size"),
                F.count("*").alias("k")))
    total = None
    cached = None
    if max_groups is not None:
        if cfg.sort_by_group_size:
            order = [F.desc("k"), F.col("members")[0]]
        elif cfg.sort_by_file_size:
            order = [F.desc("size"), F.col("members")[0]]
        else:
            order = [F.col("members")[0]]
        cached = agg.persist()
        total = cached.count()
        agg = cached.orderBy(*order).limit(max_groups)
    rows = agg.collect()
    if cached is not None:
        cached.unpersist()
    groups = [{"members": list(r["members"]), "size": int(r["size"]),
               "k": int(r["k"])} for r in rows]
    if cfg.sort_by_group_size:
        groups.sort(key=lambda g: (-g["k"], g["members"][0]))
    elif cfg.sort_by_file_size:
        groups.sort(key=lambda g: (-g["size"], g["members"][0]))
    else:
        groups.sort(key=lambda g: g["members"][0])
    return groups, total if total is not None else len(groups)


def print_duplicates(groups: list[dict],
                     total_groups: int | None = None) -> None:
    """K1 console sink, format parity with ref :257-274. Below the
    --max-groups cap the output is byte-identical to the reference;
    when capped, one banner line states what was elided."""
    if not groups:
        print("No duplicates found.")
        return
    total = len(groups)
    print("\nDuplicate files:")
    if total_groups is not None and total_groups > total:
        print(f"(showing first {total} of {total_groups} groups"
              f" — raise --max-groups to see more)")
    for idx, g in enumerate(groups, start=1):
        print(f"\nGroup {idx}/{total} ({g['k']}"
              f" file(s), size: {humanize_size(g['size'])}):")
        for path in g["members"]:
            print(f"  - {path}")


def save_report(groups: list[dict], output_path: str) -> None:
    """K2 report-file sink, format parity with ref :276-295."""
    total = len(groups)
    try:
        with open(output_path, "w", encoding="utf-8") as f:
            f.write("Duplicate files:\n")
            for idx, g in enumerate(groups, 1):
                f.write(f"\nGroup {idx}/{total} ({g['k']}"
                        f" file(s), size: {g['size']} bytes):\n")
                for path in g["members"]:
                    f.write(f"  - {path}\n")
        print(f"\nSaved results to: {output_path}")
    except Exception as e:  # noqa: BLE001 — parity: report, don't crash
        print(f"\nERROR: Failed to save to file {output_path}: {e}")


def _unlink(path: str, report_lines: list[str]) -> int:
    """Delete one file for the batch path, ref error handling
    (:310-331). → bytes to count, or -1 when stat failed.

    Reference counting semantics: a stat failure skips the file
    entirely, but a failed UNLINK still increments deleted_count /
    total size (ref :328-331) — so this returns the size even when the
    unlink itself errored."""
    try:
        size = Path(path).stat().st_size
    except Exception as e:  # noqa: BLE001
        print(f"ERROR: Could not get size for {path}: {e}")
        report_lines.append(f"FAILED: {path} ({e})")
        return -1
    try:
        Path(path).unlink()
        print(f"Deleted: {path}")
        report_lines.append(f"Deleted: {path}")
    except Exception as e:  # noqa: BLE001
        print(f"ERROR: Failed to delete {path}: {e}")
        report_lines.append(f"FAILED: {path} ({e})")
    return size


def delete_duplicates(groups: list[dict], dry_run: bool,
                      report_path: str | None, unlink: bool) -> None:
    """K3/K4/D1: keep-first delete with dry-run, ref :297-351.

    ``unlink`` False (parquet mode) prints/report-logs decisions without
    touching storage — the caller owns the survivors rewrite.
    """
    print("\n[DRY RUN]" if dry_run else "\nDeleting duplicate files...")
    deleted_count = 0
    total_deleted_size = 0
    report_lines: list[str] = []
    for g in groups:
        for path in g["members"][1:]:  # keep first file in each group
            if dry_run or not unlink:
                print(f"[would delete] {path}" if dry_run
                      else f"Deleted: {path}")
                report_lines.append(f"[would delete] {path}" if dry_run
                                    else f"Deleted: {path}")
                deleted_count += 1
                total_deleted_size += g["size"]
                continue
            freed = _unlink(path, report_lines)
            if freed >= 0:
                deleted_count += 1
                total_deleted_size += freed
    print(f"\nTotal"
          f" {'deleted' if not dry_run else 'possible deletions'}:"
          f" {deleted_count}")
    print(f"Total"
          f" {'freed' if not dry_run else 'possible freed'}"
          f" ({humanize_size(total_deleted_size)})")
    if report_path:
        _write_report(report_path, "Duplicate File Deletion Report",
                      report_lines, 36)


def delete_interactive(groups: list[dict], report_path: str | None,
                       unlink: bool) -> list[str]:
    """D2: interactive prompt loop with reprompt-on-invalid, ref
    :353-425. → urls chosen for deletion (the caller owns the survivors
    rewrite when ``unlink`` is False — table/WARC input has no files to
    unlink, so 'deletion' means rewriting the table without them).

    Reference counting semantics for real files (:395-411): only a
    SUCCESSFUL unlink counts; stat and unlink failures are reported and
    skipped."""
    print("\nInteractive duplicate cleanup started.")
    deleted_count = 0
    total_deleted_size = 0
    report_lines: list[str] = []
    deleted_urls: list[str] = []
    total = len(groups)
    for idx, g in enumerate(groups, start=1):
        members = g["members"]
        print(f"\nGroup {idx}/{total} ({len(members)} files):")
        for i, path in enumerate(members):
            print(f"  [{i + 1}] {path}")
        to_delete: list[str] = []
        while True:
            choice = input(
                f"Select the file to KEEP [1–{len(members)}],"
                f" or press Enter to skip this group: ").strip()
            if not choice:
                print("Skipped.")
                report_lines.append(f"Group {idx} skipped: {members}")
                break
            try:
                keep_index = int(choice) - 1
                if not (0 <= keep_index < len(members)):
                    raise ValueError
                to_delete = members[:keep_index] + members[keep_index + 1:]
                break
            except ValueError:
                print("Invalid input. Please enter a number from the list.")
        for path in to_delete:
            if not unlink:
                print(f"Deleted: {path}")
                report_lines.append(f"Deleted: {path}")
                deleted_urls.append(path)
                deleted_count += 1
                total_deleted_size += g["size"]
                continue
            try:
                try:
                    file_size = Path(path).stat().st_size
                except Exception as e:  # noqa: BLE001
                    print(f"ERROR: Could not get size for {path}: {e}")
                    report_lines.append(f"FAILED: {path} ({e})")
                    continue
                Path(path).unlink()
                print(f"Deleted: {path}")
                report_lines.append(f"Deleted: {path}")
                deleted_urls.append(path)
                deleted_count += 1
                total_deleted_size += file_size
            except Exception as e:  # noqa: BLE001
                print(f"ERROR: Could not delete {path}: {e}")
                report_lines.append(f"FAILED: {path} ({e})")
    print(f"\nTotal deleted interactively: {deleted_count}")
    print(f"\nTotal deleted size: {humanize_size(total_deleted_size)}")
    if report_path:
        _write_report(report_path, "Interactive Deletion Report",
                      report_lines, 32)
    return deleted_urls


def _write_report(report_path: str, title: str,
                  lines: list[str], rule_width: int) -> None:
    try:
        with open(report_path, "w", encoding="utf-8") as f:
            f.write(title + "\n" + "=" * rule_width + "\n")
            f.writelines(line + "\n" for line in lines)
        print(f"Report saved to: {report_path}")
    except Exception as e:  # noqa: BLE001
        print(f"ERROR: Failed to save report: {e}")


def main(argv: list[str] | None = None) -> int:
    args = ArgumentParserAdapter().parse(argv)
    cfg = PipelineConfig(
        include_patterns=args.include or None,
        exclude_patterns=args.exclude or None,
        min_size_str=args.min_size,
        max_size_str=args.max_size,
        delete_duplicates=args.delete,
        dry_run=args.dry_run,
        sort_by_group_size=args.sort_by_group_size,
        sort_by_file_size=args.sort_by_file_size,
        parallelism=args.threads or 0,
        checkpoint_dir=args.checkpoint_dir,
    )
    spark = get_spark(master=args.master or f"local[{cfg.parallelism}]",
                      shuffle_partitions=cfg.parallelism)

    def rewrite_survivors(pages: DataFrame, dup_urls: list[str]) -> None:
        """Table/WARC 'deletion': write the input minus the chosen urls
        to <folder>__dedup (never mutates the input in place)."""
        out = args.folder_path.rstrip("/") + "__dedup"
        survivors = pages.join(
            spark.createDataFrame([(u,) for u in dup_urls], "url string"),
            "url", "left_anti")
        survivors.write.mode("overwrite").parquet(out)
        print(f"Survivors written to: {out}")

    try:
        print(f"Scanning folder: {args.folder_path}")
        resolved = Path(args.folder_path).expanduser().resolve()
        if args.format == "files" and not resolved.is_dir():
            # explicit not-a-dir ERROR like the reference
            # (duplicate_finder.py:126-129), then the no-files early-out
            print(f"ERROR: Path '{resolved}'"
                  f" is not a folder or doesn't exist")
            print("No files found or all files are excluded.")
            return 0
        try:
            pages = load_pages(spark, args.folder_path, args.format)
            filtered = ex.apply_filters(pages, cfg)
            no_pages = filtered.isEmpty()
        except Exception as e:  # noqa: BLE001
            # only the missing/empty-path analysis errors mean "no
            # files"; anything else (corrupt parquet, permission
            # denied, bad WARC record framing) is a REAL failure and
            # must propagate with a nonzero exit, not masquerade as a
            # clean empty scan
            marker = f"{type(e).__name__}: {e}"
            if ("PATH_NOT_FOUND" in marker
                    or "Path does not exist" in marker):
                print(f"ERROR: Path '{resolved}'"
                      f" is not a folder or doesn't exist")
                print("No files found or all files are excluded.")
                return 0
            if "UNABLE_TO_INFER_SCHEMA" in marker:  # empty table dir
                print("No files found or all files are excluded.")
                return 0
            raise
        if no_pages:
            print("No files found or all files are excluded.")
            return 0
        if ex.size_prefilter(filtered).isEmpty():
            print("No potential duplicates found after filtering by size.")
            return 0

        # --verify-content is subsumed: clusters group by the full
        # SHA-256 of the exact bytes (see operators/exact.py V1 note),
        # so members are byte-identical with or without the flag.
        if cfg.checkpoint_dir:
            # resumable CLI: the hash-cluster stage checkpoints through
            # the warehouse keyed by (config, input path, scan
            # membership). For --format files the membership probe folds
            # in content-sensitive metadata the binaryFile LISTING gives
            # for free (sum(length), max(modificationTime) — no content
            # read): an in-place same-url edit changes mtime (and
            # usually length), so the checkpoint invalidates instead of
            # serving stale clusters to a later --delete. Table/WARC
            # inputs have no cheap content metadata; there the probe is
            # membership-only (count + url-hash sum) and a resume prints
            # a visible staleness warning.
            from duplicate_finder_spark.pipeline import config_fingerprint
            from duplicate_finder_spark.warehouse import get_warehouse
            wh = get_warehouse(spark, cfg.checkpoint_dir)
            if args.format == "files":
                listing = (spark.read.format("binaryFile")
                           .option("recursiveFileLookup", "true")
                           .load(args.folder_path))
                m = listing.agg(
                    F.count("*").alias("n"),
                    F.sum(F.xxhash64("path").cast("decimal(30,0)"))
                     .alias("h"),
                    F.sum("length").alias("b"),
                    F.max(F.col("modificationTime").cast("long"))
                     .alias("mt")).first()
                probe = (f"{args.folder_path}:{m['n']}:{m['h']}"
                         f":{m['b']}:{m['mt']}")
            else:
                m = pages.select("url").agg(
                    F.count("*").alias("n"),
                    F.sum(F.xxhash64("url").cast("decimal(30,0)"))
                     .alias("h")).first()
                probe = f"{args.folder_path}:{m['n']}:{m['h']}"
            fp = config_fingerprint(cfg, probe)
            clusters, resumed = wh.checkpoint_or_compute(
                f"cli_clusters_{fp}", fp,
                lambda: ex.exact_clusters(pages, cfg))
            if resumed:
                print("Resumed hash clusters from checkpoint.")
                if args.format != "files":
                    print("WARNING: checkpoint matched on scan "
                          "membership only; in-place content edits "
                          "since the checkpointed scan are NOT "
                          "detected for this format — delete the "
                          "checkpoint dir to force a re-hash.")
        else:
            clusters = ex.exact_clusters(pages, cfg)
        groups, total_groups = collect_groups(clusters, cfg,
                                              args.max_groups)
        if not groups:
            print("No potential duplicates found after hashing.")
            return 0

        print_duplicates(groups, total_groups)
        if args.output:
            save_report(groups, args.output)

        unlink = args.format == "files"
        if args.interactive:
            chosen = delete_interactive(groups, args.delete_report, unlink)
            if not unlink and chosen:
                rewrite_survivors(pages, chosen)
        elif cfg.delete_duplicates:
            confirm = "y"
            if not cfg.dry_run:
                confirm = input(
                    "\nAre you sure you want to"
                    " delete duplicate files? (y/[n]): ").strip().lower()
            if confirm == "y":
                delete_duplicates(groups, cfg.dry_run,
                                  args.delete_report, unlink)
                if not unlink and not cfg.dry_run:
                    rewrite_survivors(
                        pages,
                        [p for g in groups for p in g["members"][1:]])
            else:
                print("Deletion cancelled.")
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
