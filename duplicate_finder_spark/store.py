"""Corpus signature store for the incremental (cross-snapshot) dedup
workflow — the append-only layout, the ingest that commits a batch into
it (``ingest_batch``), and its maintenance operations (compaction,
orphan GC).

Layout: the kept corpus is the union of per-batch signature tables
``corpus_sigs__<batch-id>`` listed by the ``corpus_registry`` document:
``[batch_id, rows]`` pairs in commit order, read and committed on the
driver (the warehouse's ``read_json``/``write_json``). Each ingest run
writes O(batch) rows — its kept survivors — and commits them by
rewriting that list; the incumbent corpus is read but never rewritten
(Iceberg's append-snapshot pattern on the facade's atomic swap).

Why compaction exists: after B batches the store is B tables, so every
read is a B-way ``unionByName`` — B scan legs in the plan, B× the
file-listing overhead, and (under the parquet facade) B directory
trees. At one snapshot per month that is slow growth, but a
crawl-segment-per-batch cadence reaches hundreds quickly — the same
growth class as the CC round tables the components operator GCs.
``compact_store`` folds committed batch tables into one while keeping
the read contract identical:

1. fold = all committed batches except the newest ``keep_last``
   (default 1 — the newest batch stays individually addressable so a
   crash-recovery rerun of it stays well-defined, see below);
2. the folded tables' union is written as one
   ``corpus_sigs__compacted-<hash>`` table (hash of the folded ids —
   deterministic, so a crashed compaction rerun rewrites the same
   table and fingerprint instead of orphaning a half-built one);
3. the registry is rewritten — the ONE commit point — with the merged
   entry first, in the folded batches' place, so the list stays in
   oldest-first order;
4. the folded tables are dropped (post-commit GC; a crash between 3
   and 4 leaves unreferenced tables that ``gc_store`` removes later).

Store-side semantics are order-insensitive — incumbents always beat
arrivals regardless of which batch they arrived in, and store members
are never deleted — so folding tables cannot change any future
decision (asserted by test_store_compact.py's before/after equality).

Reprocessing contract: ``read_store(exclude=batch_id)`` makes a rerun
of an UNCOMPACTED batch id recompute against the same incumbents it
originally saw. Compaction finalizes its folded batches: their rows
are inside the merged table, so a later rerun of a folded id sees its
own documents as incumbents and deletes the whole batch as
``dup_of_corpus`` re-crawls. That is consistent (the corpus keeps
exactly one copy) but almost never what an operator wants — keep
``keep_last`` ≥ the number of batches still eligible for reprocess.
"""

from __future__ import annotations

import hashlib
from functools import reduce
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators import crosssnap, minhash
from duplicate_finder_spark.operators.bloomfilter import BloomFilter

STORE_PREFIX = "corpus_sigs__"
REGISTRY = "corpus_registry"


def store_batches(wh, exclude: str | None = None) -> list[str]:
    """Committed batch ids from the registry, oldest first."""
    return [b for b, _ in registry_rows(wh, exclude)]


def read_store(wh, template: DataFrame, columns: list[str],
               exclude: str | None = None) -> DataFrame:
    """The kept corpus's signatures: union of committed per-batch
    tables. ``template`` supplies the (empty-store) schema."""
    batches = store_batches(wh, exclude=exclude)
    if not batches:
        return template.select(*columns).limit(0)
    return reduce(DataFrame.unionByName,
                  (wh.read(STORE_PREFIX + b).select(*columns)
                   for b in batches))


def registry_rows(wh, exclude: str | None = None) -> list[tuple]:
    """(batch_id, rows) pairs in commit order, oldest first."""
    entries = wh.read_json(REGISTRY)
    if entries is None and wh.exists("corpus_batches"):
        # a store committed while the registry was a Spark table
        # (batch_id, rows, committed_at): read it once in its
        # committed_at order; the next commit writes the document
        entries = [(r["batch_id"], r["rows"]) for r in sorted(
            wh.read("corpus_batches").collect(),
            key=lambda r: r["committed_at"])]
    return [(b, n) for b, n in entries or [] if b != exclude]


def commit_batch(wh, spark: SparkSession, batch_id: str,
                 rows: int) -> list[tuple]:
    """Append (or replace) the batch's registry entry — its commit
    point. A replaced batch id moves to the end: the reprocessed batch
    is the newest arrival. ``spark`` is unused (the registry is a
    driver-side document). Returns the PRIOR surviving entries."""
    prior = registry_rows(wh, exclude=batch_id)
    wh.write_json(REGISTRY, prior + [(batch_id, rows)])
    return prior


class Ingest(NamedTuple):
    """What ``ingest_batch`` committed."""
    decisions: DataFrame  #: the materialized ``incr_decisions_<id>``
    n_decided: int        #: new urls decided
    n_kept: int           #: rows appended to the store
    prior: list[tuple]    #: registry entries of the other batches


def ingest_batch(spark: SparkSession, wh, pages: DataFrame, batch_id: str,
                 cfg: PipelineConfig, bloom_fpp: float | None = None
                 ) -> Ingest:
    """Dedup one new crawl batch against the kept corpus and commit its
    survivors. Each run:

    1. signs the new batch (store signatures are read, never
       recomputed);
    2. decides keep/delete per new doc — incumbents win components they
       touch, new-only clusters keep-first, store×store pairs never
       generated (operators/crosssnap.py);
    3. writes ``incr_decisions_<batch-id>`` (the audit/deletion report);
    4. writes the batch's KEPT signatures as ``corpus_sigs__<batch-id>``;
    5. commits the batch into the registry (the last write = the commit
       point: a crash anywhere earlier leaves the corpus exactly as it
       was, and the rerun redoes the batch from scratch).

    Reruns of the same ``batch_id`` are safe and idempotent: the store
    read EXCLUDES the current batch id, so a crash between steps 4 and 5
    (or a deliberate reprocess of a published batch) recomputes against
    the same incumbent set and overwrites the batch's tables via
    snapshot swap. An empty registry dedups the batch within itself and
    seeds the corpus. Batch urls must be globally unique across
    snapshots (url is the document identity).

    ``bloom_fpp`` enables the broadcast Bloom-filter re-crawl prefilter
    at that false-positive rate (operators/bloomfilter.py); decisions
    are identical with and without it.
    """
    if "/" in batch_id:
        raise ValueError(f"batch id must not contain '/': {batch_id!r}")
    # persisted across its consumers (decisions + the kept-new
    # anti-join below) — O(batch) rows; released after the last use,
    # also when a write raises
    new_sigs = minhash.signatures(pages, cfg).persist()
    try:
        store_sigs = read_store(wh, new_sigs, minhash.SIG_COLS,
                                exclude=batch_id)
        store_bloom = None
        if bloom_fpp is not None:
            # registry entries give the store size without scanning it;
            # the build itself shuffles ≤ m/64 word rows
            n_store = sum(n for _, n in registry_rows(wh, batch_id))
            if n_store:
                store_bloom = BloomFilter.build(
                    store_sigs.select("url"), "url", n_expected=n_store,
                    fpp=bloom_fpp)
        decisions = crosssnap.cross_snapshot_decisions(
            new_sigs, store_sigs, cfg, store_bloom=store_bloom)
        dec_manifest = wh.write(decisions, f"incr_decisions_{batch_id}",
                                stage="incr_decisions",
                                fingerprint=batch_id)
        # reuse the MATERIALIZED decisions: the kept rows are one
        # anti-join, not a recompute of the candidate/verify/CC chain
        decided = wh.read(f"incr_decisions_{batch_id}")
        kept_manifest = wh.write(
            crosssnap.kept_signatures(new_sigs, decided),
            STORE_PREFIX + batch_id, stage="store_batch",
            fingerprint=batch_id)
    finally:
        new_sigs.unpersist()
    # the COMMIT: one registry entry per batch; a rerun of the same
    # batch id replaces its entry (and moves it to the end — the
    # reprocessed batch is now the newest arrival)
    prior = commit_batch(wh, spark, batch_id, kept_manifest.rows)
    return Ingest(decided, dec_manifest.rows, kept_manifest.rows, prior)


def compact_store(wh, spark: SparkSession, columns: list[str],
                  keep_last: int = 1) -> dict:
    """Fold committed batch tables into one (protocol in the module
    docstring; ``spark`` is unused). Fewer than two foldable batches:
    no write, and the summary dict is {"folded": 0, ...}."""
    rows = registry_rows(wh)
    cut = len(rows) - keep_last if keep_last > 0 else len(rows)
    fold, survive = rows[:cut], rows[cut:]
    if len(fold) < 2:
        return {"folded": 0, "store_batches": len(rows)}

    fold_ids = [b for b, _ in fold]
    merged_id = ("compacted-"
                 + hashlib.sha256("|".join(fold_ids).encode())
                 .hexdigest()[:12])
    merged = reduce(DataFrame.unionByName,
                    (wh.read(STORE_PREFIX + b).select(*columns)
                     for b in fold_ids))
    manifest = wh.write(merged, STORE_PREFIX + merged_id,
                        stage="store_compact", fingerprint=merged_id)
    # the commit: one registry write swaps B folded entries for the
    # merged one, in their place at the head of the list
    wh.write_json(REGISTRY, [(merged_id, manifest.rows)] + survive)
    for b in fold_ids:  # post-commit GC
        wh.drop(STORE_PREFIX + b)
    return {"folded": len(fold_ids), "merged_id": merged_id,
            "merged_rows": manifest.rows,
            "store_batches": 1 + len(survive)}


def gc_store(wh) -> list[str]:
    """Drop ``corpus_sigs__`` tables the registry does not list —
    leftovers of a crash between a batch/compaction table write and its
    registry commit. An unreferenced table is invisible to every reader
    (``read_store`` walks the registry), so dropping it cannot change
    any result — but an ingest that has written its kept table and not
    yet committed its registry entry looks exactly like such an orphan,
    so run this from a maintenance window (the incremental job's
    --compact pass does), never concurrently with an ingest."""
    live = {STORE_PREFIX + b for b in store_batches(wh)}
    dropped = [t for t in wh.tables()
               if t.startswith(STORE_PREFIX) and t not in live]
    for t in dropped:
        wh.drop(t)
    return dropped
