"""Batch cross-snapshot near-dup dedup: a NEW crawl batch against an
already-kept corpus, without recomputing the corpus.

The Common-Crawl-style workflow at 10^12-doc scale: the kept corpus's
MinHash signatures are a warehouse table written by the last run
(pipeline.run_resumable's signature checkpoint); each monthly snapshot
is deduped (a) within itself and (b) against that store, and only the
SURVIVING new signatures are appended back. The store side is never
re-signed, never re-paired against itself, and — via the collision-
bucket pruning in operators/lsh.py::incremental_candidate_pairs — never
even fully shuffled: the band census runs over only the buckets the new
batch touches.

Decision semantics (the incremental generalization of the reference's
keep-first delete, duplicate_finder.py:302-309 — incumbents outrank
arrivals):

* a component containing ≥ 1 STORE member: every new member is deleted
  (``dup_of_corpus``) — the incumbent wins, even transitively (new A ~
  new B ~ store S deletes both A and B: cluster-level decisions, same
  as the batch path's connected components).
* a new-only component: its minimum url keeps (``cluster_rep``), the
  rest delete (``dup_in_batch``) — ordinary keep-first.
* a new doc in no component: keeps (``unique``).

url is the document identity: a NEW url that already exists in the
store is by definition a re-crawl of a kept document and is decided
``delete``/``dup_of_corpus`` up front (its own url as cluster_id),
without entering the banding pipeline. This makes a rerun of the same
batch against its own updated store a no-op (idempotence) rather than
a silent re-keep. At 10^12-doc scale the overlap probe is a url
equi-join against the store — bucket the warehouse signature table by
url so it resolves without a full store shuffle; batches known to be
url-disjoint upstream simply find zero overlaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators.components import connected_components
from duplicate_finder_spark.operators.lsh import (
    band_hashes, incremental_candidate_pairs, verify_pairs)
from duplicate_finder_spark.operators.minhash import SIG_COLS


def cross_snapshot_edges(new_sigs: DataFrame, store_sigs: DataFrame,
                         cfg: PipelineConfig) -> DataFrame:
    """Verified near-dup edges (url_a, url_b, jaccard) with ≥ 1 NEW
    member per edge — new×new and new×store collisions only, verified
    by the same sketch-bounded exact Jaccard as the batch path."""
    new_sigs = new_sigs.select(*SIG_COLS)
    store_sigs = store_sigs.select(*SIG_COLS)
    bands_new = band_hashes(new_sigs, cfg)
    bands_all = bands_new.unionByName(band_hashes(store_sigs, cfg))
    pairs = incremental_candidate_pairs(bands_new, bands_all,
                                        cfg.hot_bucket_limit)
    sigs_all = new_sigs.unionByName(store_sigs)
    return verify_pairs(pairs, sigs_all, cfg.jaccard_threshold, cfg)


def cross_snapshot_decisions(new_sigs: DataFrame, store_sigs: DataFrame,
                             cfg: PipelineConfig,
                             store_bloom=None) -> DataFrame:
    """→ (url, cluster_id, action, reason) for every NEW url.

    cluster_id is the component's minimum url across BOTH snapshots
    (a store url when the incumbent anchors the cluster), or the doc's
    own url for singletons — the same min-url representative the batch
    path's components produce, so downstream lineage joins are uniform.

    Plan shape: the NEW side's signature subtree (the Arrow UDF over the
    batch) has five consumers here — the re-crawl probe, banding, the
    verify join, the component url marker, and the singleton anti-join —
    and would otherwise execute once per consumer (measured: it was
    ~70% of the incremental wall at 200k batch / 1.8M store,
    BENCH/runs/incr_20260818_232915.json + the per-stage profile in
    BENCH/BASELINE.md). It is persisted ONCE — O(batch) rows, exactly
    the state bound this regime promises — the narrow decision rows are
    materialized eagerly, and the cache is released before returning
    (the verify_pairs pattern: no persist outlives its consumer). The
    STORE side is deliberately NOT cached: it is O(corpus) parquet whose
    column-pruned scans are cheap (measured ≤ 10 s per pass at 1.8M
    rows) and caching it would break the O(batch) memory contract.
    """
    store_url_set = store_sigs.select("url")
    caller_cached = new_sigs.is_cached  # don't drop a caller's cache
    if not caller_cached:
        new_sigs = new_sigs.persist()
    try:
        if store_bloom is not None:
            # broadcast-bitmap prefilter (operators/bloomfilter.py): bloom
            # negatives are DEFINITELY new and skip the store join; only
            # the maybe slice (overlap + ~fpp of the batch) probes the
            # store's urls — the store is never shuffled for the re-crawl
            # probe. Result is exactly the semi/anti split below.
            from duplicate_finder_spark.operators.bloomfilter import (
                split_by_membership)
            re_rows, arrivals = split_by_membership(
                new_sigs, store_url_set, store_bloom, "url")
            recrawled = re_rows.select(
                "url", F.col("url").alias("cluster_id"),
                F.lit("delete").alias("action"),
                F.lit("dup_of_corpus").alias("reason"))
        else:
            recrawled = (new_sigs.select("url")
                         .join(store_url_set, "url", "left_semi")
                         .select("url", F.col("url").alias("cluster_id"),
                                 F.lit("delete").alias("action"),
                                 F.lit("dup_of_corpus").alias("reason")))
            arrivals = new_sigs.join(store_url_set, "url", "left_anti")

        edges = cross_snapshot_edges(arrivals, store_sigs, cfg)
        assign = connected_components(
            edges.select(F.col("url_a").alias("src"),
                         F.col("url_b").alias("dst")))

        new_urls = arrivals.select("url")
        store_urls = store_sigs.select("url").withColumn(
            "_store", F.lit(True))

        marked = assign.join(store_urls, "url", "left")
        comp = marked.groupBy("cluster_id").agg(
            F.max(F.coalesce("_store", F.lit(False))).alias("has_store"),
            F.min(F.when(F.col("_store").isNull(), F.col("url")))
             .alias("first_new"))

        in_cc = (assign.join(new_urls, "url", "left_semi")
                 .join(comp, "cluster_id"))
        action = (F.when(F.col("has_store"), "delete")
                   .when(F.col("url") == F.col("first_new"), "keep")
                   .otherwise("delete"))
        reason = (F.when(F.col("has_store"), "dup_of_corpus")
                   .when(F.col("url") == F.col("first_new"), "cluster_rep")
                   .otherwise("dup_in_batch"))
        decided = in_cc.select("url", "cluster_id",
                               action.alias("action"), reason.alias("reason"))

        singles = (new_urls.join(assign.select("url"), "url", "left_anti")
                   .select("url", F.col("url").alias("cluster_id"),
                           F.lit("keep").alias("action"),
                           F.lit("unique").alias("reason")))
        # materialize the O(batch) narrow decision rows, then release the
        # cached batch signatures — callers get a checkpointed result that
        # never re-executes the signature UDF
        return (decided.unionByName(singles).unionByName(recrawled)
                .localCheckpoint(eager=True))
    finally:
        if not caller_cached:
            new_sigs.unpersist()


def cross_snapshot_apply(new_sigs: DataFrame, store_sigs: DataFrame,
                         cfg: PipelineConfig,
                         decisions: DataFrame | None = None) -> DataFrame:
    """→ the UPDATED signature store: store ∪ kept-new, ready to write
    back as the next snapshot's warehouse table. The anti-join removes
    exactly the ``delete`` decisions; the store side passes through
    untouched (incumbents are never deleted by an incremental pass).
    Pass ``decisions`` when they are already materialized (the
    incremental job checkpoints them first) to avoid recomputing the
    candidate/verify/components chain."""
    if decisions is None:
        decisions = cross_snapshot_decisions(new_sigs, store_sigs, cfg)
    return store_sigs.select(*SIG_COLS).unionByName(
        kept_signatures(new_sigs, decisions))


def kept_signatures(new_sigs: DataFrame, decisions: DataFrame) -> DataFrame:
    """The new batch's signatures minus the urls ``decisions`` delete —
    the rows an ingest appends to the store."""
    dropped = decisions.filter(F.col("action") == "delete").select("url")
    return new_sigs.select(*SIG_COLS).join(dropped, "url", "left_anti")
