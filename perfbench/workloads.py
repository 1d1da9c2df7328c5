"""The benchmark's workloads, driving the engine only through its public
functions.

* ``batch_web_mix``: the production batch job (``jobs/dedup.py``):
  ``pipeline.run_resumable`` on a fresh ``ParquetWarehouse`` plus the
  decisions write, over ``benchgen.generate_pages``.
* ``incremental_ingest``: sequential batches through the cross-snapshot
  path of ``jobs/incremental.py`` into a store seeded during set-up.

One *op* is one batch job (batch) or one ingested batch (incremental).
``op(slot, tracer)``: ops of one ``slot`` share state (the incremental
store grows along a slot). A traced op runs the same code; the tracer
swaps the engine functions listed in ``TRACED`` (and the warehouse's
``write``) for wrappers that run each inside its span and materialize
its output there.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from duplicate_finder_spark import pipeline, store
from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators import crosssnap, minhash
from duplicate_finder_spark.operators import exact as ex
from duplicate_finder_spark.partitioning import autosize_shuffle_partitions
from duplicate_finder_spark.warehouse import ParquetWarehouse

from perfbench import gen, truth

#: LSH buckets above this size take the star path. Scaled down with the
#: corpus (engine default 2,000 at 10^5+ docs) so the boilerplate slice
#: stays above it.
HOT_BUCKET_LIMIT = 64
CFG = PipelineConfig.tuned(hot_bucket_limit=HOT_BUCKET_LIMIT)

#: corpus pages per workload, multiplied by ``--scale``
SIZES = {"batch_web_mix": 2000, "incremental_ingest": 2000}
N_BATCHES = 4

#: engine functions a traced op runs inside a span: (owner, attribute,
#: span). The batch layers are the names ``pipeline.run_resumable``
#: calls; ``cross_snapshot_decisions``'s own candidate, verify and
#: components calls nest inside the ``crosssnap`` span.
TRACED = [
    (pipeline, "signatures", "minhash"),
    (ex, "exact_clusters", "exact"),
    (pipeline, "candidate_pairs", "lsh.candidates"),
    (pipeline, "verify_pairs", "lsh.verify"),
    (pipeline, "connected_components", "components"),
    (pipeline, "decide", "decisions"),
    (minhash, "signatures", "minhash"),
    (store, "read_store", "store.read"),
    (crosssnap, "cross_snapshot_decisions", "crosssnap"),
    (crosssnap, "incremental_candidate_pairs", "lsh.candidates"),
    (crosssnap, "verify_pairs", "lsh.verify"),
    (crosssnap, "connected_components", "components"),
    (store, "commit_batch", "store.commit"),
]

#: span -> the count its output rows add to
ROWS_OUT = {"minhash": "minhash.docs_signed", "exact": "exact.rows_out",
            "lsh.candidates": "lsh.candidate_pairs",
            "lsh.verify": "lsh.verified_edges",
            "decisions": "decisions.rows_out",
            "store.read": "store.rows_read"}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


class CountingWarehouse(ParquetWarehouse):
    """ParquetWarehouse that counts its writes and the bytes they land."""

    def __init__(self, spark, root: str):
        super().__init__(spark, root)
        self.writes = 0
        self.bytes_written = 0

    def write(self, df, name, **kw):
        manifest = super().write(df, name, **kw)
        self.writes += 1
        self.bytes_written += dir_bytes(
            os.path.realpath(os.path.join(self.root, name, "current")))
        return manifest


@contextmanager
def traced(tracer, wh):
    """With a tracer: the ``TRACED`` functions and ``wh.write`` in
    spans, all inside one ``pipeline`` span."""
    if tracer is None:
        yield
        return
    with tracer.patched(TRACED + [(wh, "write", "warehouse")]), \
            tracer.span("pipeline"):
        yield


def layer_counts(tracer) -> dict:
    """Per-layer counts from the outputs the traced op's wrappers kept;
    then releases them."""
    counts: dict = {}

    def add(key: str, n: int) -> None:
        counts[key] = counts.get(key, 0) + n

    if tracer is None:
        return counts
    for name, args, out, rows in tracer.outputs:
        if name in ROWS_OUT:
            add(ROWS_OUT[name], rows)
        elif name == "components":
            add("components.edges_in", args[0].count())
            add("components.clusters",
                out.select("cluster_id").distinct().count())
        elif name == "crosssnap":
            for reason, n in out.groupBy("reason").count().collect():
                add(f"crosssnap.{reason}", n)
    tracer.release()
    return counts


@dataclass
class OpResult:
    key: int                 # ops with equal key must decide identically
    docs: int
    wall: float
    bytes_in: int
    bytes_written: int
    writes: int
    digest: str
    scores: dict
    counts: dict = field(default_factory=dict)


class Workload:
    def __init__(self, spark, work: str, seed: int, scale: float):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.n = max(1, round(SIZES[self.name] * scale))

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)

    def fresh_dir(self, *parts: str) -> str:
        p = self.path(*parts)
        shutil.rmtree(p, ignore_errors=True)
        return p

    def pages(self, path: str) -> list[tuple[str, str]]:
        return [tuple(r) for r in self.spark.read.parquet(path)
                .select("url", "text").collect()]


# --- batch_web_mix ----------------------------------------------------------

class WebMix(Workload):
    name = "batch_web_mix"

    def setup(self) -> None:
        gen.web_mix_write(self.spark, self.fresh_dir("input"), self.n,
                          self.seed)

    def prepare_truth(self) -> None:
        rows = self.pages(self.path("input"))
        labels = gen.web_mix_labels(rows)
        self.pairs = truth.true_pairs(labels.planted, labels.texts,
                                      CFG.jaccard_threshold)
        self.n_docs = len(rows)
        self.input_bytes = dir_bytes(self.path("input"))

    def op(self, slot: str, tracer=None) -> OpResult:
        spark = self.spark
        spark.catalog.clearCache()
        wh = CountingWarehouse(spark, self.fresh_dir(f"wh_{slot}"))
        src = self.path("input")
        pages = spark.read.parquet(src)
        autosize_shuffle_partitions(spark, pages)
        t0 = time.perf_counter()
        with traced(tracer, wh):
            decisions = pipeline.run_resumable(spark, pages, CFG, wh,
                                               input_id=src)
            wh.write(decisions, "decisions", stage="decisions",
                     fingerprint=src)
        wall = time.perf_counter() - t0
        counts = layer_counts(tracer)
        rows = [tuple(r) for r in wh.read("decisions")
                .select("url", "cluster_id", "action").collect()]
        return OpResult(0, self.n_docs, wall, self.input_bytes,
                        wh.bytes_written, wh.writes, truth.digest(rows),
                        truth.batch_scores(self.pairs, rows), counts)


# --- incremental ingest -----------------------------------------------------

class IncrementalIngest(Workload):
    name = "incremental_ingest"

    def __init__(self, *a, **kw):
        super().__init__(*a, **kw)
        self.slots: dict[str, list] = {}   # slot -> [warehouse, next batch]

    def setup(self) -> None:
        """Write the store and batch pages, then sign the store and
        commit it as one batch of a fresh seed warehouse."""
        gen.incremental_write(self.spark, self.path(), self.n, N_BATCHES,
                              self.seed)
        wh = ParquetWarehouse(self.spark, self.fresh_dir("seed_store"))
        sigs = minhash.signatures(
            self.spark.read.parquet(self.path("store_pages")), CFG)
        m = wh.write(sigs.select(*crosssnap.SIG_COLS),
                     store.STORE_PREFIX + "seed", stage="store_batch",
                     fingerprint="seed")
        store.commit_batch(wh, self.spark, "seed", m.rows)

    def prepare_truth(self) -> None:
        thr = CFG.jaccard_threshold
        self.truth = gen.incremental_truth(
            self.pages(self.path("store_pages")),
            [self.pages(gen.batch_dir(self.path(), b))
             for b in range(N_BATCHES)],
            lambda planted, texts: truth.true_pairs(planted, texts, thr))

    def op(self, slot: str, tracer=None) -> OpResult:
        spark = self.spark
        state = self.slots.get(slot)
        if state is None or state[1] == N_BATCHES:
            live = self.fresh_dir(f"store_{slot}")
            shutil.copytree(self.path("seed_store"), live, symlinks=True)
            state = self.slots[slot] = [CountingWarehouse(spark, live), 0]
        wh, k = state
        state[1] += 1
        wh.writes = wh.bytes_written = 0
        spark.catalog.clearCache()
        src = gen.batch_dir(self.path(), k)
        pages = spark.read.parquet(src)
        t0 = time.perf_counter()
        with traced(tracer, wh):
            decided = ingest(spark, wh, pages, f"b{k:02d}")
        wall = time.perf_counter() - t0
        counts = layer_counts(tracer)
        rows = [tuple(r) for r in decided.select(
            "url", "cluster_id", "action", "reason").collect()]
        bt = self.truth[k]
        return OpResult(k, bt.urls, wall, dir_bytes(src), wh.bytes_written,
                        wh.writes, truth.digest(rows),
                        truth.incremental_scores(bt.store_pairs,
                                                 bt.batch_pairs,
                                                 bt.recrawls, rows),
                        counts)


def ingest(spark, wh, pages, batch_id: str):
    """One batch of ``jobs/incremental.py``: sign, read the store, decide
    against it, write decisions and kept signatures, commit."""
    new_sigs = minhash.signatures(pages, CFG).persist()
    store_sigs = store.read_store(wh, new_sigs, crosssnap.SIG_COLS,
                                  exclude=batch_id)
    decisions = crosssnap.cross_snapshot_decisions(new_sigs, store_sigs, CFG)
    wh.write(decisions, f"incr_decisions_{batch_id}",
             stage="incr_decisions", fingerprint=batch_id)
    decided = wh.read(f"incr_decisions_{batch_id}")
    dropped = decided.filter(F.col("action") == "delete").select("url")
    kept_new = new_sigs.select(*crosssnap.SIG_COLS).join(dropped, "url",
                                                         "left_anti")
    kept = wh.write(kept_new, store.STORE_PREFIX + batch_id,
                    stage="store_batch", fingerprint=batch_id)
    new_sigs.unpersist()
    store.commit_batch(wh, spark, batch_id, kept.rows)
    return decided


WORKLOADS = {w.name: w for w in (WebMix, IncrementalIngest)}
