"""Seeded workload inputs. Both workloads read the engine's own bench
corpus (``duplicate_finder_spark.benchgen.generate_pages``), so the
same seed gives the same pages, and label its planted duplicates here
from the corpus's documented id layout.

* ``web_mix``: the corpus as one batch input.
* ``incremental``: the corpus split by url hash the way
  ``tools/bench_incremental.py`` splits it, about 10% new pages and 90%
  stored ones, with the new 10% spread over sequential batches, each of
  which also re-crawls one hash slice of the store.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from itertools import combinations

from pyspark.sql import functions as F


@dataclass
class Labels:
    texts: dict[str, str] = field(default_factory=dict)
    planted: list[tuple[str, str]] = field(default_factory=list)


# --- batch_web_mix ----------------------------------------------------------

def web_mix_write(spark, path: str, n: int, seed: int) -> None:
    from duplicate_finder_spark.benchgen import generate_pages
    generate_pages(spark, n, seed=seed).write.mode("overwrite").parquet(path)


def web_mix_labels(rows: list[tuple[str, str]]) -> Labels:
    """Planted pairs of a ``generate_pages`` corpus, from its id layout:
    ids with equal ``base_id`` derive from one base text (identical, or
    a ~5% mutant), and every boilerplate page shares one template.
    Pairs: all pairs inside a base group, a star from the smallest url
    across the boilerplate slice."""
    labels = Labels(texts=dict(rows))
    groups: dict[int, list[str]] = {}
    boiler: list[str] = []
    for url in sorted(labels.texts):
        i = int(url.rsplit("/", 1)[1])
        s = i % 100
        if s >= 95:
            boiler.append(url)
            continue
        base = i // 4 * 4 if 70 <= s < 85 else i // 2 * 2 if s >= 85 else i
        groups.setdefault(base, []).append(url)
    for members in groups.values():
        labels.planted.extend(combinations(members, 2))
    labels.planted.extend((boiler[0], u) for u in boiler[1:])
    return labels


# --- incremental_ingest -----------------------------------------------------

def incremental_write(spark, root: str, n: int, n_batches: int,
                      seed: int) -> None:
    """Write ``store_pages`` and the batches (``batch_dir``) under
    ``root``. A page's slot is ``pmod(xxhash64(url), 10 * n_batches)``:
    slot ``b`` holds the new pages of batch ``b`` (``n_batches`` slots
    of ``10 * n_batches``: the 10% new share of
    ``tools/bench_incremental.py``), every other slot is stored, and
    batch ``b`` also re-crawls, url and text unchanged, the stored
    slot ``n_batches + b``."""
    from duplicate_finder_spark.benchgen import generate_pages
    pages = generate_pages(spark, n, seed=seed).select("url", "text")
    slot = F.pmod(F.xxhash64("url"), F.lit(10 * n_batches))
    pages.filter(slot >= n_batches).write.mode("overwrite").parquet(
        os.path.join(root, "store_pages"))
    batch = (F.when(slot < n_batches, slot)
             .when(slot < 2 * n_batches, slot - n_batches))
    (pages.withColumn("batch", batch).filter(F.col("batch").isNotNull())
     .write.mode("overwrite").partitionBy("batch")
     .parquet(os.path.join(root, "batches")))


def batch_dir(root: str, b: int) -> str:
    return os.path.join(root, "batches", f"batch={b}")


@dataclass
class BatchTruth:
    urls: int                            # pages in the batch
    store_pairs: list[tuple[str, str]]   # (new url, earlier url), true
    batch_pairs: list[tuple[str, str]]   # both new in this batch, true
    recrawls: set[str]


def incremental_truth(store: list[tuple[str, str]],
                      batches: list[list[tuple[str, str]]],
                      true_pairs) -> list[BatchTruth]:
    """Per batch, from the ``(url, text)`` rows of the store and of each
    batch: the true pairs (``true_pairs(planted, texts)``) joining a new
    page to a page that was stored or new in an earlier batch, those
    inside the batch, and the batch's re-crawled urls."""
    stored = {u for u, _ in store}
    labels = web_mix_labels(store + [r for b in batches for r in b])
    pairs = true_pairs(labels.planted, labels.texts)
    earlier = set(stored)
    out = []
    for rows in batches:
        urls = {u for u, _ in rows}
        new = urls - stored
        out.append(BatchTruth(
            len(rows),
            [(u, v) for a, b in pairs for u, v in ((a, b), (b, a))
             if u in new and v in earlier],
            [(a, b) for a, b in pairs if a in new and b in new],
            urls & stored))
        earlier |= new
    return out
