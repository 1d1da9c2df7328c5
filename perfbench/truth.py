"""Ground truth for the benchmark's correctness gate — pure Python, no
Spark, so the oracle shares no code with the engine it checks.

The generators plant duplicates and label them as *planted pairs*
``(url_a, url_b)``. A planted pair is TRUE when the exact Jaccard of the
two documents' word-3-gram shingle sets is at least the threshold; that
filter is computed here from the raw text, never taken from the engine.

Metrics over an engine's cluster assignment (url -> cluster_id, urls
absent from the assignment are singletons):

* ``dup_pair_recall``: true pairs whose members share a cluster / true
  pairs.
* ``delete_precision``: deleted docs whose truth component (union of
  the true pairs) also holds the doc their cluster kept / deleted docs.
"""

from __future__ import annotations

import hashlib
from typing import Iterable, Mapping

SHINGLE_K = 3


def shingles(text: str, k: int = SHINGLE_K) -> frozenset:
    """Distinct word k-gram shingles; a doc shorter than k tokens is one
    shingle of all its tokens (the engine's convention)."""
    toks = text.split()
    if not toks:
        return frozenset()
    if len(toks) < k:
        return frozenset([tuple(toks)])
    return frozenset(tuple(toks[i:i + k]) for i in range(len(toks) - k + 1))


def jaccard(a: frozenset, b: frozenset) -> float:
    union = len(a | b)
    return len(a & b) / union if union else 1.0


def true_pairs(planted: Iterable[tuple[str, str]],
               texts: Mapping[str, str],
               threshold: float) -> list[tuple[str, str]]:
    """The planted pairs whose exact shingle Jaccard is >= threshold."""
    cache: dict[str, frozenset] = {}

    def sh(url: str) -> frozenset:
        if url not in cache:
            cache[url] = shingles(texts[url])
        return cache[url]

    return [(a, b) for a, b in planted if jaccard(sh(a), sh(b)) >= threshold]


class UnionFind:
    def __init__(self) -> None:
        self.parent: dict[str, str] = {}

    def find(self, x: str) -> str:
        root = x
        while self.parent.get(root, root) != root:
            root = self.parent[root]
        while x != root:
            nxt = self.parent.get(x, x)
            self.parent[x] = root
            x = nxt
        return root

    def union(self, a: str, b: str) -> None:
        ra, rb = self.find(a), self.find(b)
        if ra != rb:
            self.parent[max(ra, rb)] = min(ra, rb)


def pair_recall(pairs: list[tuple[str, str]],
                cluster_of: Mapping[str, str]) -> float:
    """Share of ``pairs`` whose two urls the engine put in one cluster;
    1.0 when there are no pairs."""
    if not pairs:
        return 1.0
    hit = sum(1 for a, b in pairs
              if cluster_of.get(a, a) == cluster_of.get(b, b))
    return hit / len(pairs)


def batch_scores(pairs: list[tuple[str, str]],
                 rows: Iterable[tuple[str, str, str]]) -> dict[str, float]:
    """Recall and delete precision of a batch dedup run.

    ``rows`` are the engine's decisions ``(url, cluster_id, action)``.
    A delete is correct when the truth graph links the deleted doc to
    the doc its cluster keeps."""
    rows = list(rows)
    cluster_of = {u: c for u, c, _ in rows}
    kept = {c: u for u, c, a in rows if a == "keep"}
    uf = UnionFind()
    for a, b in pairs:
        uf.union(a, b)
    deleted = [(u, c) for u, c, a in rows if a == "delete"]
    good = sum(1 for u, c in deleted
               if c in kept and uf.find(u) == uf.find(kept[c]))
    return {"dup_pair_recall": pair_recall(pairs, cluster_of),
            "delete_precision": good / len(deleted) if deleted else 1.0}


def incremental_scores(store_pairs: list[tuple[str, str]],
                       batch_pairs: list[tuple[str, str]],
                       recrawls: set[str],
                       rows: Iterable[tuple[str, str, str, str]]
                       ) -> dict[str, float]:
    """Recall and delete precision of one cross-snapshot ingest.

    ``store_pairs`` are true (new_url, earlier_url) pairs, the earlier
    page stored or new in an earlier batch; ``batch_pairs``
    true pairs inside the batch; ``recrawls`` new rows whose url is
    already stored. ``rows`` are ``(url, cluster_id, action, reason)``.
    A store pair is recalled when its new doc is deleted as
    ``dup_of_corpus``; a batch pair when both docs share a cluster. A
    delete is correct when the doc is a recrawl or in some true pair."""
    rows = list(rows)
    reason = {u: r for u, _, _, r in rows}
    cluster_of = {u: c for u, c, _, _ in rows}
    corpus_hits = sum(1 for u, _ in store_pairs
                      if reason.get(u) == "dup_of_corpus")
    corpus_hits += sum(1 for u in recrawls if reason.get(u) == "dup_of_corpus")
    n_corpus = len(store_pairs) + len(recrawls)
    batch_hits = pair_recall(batch_pairs, cluster_of) * len(batch_pairs)
    n = n_corpus + len(batch_pairs)
    recall = (corpus_hits + batch_hits) / n if n else 1.0
    justified = recrawls | {u for u, _ in store_pairs} \
        | {u for p in batch_pairs for u in p}
    deleted = [u for u, _, a, _ in rows if a == "delete"]
    good = sum(1 for u in deleted if u in justified)
    return {"dup_pair_recall": recall,
            "delete_precision": good / len(deleted) if deleted else 1.0}


def digest(rows: Iterable[tuple]) -> str:
    """Order-independent digest of decision rows."""
    h = hashlib.sha256()
    for row in sorted("\t".join(map(str, r)) for r in rows):
        h.update(row.encode())
        h.update(b"\n")
    return h.hexdigest()
