"""Batch cross-snapshot dedup: a new crawl batch against a kept corpus.

Covers the shared incremental kernel (operators/lsh.py::
incremental_candidate_pairs — also the streaming store's) and the
decision/apply semantics of operators/crosssnap.py: incumbents win,
new-only clusters keep-first, the pruned census emits the same pairs
as the unpruned one, and store×store pairs are never generated.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators.crosssnap import (
    cross_snapshot_apply, cross_snapshot_decisions, cross_snapshot_edges)
from duplicate_finder_spark.operators.lsh import (
    band_hashes, incremental_candidate_pairs)
from duplicate_finder_spark.operators.minhash import SIG_COLS, signatures
from duplicate_finder_spark.store import (STORE_PREFIX, commit_batch,
                                          read_store)
from duplicate_finder_spark.warehouse import ParquetWarehouse

CFG = PipelineConfig(num_perm=128, lsh_bands=32, jaccard_threshold=0.8)


def _doc(seed: str, n: int = 60) -> str:
    return " ".join(f"{seed}{i}" for i in range(n))


def _pages(spark, rows):
    return spark.createDataFrame(rows, "url string, text string")


def _sigs(spark, rows):
    return signatures(_pages(spark, rows), CFG)


def test_decisions_cover_all_regimes(spark):
    # store: S1, S2 (distinct docs)
    store = _sigs(spark, [("s1", _doc("a")), ("s2", _doc("b"))])
    # new: n1 = copy of S1 (dup_of_corpus); n2+n3 = copies of each
    # other, unseen in store (keep-first: n2 keeps, n3 drops);
    # n4 = unique
    new = _sigs(spark, [("n1", _doc("a")), ("n2", _doc("c")),
                        ("n3", _doc("c")), ("n4", _doc("d"))])
    got = {r["url"]: (r["action"], r["reason"], r["cluster_id"])
           for r in cross_snapshot_decisions(new, store, CFG).collect()}
    assert set(got) == {"n1", "n2", "n3", "n4"}
    assert got["n1"] == ("delete", "dup_of_corpus", "n1"), got["n1"]
    assert got["n2"] == ("keep", "cluster_rep", "n2")
    assert got["n3"] == ("delete", "dup_in_batch", "n2")
    assert got["n4"] == ("keep", "unique", "n4")


def test_ingest_against_store_with_stored_sketch(spark, tmp_path):
    """A corpus_sigs__ table in the old six-column format (with the
    bottom-k ``sketch`` column signatures no longer store) still reads
    through read_store and decides as in the regime test above; the
    kept batch it is committed next to unions with it."""
    wh = ParquetWarehouse(spark, str(tmp_path / "wh"))
    old = (_sigs(spark, [("s1", _doc("a")), ("s2", _doc("b"))])
           .withColumn("sketch", F.slice(F.array_sort("shingles"), 1,
                                         CFG.sketch_k))
           .select("url", "shingles", "minhash", "n_shingles", "sketch",
                   "n_tokens"))
    m = wh.write(old, STORE_PREFIX + "old", stage="store_batch")
    commit_batch(wh, spark, "old", m.rows)

    new = _sigs(spark, [("n1", _doc("a")), ("n2", _doc("c")),
                        ("n3", _doc("c")), ("n4", _doc("d"))])
    store = read_store(wh, new, SIG_COLS)
    decided = cross_snapshot_decisions(new, store, CFG)
    got = {r["url"]: (r["action"], r["reason"], r["cluster_id"])
           for r in decided.collect()}
    assert got == {"n1": ("delete", "dup_of_corpus", "n1"),
                   "n2": ("keep", "cluster_rep", "n2"),
                   "n3": ("delete", "dup_in_batch", "n2"),
                   "n4": ("keep", "unique", "n4")}

    dropped = decided.filter(F.col("action") == "delete").select("url")
    kept = wh.write(new.select(*SIG_COLS).join(dropped, "url", "left_anti"),
                    STORE_PREFIX + "new", stage="store_batch")
    commit_batch(wh, spark, "new", kept.rows)
    after = read_store(wh, new, SIG_COLS)
    assert after.columns == SIG_COLS
    assert {r["url"] for r in after.collect()} == {"s1", "s2", "n2", "n4"}


def test_transitive_store_link_deletes_whole_new_chain(spark):
    """new A ~ new B ~ store S with A itself NOT similar to S: the
    component contains an incumbent, so BOTH new members drop."""
    base = [f"t{i}" for i in range(100)]
    mid = base[:90] + [f"m{i}" for i in range(10)]   # j(base,mid) ≈ 0.82
    far = mid[:90] + [f"f{i}" for i in range(10)]    # j(mid,far) ≈ 0.82
    # j(base, far) ≈ 80/120 ≈ 0.67 < threshold: only the chain links
    store = _sigs(spark, [("s1", " ".join(base))])
    new = _sigs(spark, [("na", " ".join(far)), ("nb", " ".join(mid))])
    got = {r["url"]: (r["action"], r["reason"])
           for r in cross_snapshot_decisions(new, store, CFG).collect()}
    assert got["na"] == ("delete", "dup_of_corpus")
    assert got["nb"] == ("delete", "dup_of_corpus")


def test_no_store_store_pairs_but_new_still_links(spark):
    """Two store docs that duplicate EACH OTHER must produce no edge
    (already-deduped corpus is never re-paired), while a new doc in
    the same bucket still links to them."""
    store = _sigs(spark, [("s1", _doc("a")), ("s2", _doc("a"))])
    new = _sigs(spark, [("n1", _doc("a"))])
    edges = cross_snapshot_edges(new, store, CFG)
    sides = {(r["url_a"], r["url_b"]) for r in edges.collect()}
    assert ("s1", "s2") not in sides and ("s2", "s1") not in sides
    assert any("n1" in p for p in sides), sides
    got = {r["url"]: r["action"]
           for r in cross_snapshot_decisions(new, store, CFG).collect()}
    assert got == {"n1": "delete"}


def test_pruned_census_equals_unpruned(spark):
    rows_store = [(f"s{i:03d}", _doc(f"g{i % 7}")) for i in range(40)]
    rows_new = [(f"n{i:03d}", _doc(f"g{i % 11}")) for i in range(15)]
    store, new = _sigs(spark, rows_store), _sigs(spark, rows_new)
    bn = band_hashes(new, CFG)
    ba = bn.unionByName(band_hashes(store, CFG))
    pruned = {(r["url_a"], r["url_b"]) for r in
              incremental_candidate_pairs(bn, ba, CFG.hot_bucket_limit,
                                          prune=True).collect()}
    full = {(r["url_a"], r["url_b"]) for r in
            incremental_candidate_pairs(bn, ba, CFG.hot_bucket_limit,
                                        prune=False).collect()}
    assert pruned == full and pruned


def test_hot_bucket_star_keeps_connectivity(spark):
    """Force every bucket hot (limit=1): new members get star edges
    only, yet the cluster decision is identical to the all-pairs one —
    and a new url that becomes the bucket minimum still links in via
    the second-smallest member (rep-drift fallback)."""
    cfg = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8, hot_bucket_limit=1)
    store = _sigs(spark, [("s1", _doc("a")), ("s2", _doc("a"))])
    # "a0" sorts before "s1": the new arrival IS the bucket min
    new = _sigs(spark, [("a0", _doc("a")), ("zz", _doc("a"))])
    got = {r["url"]: (r["action"], r["reason"])
           for r in cross_snapshot_decisions(new, store, cfg).collect()}
    assert got["a0"] == ("delete", "dup_of_corpus")
    assert got["zz"] == ("delete", "dup_of_corpus")


def test_apply_returns_store_plus_kept_new(spark):
    store = _sigs(spark, [("s1", _doc("a")), ("s2", _doc("b"))])
    new = _sigs(spark, [("n1", _doc("a")), ("n2", _doc("c")),
                        ("n3", _doc("c")), ("n4", _doc("d"))])
    updated = cross_snapshot_apply(new, store, CFG)
    assert {r["url"] for r in updated.select("url").collect()} == \
        {"s1", "s2", "n2", "n4"}
    # idempotence: running the SAME batch against the updated store
    # deletes everything (every survivor is now an incumbent)
    again = cross_snapshot_decisions(new, updated, CFG)
    assert {r["action"] for r in again.collect()} == {"delete"}
    assert {r["reason"] for r in again.collect()} == {"dup_of_corpus"}


def test_streaming_kernel_unchanged_by_refactor(spark):
    """The streaming store delegates to the shared kernel; its
    incremental candidates on a same-batch corpus must equal the batch
    kernel run with an empty store side."""
    rows = [("u1", _doc("a")), ("u2", _doc("a")), ("u3", _doc("b"))]
    sigs = _sigs(spark, rows)
    bn = band_hashes(sigs, CFG)
    got = {(r["url_a"], r["url_b"]) for r in
           incremental_candidate_pairs(bn, bn, CFG.hot_bucket_limit)
           .collect()}
    assert got == {("u1", "u2")}
