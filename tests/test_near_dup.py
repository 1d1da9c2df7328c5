"""Near-dup correctness: LSH recall/precision vs exact ground truth,
connected components vs a union-find oracle, SimHash sanity."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators import components as comp
from duplicate_finder_spark.operators.components import connected_components
from duplicate_finder_spark.operators.lsh import (_sketch, band_hashes,
                                                  candidate_pairs,
                                                  verify_pairs)
from duplicate_finder_spark.operators.minhash import signatures
from duplicate_finder_spark.operators.simhash import simhash, simhash_pairs
from duplicate_finder_spark.pipeline import run_resumable
from duplicate_finder_spark.warehouse import ParquetWarehouse

CFG = PipelineConfig(num_perm=128, lsh_bands=32, jaccard_threshold=0.8)


def test_minhash_similarity_tracks_jaccard(spark):
    """Signature agreement rate ≈ true Jaccard (LLN over 128 perms)."""
    base = " ".join(f"tok{i}" for i in range(200))
    variant = " ".join(f"tok{i}" for i in range(180))  # high overlap
    other = " ".join(f"other{i}" for i in range(200))
    df = spark.createDataFrame(
        [("a", base), ("b", variant), ("c", other)], "url string, text string")
    sigs = {r["url"]: (r["minhash"], set(r["shingles"]))
            for r in signatures(df, CFG).collect()}
    true_j = len(sigs["a"][1] & sigs["b"][1]) / len(sigs["a"][1] | sigs["b"][1])
    est_j = sum(x == y for x, y in zip(sigs["a"][0], sigs["b"][0])) / 128
    assert abs(est_j - true_j) < 0.15
    est_far = sum(x == y for x, y in zip(sigs["a"][0], sigs["c"][0])) / 128
    assert est_far < 0.05


def test_band_hashes_shape(spark):
    df = spark.createDataFrame(
        [("a", "w1 w2 w3 w4 w5 w6")], "url string, text string")
    bands = band_hashes(signatures(df, CFG), CFG)
    assert bands.count() == CFG.lsh_bands
    assert set(bands.columns) == {"url", "band", "band_hash"}


def test_lsh_recall_and_precision(spark, small_pages):
    pages, truth = small_pages
    cfg = CFG
    sigs = signatures(pages, cfg)
    pairs = candidate_pairs(sigs, cfg)
    verified = verify_pairs(pairs, sigs, cfg.jaccard_threshold)

    got = {(r["url_a"], r["url_b"]) for r in verified.collect()}
    want = {(r["url_a"], r["url_b"])
            for r in truth["truth_pairs"]
            .filter((F.col("kind") == "near")
                    & (F.col("jaccard") >= cfg.jaccard_threshold))
            .collect()}
    assert want, "fixture must plant near pairs"
    missed = want - got
    recall = 1 - len(missed) / len(want)
    assert recall >= 0.99, f"recall {recall}: missed {sorted(missed)[:5]}"

    # precision vs truth: predicted pairs must be planted positives,
    # exact dups (jaccard 1.0), or boilerplate-kin — never decoys
    decoys = {(r["url_a"], r["url_b"])
              for r in truth["truth_pairs"]
              .filter(F.col("kind") == "decoy").collect()}
    assert not (got & decoys), "verify stage must reject below-threshold decoys"


def test_verify_filters_by_exact_jaccard(spark):
    # LSH may propose, but verify must dispose: j(base, far) < 0.8
    base = [f"t{i}" for i in range(100)]
    far = base[:50] + [f"x{i}" for i in range(50)]  # ~1/3 shingle Jaccard
    df = spark.createDataFrame(
        [("a", " ".join(base)), ("b", " ".join(far))],
        "url string, text string")
    sigs = signatures(df, CFG)
    pairs = spark.createDataFrame([("a", "b")], "url_a string, url_b string")
    assert verify_pairs(pairs, sigs, 0.8).count() == 0
    low = verify_pairs(pairs, sigs, 0.01).collect()
    assert len(low) == 1 and 0 < low[0]["jaccard"] < 0.5


def test_sketch_bounds_verify_payload_on_long_docs(spark):
    """Verify-stage payload bound (VERDICT r2 #2): long docs ship a
    bottom-k sketch (≤ sketch_k longs) through the pair join, never the
    full shingle array; decisions still match exact Jaccard — clearly
    above/below pairs via the unbiased estimate, borderline pairs via
    exact re-verify of just that band."""
    cfg = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8, sketch_k=256)
    base = [f"t{i}" for i in range(600)]
    rows = [
        ("base", " ".join(base)),
        # shared 595-token prefix → j ≈ 593/603 ≈ 0.983 (keep)
        ("dup", " ".join(base[:595] + [f"d{i}" for i in range(5)])),
        # shared 510-token prefix → j ≈ 508/688 ≈ 0.738 (borderline, drop)
        ("mid", " ".join(base[:510] + [f"m{i}" for i in range(90)])),
        # shared 150-token prefix → j ≈ 148/1048 ≈ 0.141 (drop)
        ("far", " ".join(base[:150] + [f"f{i}" for i in range(450)])),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    sigs = signatures(df, cfg)
    agg = sigs.agg(F.max(F.size(_sketch("shingles", cfg.sketch_k)))
                   .alias("mx"),
                   F.max("n_shingles").alias("mn")).first()
    assert agg["mx"] == cfg.sketch_k, "sketch must be capped at sketch_k"
    assert agg["mn"] > cfg.sketch_k, "fixture docs must exceed sketch_k"

    sets = {r["url"]: set(r["shingles"]) for r in sigs.collect()}

    def jac(a, b):
        return len(sets[a] & sets[b]) / len(sets[a] | sets[b])

    cand = [("base", "dup"), ("base", "mid"), ("base", "far")]
    pairs = spark.createDataFrame(cand, "url_a string, url_b string")
    got = {(r["url_a"], r["url_b"]): r["jaccard"]
           for r in verify_pairs(pairs, sigs, 0.8, cfg).collect()}
    want = {p: jac(*p) for p in cand if jac(*p) >= 0.8}
    assert set(got) == set(want)
    for p, j in want.items():
        # borderline pairs return the exact value; estimate-decided pairs
        # are within the 3-sigma band of it
        assert abs(got[p] - j) <= cfg.verify_band + 1e-9


def test_truncated_verify_matches_full_set_jaccard(spark):
    """Differential test of verify's truncated path: 30 seeded docs of
    600 distinct tokens (598 shingles, all above sketch_k = 256) share
    a prefix of a common base, so pair Jaccard spreads over 0.5-1.0.
    With every pair as a candidate, the kept set equals the one from
    full-set Jaccard in Python, and each returned jaccard is within
    verify_band of the true value."""
    cfg = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8, sketch_k=256)
    rng = random.Random(20)
    base = [f"b{i}" for i in range(600)]
    docs = {}
    for d in range(30):
        p = rng.randint(400, 600)
        docs[f"d{d:02d}"] = base[:p] + [f"u{d}x{i}" for i in range(600 - p)]
    sets = {u: {tuple(t[i:i + 3]) for i in range(len(t) - 2)}
            for u, t in docs.items()}
    cand = list(itertools.combinations(sorted(docs), 2))
    truth = {(a, b): len(sets[a] & sets[b]) / len(sets[a] | sets[b])
             for a, b in cand}
    thr = cfg.jaccard_threshold
    # the fixture reaches both sides of the threshold and its band
    assert min(truth.values()) < 0.55 and max(truth.values()) > 0.95
    assert any(abs(j - thr) < cfg.verify_band for j in truth.values())

    df = spark.createDataFrame([(u, " ".join(t)) for u, t in docs.items()],
                               "url string, text string")
    pairs = spark.createDataFrame(cand, "url_a string, url_b string")
    got = {(r["url_a"], r["url_b"]): r["jaccard"]
           for r in verify_pairs(pairs, signatures(df, cfg), thr,
                                 cfg).collect()}
    assert set(got) == {p for p, j in truth.items() if j >= thr}
    for p, j in got.items():
        assert abs(j - truth[p]) <= cfg.verify_band + 1e-9, p


def test_verify_pairs_releases_all_persists(spark, monkeypatch):
    """VERDICT r3 wrong #1: the truncated path persisted its scored
    table and never released it — one candidate-pair-sized cache pinned
    per call (per MICRO-BATCH in streaming). Spy on every persist made
    inside verify_pairs and assert each is unpersisted by return, while
    the decisions stay correct (i.e. the release does not silently
    recompute-and-diverge)."""
    try:  # PySpark 4: concrete sessions hand out the classic subclass,
        # which overrides persist — patch the class actually in play
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover — older pyspark
        from pyspark.sql import DataFrame

    cfg = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8, sketch_k=256)
    base = [f"t{i}" for i in range(600)]
    rows = [
        ("base", " ".join(base)),
        ("dup", " ".join(base[:595] + [f"d{i}" for i in range(5)])),
        ("far", " ".join(base[:150] + [f"f{i}" for i in range(450)])),
    ]
    df = spark.createDataFrame(rows, "url string, text string")
    sigs = signatures(df, cfg)
    assert sigs.agg(F.max("n_shingles")).first()[0] > cfg.sketch_k

    captured = []
    orig_persist = DataFrame.persist

    def spy(self, *a, **k):
        out = orig_persist(self, *a, **k)
        captured.append(out)
        return out

    monkeypatch.setattr(DataFrame, "persist", spy)
    pairs = spark.createDataFrame(
        [("base", "dup"), ("base", "far")], "url_a string, url_b string")
    got = {(r["url_a"], r["url_b"])
           for r in verify_pairs(pairs, sigs, 0.8, cfg).collect()}
    assert got == {("base", "dup")}
    assert captured, "truncated path must have exercised the persist"
    for cached in captured:
        lvl = cached.storageLevel
        assert not (lvl.useMemory or lvl.useDisk), \
            "verify_pairs must unpersist every DataFrame it persists"


def test_sketch_verify_identical_to_exact_when_not_truncated(spark, small_pages):
    """Docs under sketch_k shingles must be verified bit-identically to
    the full-array exact formula (the driver-oracle regime: every
    /root/testdata doc is far below the default sketch_k)."""
    pages, _ = small_pages
    cfg = PipelineConfig(num_perm=128, lsh_bands=32, jaccard_threshold=0.8,
                         sketch_k=1_000_000)   # no doc truncated
    sigs = signatures(pages, cfg)
    pairs = candidate_pairs(sigs, cfg)
    new = {(r["url_a"], r["url_b"]): r["jaccard"]
           for r in verify_pairs(pairs, sigs, cfg.jaccard_threshold,
                                 cfg).collect()}
    # exact reference formula over full shingle arrays
    a = sigs.select(F.col("url").alias("url_a"),
                    F.col("shingles").alias("sh_a"))
    b = sigs.select(F.col("url").alias("url_b"),
                    F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    old = {(r["url_a"], r["url_b"]): r["jaccard"]
           for r in pairs.join(a, "url_a").join(b, "url_b")
           .withColumn("jaccard", F.when(union == 0, F.lit(1.0))
                       .otherwise(inter / union))
           .filter(F.col("jaccard") >= cfg.jaccard_threshold)
           .select("url_a", "url_b", "jaccard").collect()}
    assert new == old


def test_candidate_pairs_hot_bucket_star_edges(spark):
    """12 identical docs fill one band bucket of size 12 > limit 3 in
    every band, so batch candidate_pairs must take the star path: 11
    edges to the bucket's min url, not C(12,2) = 66 all-pairs; the
    verified star still puts all 12 in one component. A near-dup pair
    and a singleton keep the small-bucket path alive alongside it."""
    base = " ".join(f"tok{i % 37}x{i % 11}" for i in range(60))
    rows = [(f"https://hot.example/{i:04d}", base) for i in range(12)]
    rows += [("https://a.example/1", "alpha beta gamma delta " * 12),
             ("https://a.example/2", "alpha beta gamma delta " * 12),
             ("https://b.example/1", "unrelated words entirely " * 9)]
    pages = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig(num_perm=64, lsh_bands=16, jaccard_threshold=0.8,
                         hot_bucket_limit=3)
    sigs = signatures(pages, cfg).persist()
    try:
        pairs = candidate_pairs(sigs, cfg)
        hot = F.col("url_a").startswith("https://hot.") & \
            F.col("url_b").startswith("https://hot.")
        assert pairs.filter(hot).count() == 11
        edges = verify_pairs(pairs, sigs, cfg.jaccard_threshold, cfg) \
            .select(F.col("url_a").alias("src"), F.col("url_b").alias("dst"))
        clusters = {r["url"]: r["cluster_id"]
                    for r in connected_components(edges).collect()}
        hot_urls = [u for u, _ in rows[:12]]
        assert {clusters.get(u) for u in hot_urls} == {hot_urls[0]}
    finally:
        sigs.unpersist()


def _uf_oracle(edges):
    parent = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comps = {}
    for n in list(parent):
        comps.setdefault(find(n), set()).add(n)
    return {frozenset(v | {k}) for k, v in comps.items()}


@pytest.mark.parametrize("budget", [comp.DRIVER_EDGE_BUDGET, -1],
                         ids=["driver", "star"])
def test_connected_components_random_graphs(spark, monkeypatch, budget):
    monkeypatch.setattr(comp, "DRIVER_EDGE_BUDGET", budget)
    rng = random.Random(42)
    for trial in range(3):
        n = 120
        nodes = [f"n{i:04d}" for i in range(n)]
        edges = []
        # random clusters: chains, cliques, stars
        for start in range(0, n, 12):
            group = nodes[start:start + rng.randint(2, 12)]
            kind = rng.choice(("chain", "clique", "star"))
            if kind == "chain":
                edges += list(zip(group, group[1:]))
            elif kind == "star":
                edges += [(group[0], g) for g in group[1:]]
            else:
                edges += list(itertools.combinations(group, 2))
        rng.shuffle(edges)
        edges = [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]
        df = spark.createDataFrame(edges, "src string, dst string")
        got = connected_components(df)
        got_comps = {frozenset(r["members"]) for r in
                     got.groupBy("cluster_id")
                     .agg(F.collect_set("url").alias("members")).collect()}
        want = _uf_oracle(edges)
        assert got_comps == want, f"trial {trial}"
        # representative is the component minimum
        for r in got.collect():
            assert r["cluster_id"] <= r["url"]


def test_simhash_near_identical_low_hamming(spark):
    base = " ".join(f"word{i}" for i in range(300))
    near = " ".join(f"word{i}" for i in range(299)) + " wordX"
    far = " ".join(f"zzz{i}" for i in range(300))
    df = spark.createDataFrame(
        [("a", base), ("b", near), ("c", far)], "url string, text string")
    cfg = PipelineConfig(simhash_hamming_max=3)
    pairs = {(r["url_a"], r["url_b"]): r["hamming"]
             for r in simhash_pairs(simhash(df), cfg).collect()}
    assert ("a", "b") in pairs
    assert ("a", "c") not in pairs and ("b", "c") not in pairs


def test_simhash_identical_zero_hamming(spark):
    df = spark.createDataFrame(
        [("a", "alpha beta gamma"), ("b", "alpha beta gamma")],
        "url string, text string")
    cfg = PipelineConfig()
    pairs = simhash_pairs(simhash(df), cfg).collect()
    assert len(pairs) == 1 and pairs[0]["hamming"] == 0


def test_full_pipeline_clusters_match_truth(spark, small_pages, tmp_path):
    pages, truth = small_pages
    got = run_resumable(spark, pages, CFG,
                        ParquetWarehouse(spark, str(tmp_path / "wh")),
                        input_id="small-corpus")
    got_groups = {frozenset(r["members"]) for r in
                  got.groupBy("cluster_id")
                  .agg(F.collect_set("url").alias("members")).collect()
                  if len(r["members"]) > 1}
    want_groups = {frozenset(r["members"]) for r in
                   truth["truth_clusters"].groupBy("cluster_id")
                   .agg(F.collect_set("url").alias("members")).collect()}
    # every truth cluster must be reproduced exactly or merged into a
    # superset ONLY via additional true positives; with the fixture's
    # separation, exact equality is expected
    missing = want_groups - got_groups
    assert not missing, f"missing clusters: {sorted(map(sorted, missing))[:3]}"
    # no cluster may mix docs from different truth clusters
    url_to_truth = {r["url"]: r["cluster_id"]
                    for r in truth["truth_clusters"].collect()}
    for g in got_groups:
        tids = {url_to_truth.get(u) for u in g if u in url_to_truth}
        assert len(tids) <= 1, f"merged distinct truth clusters: {sorted(g)[:6]}"


def test_simhash_hot_block_star_edges(spark):
    """A mega-block (N identical fingerprints > hot_bucket_limit) must
    produce O(N) edges (star to the representative + adjacent-order
    chain), not O(N²) all-pairs — and stay connected."""
    n = 30
    text = " ".join(f"w{i}" for i in range(50))
    rows = [(f"u{i:04d}", text) for i in range(n)]
    df = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig(simhash_hamming_max=3, hot_bucket_limit=5)
    pairs = simhash_pairs(simhash(df), cfg).collect()
    # O(N): star (n-1) + chain (n-1), overlapping on the first pair —
    # nowhere near n*(n-1)/2 = 435 all-pairs
    assert len(pairs) == 2 * (n - 1) - 1
    star = [p for p in pairs if p["url_a"] == "u0000"]
    assert len(star) == n - 1, "every member must reach the rep"
    assert all(p["hamming"] == 0 for p in pairs)
    # connectivity: one component over the edges
    edges = spark.createDataFrame(
        [(p["url_a"], p["url_b"]) for p in pairs], "src string, dst string")
    assert connected_components(edges).select("cluster_id") \
        .distinct().count() == 1


def test_simhash_hot_block_chain_recovers_far_from_rep_pair(spark):
    """VERDICT r3 #8 done-criterion: a hot-block pair whose members are
    > hamming_max from the block REPRESENTATIVE but ≤ hamming_max from
    EACH OTHER must survive pairing and clustering — the adjacent-order
    chain edges carry it; star-only degradation lost it. Precision
    stays exact: nothing above hamming_max is emitted."""
    base = 0x1234                      # shared block-0 value → hot bucket
    fp = {
        "a00": base | sum(1 << b for b in (33, 35, 37, 39, 41)),  # rep R
        "m01": base | (1 << 36),                                  # A
        "m02": base | (1 << 20),                                  # B
        "w01": base | sum(1 << b for b in (42, 43, 44, 45)),
        "z00": base | sum(1 << b for b in range(48, 52)),
        "z01": base | sum(1 << b for b in range(52, 56)),
        "z02": base | sum(1 << b for b in range(56, 60)),
        "z03": base | sum(1 << b for b in range(60, 63)),
    }

    def ham(x, y):
        return bin(fp[x] ^ fp[y]).count("1")

    # preconditions: A-B is the ONLY true pair; both far from the rep
    assert ham("m01", "m02") == 2
    assert ham("a00", "m01") > 3 and ham("a00", "m02") > 3
    for u in fp:
        for v in fp:
            if u < v and {u, v} != {"m01", "m02"}:
                assert ham(u, v) > 3, (u, v)

    sims = spark.createDataFrame(list(fp.items()),
                                 "url string, simhash long")
    cfg = PipelineConfig(simhash_hamming_max=3, hot_bucket_limit=3)
    pairs = simhash_pairs(sims, cfg).collect()
    assert {(p["url_a"], p["url_b"], p["hamming"]) for p in pairs} \
        == {("m01", "m02", 2)}
    edges = spark.createDataFrame(
        [(p["url_a"], p["url_b"]) for p in pairs], "src string, dst string")
    clusters = {r["url"]: r["cluster_id"]
                for r in connected_components(edges).collect()}
    assert clusters["m01"] == clusters["m02"] == "m01"


def test_simhash_small_blocks_still_all_pairs(spark):
    """Below the hot limit the block join keeps exact all-pairs output."""
    text = " ".join(f"w{i}" for i in range(50))
    rows = [(f"u{i}", text) for i in range(4)]
    df = spark.createDataFrame(rows, "url string, text string")
    cfg = PipelineConfig(simhash_hamming_max=3, hot_bucket_limit=100)
    pairs = simhash_pairs(simhash(df), cfg)
    assert pairs.count() == 6           # C(4,2)


def test_ngram_jaccard_df_cut_bounds_boilerplate(spark):
    """A boilerplate shingle shared by every doc must be dropped by the
    df-cut, and df_cut_stats must report the drop."""
    from duplicate_finder_spark.operators.jaccard import (df_cut_stats,
                                                          ngram_jaccard_pairs)

    boiler = "copyright acme corp"
    rows = [(i, f"{boiler} unique{i} filler{i} text{i}")
            for i in range(40)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = ngram_jaccard_pairs(df, k=3, threshold=0.01, max_doc_freq=10)
    # without the cut every pair shares the boilerplate shingle
    # (40*39/2 = 780 rows); with it, no pair survives
    assert pairs.count() == 0
    # and the default (finite) cut is actually on
    assert ngram_jaccard_pairs(df.limit(40), k=3,
                               threshold=0.01).count() == 780
    stats = df_cut_stats(df, k=3, max_doc_freq=10).collect()[0]
    assert stats["dropped_shingles"] == 1
    assert stats["max_doc_freq_seen"] == 40
