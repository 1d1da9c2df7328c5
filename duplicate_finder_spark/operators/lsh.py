"""LSH banding + candidate pairing with explicit skew handling.

Generalizes the reference's size-bucket idea — "only compare within a
bucket" (duplicate_finder.py:176-196) — to MinHash band buckets: two docs
are candidates iff one of their ``lsh_bands`` band hashes collides.

Skew is handled EXPLICITLY (north rule), not left to luck:
* bucket sizes come from one window count over (band, band_hash);
* buckets ≤ ``hot_bucket_limit`` do all-pairs via a self-equi-join —
  AQE's skew-join split is the backstop for the mid-sized ones;
* HOT buckets (boilerplate templates — the web-scale killer, since one
  shared template puts millions of pages in one bucket) switch from
  O(s²) all-pairs to O(s) STAR edges against the bucket's min-url
  representative. Connectivity within the bucket is preserved (every
  member still reaches the representative), so connected components
  still merge the cluster; the verify stage prunes false star edges.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from duplicate_finder_spark.config import PipelineConfig


def band_hashes(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """(url, minhash) → (url, band, band_hash) — one row per band."""
    r = cfg.rows_per_band
    bands = F.array(*[
        F.xxhash64(F.slice("minhash", j * r + 1, r))
        for j in range(cfg.lsh_bands)
    ])
    return (sigs.select("url", F.posexplode(bands).alias("band", "band_hash")))


def candidate_pairs(sigs: DataFrame, cfg: PipelineConfig) -> DataFrame:
    """→ distinct (url_a, url_b), url_a < url_b.

    Plan shape (r4, MEASURED): the bucket census — per-(band, band_hash)
    count/min — is a WINDOW over the exploded band table, deliberately.
    One hash exchange + one sort, and that single exchange is then
    REUSED by everything downstream: the window annotation, the
    small-bucket self-equi-join (both sides), and the hot-bucket star
    edges all consume the same shuffle output, so the band table crosses
    the wire exactly once and the signature subtree executes exactly
    once. The tempting "optimization" — a partial-aggregating groupBy
    census with an AQE-broadcast join-back — was implemented and
    MEASURED 1.6–1.7× SLOWER at 2M docs at both core counts
    (l32 candidates 131 s → 221 s; raw A/B:
    `BENCH/runs/stages_20260817_111342.json` window vs
    `stages_20260817_131722.json` groupBy, unchanged-stage
    cross-calibration in BENCH/BASELINE.md): at web dup rates the
    collision census is NOT small (≈ dup_rate × docs × bands rows), so
    the join-back exceeds any broadcast threshold and falls back to a
    shuffle join — and the census build side + join probe side are two
    SEPARATE scans of the band subtree, so the explode (and, when
    signatures are unpersisted, the Arrow UDF) runs twice. The window
    plan dominates in both regimes; it stays.
    """
    bands = band_hashes(sigs, cfg)
    w = Window.partitionBy("band", "band_hash")
    bands = (bands
             .withColumn("bucket_size", F.count("*").over(w))
             .withColumn("bucket_rep", F.min("url").over(w))
             .filter(F.col("bucket_size") > 1))

    small = bands.filter(F.col("bucket_size") <= cfg.hot_bucket_limit)
    hot = bands.filter(F.col("bucket_size") > cfg.hot_bucket_limit)

    left = small.select("band", "band_hash", F.col("url").alias("url_a"))
    right = small.select("band", "band_hash", F.col("url").alias("url_b"))
    pairs_small = (left.join(right, ["band", "band_hash"])
                   .filter(F.col("url_a") < F.col("url_b"))
                   .select("url_a", "url_b"))

    pairs_hot = (hot.filter(F.col("url") != F.col("bucket_rep"))
                 .select(F.col("bucket_rep").alias("url_a"),
                         F.col("url").alias("url_b")))

    return pairs_small.unionByName(pairs_hot).distinct()


def incremental_candidate_pairs(bands_new: DataFrame, bands_all: DataFrame,
                                hot_bucket_limit: int,
                                prune: bool = True) -> DataFrame:
    """(new ⋈ all) band-collision pairs, distinct (url_a, url_b) with
    url_a < url_b — the INCREMENTAL variant of ``candidate_pairs``:
    every emitted pair has ≥ 1 member from ``bands_new``, and old×old
    pairs are NEVER generated (they were emitted when their newer
    member first arrived, or belong to an already-deduped corpus).

    This is the shared kernel of both incremental regimes: the
    streaming near-dup store (streaming/neardup.py, per micro-batch)
    and the batch cross-snapshot pass (operators/crosssnap.py, new
    crawl vs kept corpus).

    ``prune=True`` (default) first left-semi-joins ``bands_all`` on the
    DISTINCT (band, band_hash) keys of the new side: buckets no new doc
    touches can emit no pair, so the census window — the full-table
    hash exchange + sort that dominates the batch candidates stage
    (BENCH/BASELINE.md "Per-stage scaling") — runs over only the
    touched buckets. With a small new batch against a 10^12-doc store
    this turns O(store × bands) shuffled rows into O(touched buckets),
    and AQE broadcasts the key set when the batch is small enough.
    Bucket sizes are unchanged by the pruning (a touched bucket keeps
    ALL its members, old and new), so the hot-bucket cutover is
    identical with and without it (asserted in tests/test_crosssnap.py).

    Hot buckets (> ``hot_bucket_limit``: boilerplate accumulating in
    the store — the web-scale killer) emit O(s) STAR edges exactly like
    the batch path, with one incremental-only wrinkle (r3 ADVICE): a
    new arrival whose url IS the bucket minimum gets an edge to the
    SECOND-smallest url, so the star cannot fragment when the
    representative drifts across batches/snapshots — members that
    arrived under the previous rep stay reachable through it.
    """
    if prune:
        keys = bands_new.select("band", "band_hash").distinct()
        bands_all = bands_all.join(keys, ["band", "band_hash"],
                                   "left_semi")
    w = Window.partitionBy("band", "band_hash")
    all_sized = (bands_all
                 .withColumn("bucket_size", F.count("*").over(w))
                 .withColumn("bucket_rep", F.min("url").over(w))
                 .withColumn("bucket_rep2", F.min(
                     F.when(F.col("url") != F.col("bucket_rep"),
                            F.col("url"))).over(w)))
    new_keys = bands_new.select("band", "band_hash", "url")

    small = all_sized.filter(F.col("bucket_size") <= hot_bucket_limit)
    hot = all_sized.filter(F.col("bucket_size") > hot_bucket_limit)

    pairs_small = (new_keys
                   .join(small.select("band", "band_hash",
                                      F.col("url").alias("other")),
                         ["band", "band_hash"])
                   .filter(F.col("url") != F.col("other"))
                   .select(F.least("url", "other").alias("url_a"),
                           F.greatest("url", "other").alias("url_b")))
    # star edges: only for NEW members of hot buckets (old members got
    # their rep edge when they were new); a new member that IS the rep
    # links to the second-smallest member instead of nothing
    target = F.when(F.col("url") != F.col("bucket_rep"),
                    F.col("bucket_rep")).otherwise(F.col("bucket_rep2"))
    pairs_hot = (new_keys
                 .join(hot.select("band", "band_hash", "bucket_rep",
                                  "bucket_rep2").distinct(),
                       ["band", "band_hash"])
                 .withColumn("target", target)
                 .filter(F.col("target").isNotNull()
                         & (F.col("url") != F.col("target")))
                 .select(F.least("url", "target").alias("url_a"),
                         F.greatest("url", "target").alias("url_b")))
    return pairs_small.unionByName(pairs_hot).distinct()


def _sketch(shingles, k: int):
    """Bottom-k sketch (Cohen & Kaplan 2007) of a shingle-hash array
    column: its ``k`` smallest values under signed int64 order (a
    uniform order for hashed values), ascending. For ≤ k shingles it is
    the whole set, sorted."""
    return F.slice(F.array_sort(shingles), 1, k)


def verify_pairs(pairs: DataFrame, sigs: DataFrame, threshold: float,
                 cfg: PipelineConfig | None = None) -> DataFrame:
    """V1 generalized: Jaccard over hashed shingle sets, fully JVM-side
    (array_intersect / array_union — no UDF). Keeps pairs with
    jaccard ≥ threshold → these are the dup EDGES.

    Parity: the reference's byte-compare verify (duplicate_finder.py:
    427-463) confirms candidate groups before reporting; here the
    set-similarity check confirms LSH candidates before they enter
    connected components — this is what pins dup-pair precision.

    Scale: when some doc can exceed ``cfg.sketch_k`` shingles, the pair
    join ships a bottom-k sketch (≤ cfg.sketch_k longs per side) that
    is derived from ``shingles`` at the join (`_sketch`; it is not a
    stored column), never the unbounded ``shingles`` array — at web
    scale the verify stage's shuffle BYTES, not its row count, are the
    bottleneck, and a hot doc with many candidate partners re-ships its
    payload once per pair. Three per-pair regimes:

    * both docs ≤ sketch_k shingles → sketch == full set → EXACT Jaccard
      (all docs at test scale; bit-identical to the full-array path);
    * truncated + estimate ≥ verify_band away from threshold → decided by
      the bottom-k estimate |bottomk(A∪B) ∩ skA ∩ skB| / k (unbiased,
      stderr ≈ 1/sqrt(k): an element of A∩B in bottomk(A∪B) is ≤ the
      k-th smallest of each set, hence present in BOTH sketches);
    * truncated + estimate within verify_band → exact re-verify with the
      full arrays, for just that narrow band of pairs.

    Plan gating: when NO doc can be truncated, the estimate/borderline
    machinery must not cost anything — its branches would otherwise
    re-scan the signature subtree (two extra Arrow passes when sigs are
    unpersisted). ``signatures()`` emits a JVM-side ``n_tokens`` column
    computed BEFORE the UDF; ``max(n_tokens)`` is an upper bound on
    n_shingles and selecting only it prunes the UDF, so the probe here
    is one cheap codegen'd scan. If the bound clears sketch_k the exact
    single-join plan (identical shape/cost to the pre-sketch verify) is
    returned outright.
    """
    k = cfg.sketch_k if cfg is not None else 512
    band = (cfg.verify_band if cfg is not None and cfg.verify_band is not None
            else 3.0 / k ** 0.5)
    if "n_tokens" in sigs.columns:
        bound = sigs.agg(F.max("n_tokens")).first()[0]
        if bound is not None and bound <= k:
            # no doc can exceed sketch_k shingles: the full shingle
            # array IS bounded by k, so join it raw — one exact pass,
            # no extra branches, and no per-row array_sort for a
            # sketch that would equal the full set anyway
            fa = sigs.select(F.col("url").alias("url_a"),
                             F.col("shingles").alias("sh_a"))
            fb = sigs.select(F.col("url").alias("url_b"),
                             F.col("shingles").alias("sh_b"))
            finter = F.size(F.array_intersect("sh_a", "sh_b"))
            funion = F.size("sh_a") + F.size("sh_b") - finter
            return (pairs.join(fa, "url_a").join(fb, "url_b")
                    .withColumn("jaccard",
                                F.when(funion == 0, F.lit(1.0))
                                 .otherwise(finter / funion))
                    .filter(F.col("jaccard") >= threshold)
                    .select("url_a", "url_b", "jaccard"))
    a = sigs.select(F.col("url").alias("url_a"),
                    _sketch("shingles", k).alias("sk_a"),
                    F.col("n_shingles").alias("n_a"))
    b = sigs.select(F.col("url").alias("url_b"),
                    _sketch("shingles", k).alias("sk_b"),
                    F.col("n_shingles").alias("n_b"))
    inter = F.size(F.array_intersect("sk_a", "sk_b"))
    union = F.col("n_a") + F.col("n_b") - inter
    j_exact = F.when(union == 0, F.lit(1.0)).otherwise(inter / union)

    # truncated estimate: |bottomk(A∪B) ∩ skA ∩ skB| / k — the union
    # has > k elements (at least one side truncated); sketches are
    # sorted, the union re-sorted JVM-side under the same signed-int64
    # order. Unbiased also for mixed pairs: a small doc's sketch IS its
    # full set.
    union_bk = F.slice(F.array_sort(F.array_union("sk_a", "sk_b")), 1, k)
    j_est = (F.size(F.array_intersect(union_bk,
                                      F.array_intersect("sk_a", "sk_b")))
             / F.lit(float(k)))
    is_exact = (F.col("n_a") <= k) & (F.col("n_b") <= k)

    # plan shape: ONE pass of the pair join (same cost as the
    # full-array verify it replaces), projected down to a NARROW scored
    # table (urls + jaccard + flag) that is persisted — the
    # decided/borderline branches below fan out from the cached narrow
    # rows, never re-executing the join; the borderline re-verify joins
    # the full shingle arrays for just its (usually empty) pair set.
    scored = (pairs.join(a, "url_a").join(b, "url_b")
              .select("url_a", "url_b",
                      F.when(is_exact, j_exact).otherwise(j_est)
                       .alias("jaccard"),
                      is_exact.alias("_exact"))
              .persist())

    decided = (scored
               .filter(F.col("_exact")
                       | (F.abs(F.col("jaccard") - F.lit(threshold))
                          >= F.lit(band)))
               .filter(F.col("jaccard") >= threshold)
               .select("url_a", "url_b", "jaccard"))

    borderline = (scored
                  .filter(~F.col("_exact")
                          & (F.abs(F.col("jaccard") - F.lit(threshold))
                             < F.lit(band)))
                  .select("url_a", "url_b"))
    af = sigs.select(F.col("url").alias("url_a"),
                     F.col("shingles").alias("sh_a"))
    bf = sigs.select(F.col("url").alias("url_b"),
                     F.col("shingles").alias("sh_b"))
    binter = F.size(F.array_intersect("sh_a", "sh_b"))
    bunion = F.size("sh_a") + F.size("sh_b") - binter
    reverified = (borderline.join(af, "url_a").join(bf, "url_b")
                  .withColumn("jaccard",
                              F.when(bunion == 0, F.lit(1.0))
                               .otherwise(binter / bunion))
                  .filter(F.col("jaccard") >= threshold)
                  .select("url_a", "url_b", "jaccard"))
    # materialize the NARROW verified-edge union eagerly, then release
    # the persisted scored table — without this, every caller (and in
    # particular every streaming micro-batch) leaked one candidate-
    # pair-sized cached dataset for the life of the session. The
    # localCheckpoint blocks are bounded by the (much smaller) verified
    # edge set and are GC'd with the returned DataFrame; the batch
    # pipeline writes edges to the warehouse right after this anyway,
    # so their non-recomputability on executor loss is a non-issue.
    out = decided.unionByName(reverified).localCheckpoint(eager=True)
    scored.unpersist()
    return out


# --- band-parameter tuning (pure math, no Spark) -----------------------------

def lsh_candidate_prob(j: float, bands: int, rows: int) -> float:
    """P(some band collides | true Jaccard j) = 1 − (1 − j^rows)^bands
    — the MMDS ch.3 s-curve of a (bands × rows) MinHash LSH."""
    return 1.0 - (1.0 - j ** rows) ** bands


def lsh_miss_mass(threshold: float, bands: int, rows: int,
                  resolution: int = 2000) -> float:
    """∫_threshold^1 [1 − P(candidate | j)] dj — the expected
    false-negative mass of the s-curve over a uniform true-pair prior
    above the threshold. The north rule's recall ≥ 0.99 contract means
    this (normalized by 1 − threshold) must stay ≪ 0.01."""
    lo = int(threshold * resolution)
    return sum(1.0 - lsh_candidate_prob((i + 0.5) / resolution,
                                        bands, rows)
               for i in range(lo, resolution)) / resolution


def tune_lsh_bands(threshold: float, num_perm: int = 128,
                   recall_floor: float = 0.999,
                   resolution: int = 2000) -> tuple[int, int]:
    """→ (bands, rows): the divisor split of ``num_perm`` with the
    LOWEST false-positive mass among splits whose normalized
    false-negative mass is ≤ ``1 − recall_floor`` (numeric s-curve
    integration over a uniform true-Jaccard prior above the
    threshold). If no split reaches the floor, the max-recall split
    wins — recall is the contract, candidate volume is just cost.

    The floor defaults one nine above the north rule's ≥ 0.99 so
    thin uniform-prior margins don't ride the contract boundary (real
    corpora concentrate true pairs just above the threshold, where the
    s-curve is weakest). At the engine's pinned config this reproduces
    the shipped choice: tune_lsh_bands(0.8, 128) = (32, 4), whose
    normalized miss mass is ≈ 2e-9 (the "~1-5e-8 miss" argument used
    by q_cc_clusters' oracle-equality contract). The s-curve algebra
    is standard — Leskovec/Rajaraman/Ullman, "Mining of Massive
    Datasets" §3.4; datasketch's MinHashLSH ships the same style of
    parameter search (independent implementation).
    """
    if not 0.0 < threshold < 1.0:
        raise ValueError(f"threshold must be in (0, 1), got {threshold}")
    budget = 1.0 - recall_floor
    best_feasible = None
    best_recall = None
    for bands in range(1, num_perm + 1):
        if num_perm % bands:
            continue
        rows = num_perm // bands
        cut = int(threshold * resolution)
        fp = sum(lsh_candidate_prob((i + 0.5) / resolution, bands, rows)
                 for i in range(cut)) / resolution
        miss = lsh_miss_mass(threshold, bands, rows, resolution) \
            / (1.0 - threshold)
        if miss <= budget and (best_feasible is None
                               or fp < best_feasible[0]):
            best_feasible = (fp, bands, rows)
        if best_recall is None or miss < best_recall[0]:
            best_recall = (miss, bands, rows)
    pick = best_feasible or best_recall
    return pick[1], pick[2]
