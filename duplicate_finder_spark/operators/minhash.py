"""MinHash signatures over word-k-shingles — the near-dup generalization
of the reference's per-file SHA-256 (utils.py:10-16): instead of one hash
that must match exactly, ``num_perm`` min-hashes that match proportionally
to shingle-set Jaccard (Broder 1997).

Division of labor (scale-first):
* tokenization + base 64-bit TOKEN hashing run JVM-side — a single
  codegen'd pass (``transform(tokens, t -> xxhash64(t))``; the lambda uses
  only its argument, so nothing is re-evaluated per element — a captured
  outer expression inside a higher-order-function lambda is re-executed
  per element, which made expression-level shingling O(n²) per doc);
* shingle formation + the ``num_perm`` permutations run in ONE
  Arrow-batched pandas UDF using numpy uint64 arithmetic: a k-gram shingle
  hash is a position-weighted mix of k consecutive token hashes (linear,
  vectorized), the signature is min((a_i * shingle + b_i) mod 2^64) —
  no per-row Python string work (BASELINE.json input_hint).

The ``shingles`` column (distinct shingle hashes) is retained for the
exact-Jaccard verify stage; Jaccard over 64-bit shingle hashes equals
Jaccard over the shingle strings up to negligible collision mass.

Why not a zero-Python, pure-JVM signature kernel? Measured (1M synthetic
pages, local[32], 2026-08-19): (a) 128 ``F.aggregate`` min-folds over the
shingle array = 129.7 s — higher-order functions are CodegenFallback, so
every element evaluates 128 interpreted xxhash64 expressions; (b)
``posexplode`` → ``groupBy(url).agg(128 × min(xxhash64(s, j)))`` did not
finish its first aggregate stage within 8 minutes — the explode multiplies
the exchange by the mean shingle count and the hash-agg keeps 128 longs of
partial state per group. The Arrow-batched numpy kernels (27 s OPH / 61 s
k-perm on the same input) beat both by 5-25×+, so the Python-worker hop is
the right trade here: numpy does ~128 × n_shingles uint64 mults per doc in
L1/L2, with one Arrow transfer of token hashes in and 128 longs out.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, LongType, StructField, StructType

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.functions.text import tokens
from duplicate_finder_spark.partitioning import fan_out

# fixed odd mixing constants for combining consecutive token hashes into a
# shingle hash (position-dependent so "a b" != "b a")
_POS_MIX_SEED = 0x9E3779B97F4A7C15


def _perm_params(num_perm: int, seed: int) -> tuple[np.ndarray, np.ndarray]:
    rng = np.random.RandomState(seed)
    # odd multipliers → bijective mod 2^64
    a = rng.randint(1, 1 << 62, size=num_perm, dtype=np.uint64) * 2 + 1
    b = rng.randint(0, 1 << 62, size=num_perm, dtype=np.uint64)
    return a, b


def _pos_weights(k: int) -> np.ndarray:
    # deterministic odd per-position multipliers
    rng = np.random.RandomState(k * 1000003 + 7)
    return rng.randint(1, 1 << 62, size=k, dtype=np.uint64) * 2 + 1


def shingle_hashes_np(tok_hashes: np.ndarray, k: int) -> np.ndarray:
    """Distinct k-gram shingle hashes from a token-hash vector (uint64).

    Shorter-than-k docs hash their whole token sequence as one shingle
    (mirrors functions/text.py::word_shingles semantics).
    """
    w = _pos_weights(k)
    n = len(tok_hashes)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    if n < k:
        # 1-element array ops: numpy array arithmetic wraps mod 2^64
        # silently (scalar ops would emit overflow warnings)
        acc = np.asarray([_POS_MIX_SEED], dtype=np.uint64)
        for i in range(n):
            acc = acc * w[i % k] + tok_hashes[i:i + 1]
        return acc
    m = n - k + 1
    acc = np.full(m, np.uint64(_POS_MIX_SEED), dtype=np.uint64)
    for j in range(k):
        acc = acc * w[j] + tok_hashes[j:j + m]
    return np.unique(acc)


# shingle-count budget per vectorized minhash block: bounds the
# (num_perm × total_shingles) uint64 scratch matrix to num_perm × 16Ki × 8B
# (16 MiB at 128 perms) regardless of Arrow batch size. Measured at 1M
# docs/local[32] (2026-08-19, interleaved best-of): 64Ki blocks (64 MiB
# scratch) walled 55-140 s vs 40-52 s at 16Ki and the 8→32-core stage
# efficiency moved 0.20→0.57 — with 32 Python workers each streaming a
# 64 MiB scratch matrix the shared memory bus saturates (this host's
# measured membw ceiling is 0.20-0.43), while 16 MiB keeps the reduce
# mostly in cache. 8Ki measured the same best wall but less stably;
# 4Ki starts paying per-block Python overhead.
_BLOCK_SHINGLES = 16384


def _minhash_block(sh_arrays: list[np.ndarray], a: np.ndarray,
                   b: np.ndarray) -> list[np.ndarray]:
    """Min-hash many shingle sets in few large numpy ops.

    Per-row 128×n matrix allocs dominate a naive loop (~1 ms/doc); here
    rows are packed into ≤``_BLOCK_SHINGLES``-wide blocks and reduced with
    one ``minimum.reduceat`` per block — the whole Arrow batch runs at
    numpy speed.
    """
    out: list[np.ndarray] = []
    i, n = 0, len(sh_arrays)
    while i < n:
        j, tot = i, 0
        while j < n and (tot == 0 or tot + len(sh_arrays[j])
                         <= _BLOCK_SHINGLES):
            tot += len(sh_arrays[j])
            j += 1
        concat = np.concatenate(sh_arrays[i:j])
        mixed = a[:, None] * concat[None, :] + b[:, None]
        bounds = np.cumsum([0] + [len(s) for s in sh_arrays[i:j]])[:-1]
        mins = np.minimum.reduceat(mixed, bounds, axis=1)
        out.extend(np.ascontiguousarray(mins[:, c]) for c in range(j - i))
        i = j
    return out


# --- one-permutation hashing (OPH) -------------------------------------------
# Li/Owen/Zhang 2012 "One Permutation Hashing"; densification per
# Shrivastava/Li 2014 (ICML) "Improved Densification of One Permutation
# Hashing" — rotation fill with an offset term so empty-run borrows
# cannot manufacture false slot collisions. Public-algorithm citations
# only; implementation is original numpy.

_OPH_EMPTY_FILL_C = np.uint64(0xC2B2AE3D27D4EB4F)  # odd mix for borrow offset


def _oph_block(sh_arrays: list[np.ndarray], num_perm: int,
               seed: int) -> np.ndarray:
    """One-permutation min-hash signatures for a block of shingle sets.

    ONE remix multiply per shingle (instead of ``num_perm`` multiply-adds
    in `_minhash_block`): the remixed hash's top log2(num_perm) bits pick
    the bin, the full value competes for the bin minimum, and empty bins
    are densified by borrowing the nearest filled bin to the left
    (cyclic) plus ``distance * C`` so borrowed slots collide across docs
    only when the borrow distance AND source value both agree — the
    2014 "improved densification" scheme. Scatter-min is argsort +
    ``minimum.reduceat`` over (doc, bin) keys: O(n log n) total, no
    (num_perm x n) scratch matrix.

    Returns a (len(sh_arrays), num_perm) uint64 matrix. Every input
    array must be non-empty (caller filters blank docs).
    """
    m = num_perm
    if m & (m - 1):
        raise ValueError(f"OPH needs power-of-two num_perm, got {m}")
    p = m.bit_length() - 1
    d = len(sh_arrays)
    lens = np.fromiter((len(s) for s in sh_arrays), dtype=np.int64,
                       count=d)
    concat = np.concatenate(sh_arrays).astype(np.uint64, copy=False)
    rng = np.random.RandomState(seed ^ 0x0511)
    mult = np.uint64(int(rng.randint(1, 1 << 62, dtype=np.uint64)) * 2 + 1)
    add = np.uint64(int(rng.randint(0, 1 << 62, dtype=np.uint64)))
    vals = concat * mult + add          # uint64 wraps mod 2^64
    bins = (vals >> np.uint64(64 - p)).astype(np.int64)
    doc_of = np.repeat(np.arange(d, dtype=np.int64), lens)
    gkey = doc_of * m + bins
    order = np.argsort(gkey, kind="stable")
    gs, vs = gkey[order], vals[order]
    starts = np.flatnonzero(np.r_[True, gs[1:] != gs[:-1]])
    mins = np.minimum.reduceat(vs, starts)
    slots = np.zeros(d * m, dtype=np.uint64)
    filled = np.zeros(d * m, dtype=bool)
    slots[gs[starts]] = mins
    filled[gs[starts]] = True
    sig = slots.reshape(d, m)
    fill = filled.reshape(d, m)
    if fill.all():
        return sig
    # rotation densification: for each empty bin, the nearest filled bin
    # to its LEFT cyclically. Filled indices are increasing, so the
    # prefix running max of (col if filled else -1) IS the nearest
    # filled-to-the-left; positions before the first filled bin wrap to
    # the LAST filled bin (every doc has >=1 filled bin, so it resolves).
    col = np.arange(m, dtype=np.int64)
    idx = np.where(fill, col[None, :], np.int64(-1))
    run = np.maximum.accumulate(idx, axis=1)
    last = idx.max(axis=1, keepdims=True)
    run = np.where(run < 0, last, run)
    src = run
    dist = (col[None, :] + m - run) % m
    rows = np.arange(d)[:, None]
    borrowed = sig[rows, src] + dist.astype(np.uint64) * _OPH_EMPTY_FILL_C
    return np.where(fill, sig, borrowed)


def make_signature_udf(cfg: PipelineConfig):
    """Arrow UDF: array<long> token hashes → struct(shingles, minhash).

    ``cfg.sig_scheme`` picks the min-hash kernel: ``kperm`` runs
    ``num_perm`` permutations per shingle (`_minhash_block`), ``oph``
    one permutation plus densification (`_oph_block`, ~O(1) work per
    shingle). Shingles, output schema and the downstream contract are
    the same for both."""
    k, num_perm, seed = cfg.shingle_size, cfg.num_perm, cfg.seed
    if cfg.sig_scheme == "oph":
        def kernel(sh_arrays):
            return _oph_block(sh_arrays, num_perm, seed)
    else:
        a, b = _perm_params(num_perm, seed)

        def kernel(sh_arrays):
            return _minhash_block(sh_arrays, a, b)
    out_type = StructType([
        StructField("shingles", ArrayType(LongType())),
        StructField("minhash", ArrayType(LongType())),
    ])

    @F.pandas_udf(out_type)
    def signature(tok_hashes: pd.Series) -> pd.DataFrame:
        sh_out: list = []
        valid: list[np.ndarray] = []
        valid_pos: list[int] = []
        for i, row in enumerate(tok_hashes):
            if row is None or len(row) == 0:
                sh_out.append(None)
                continue
            toks = np.asarray(row, dtype=np.int64).view(np.uint64)
            sh = shingle_hashes_np(toks, k)
            sh_out.append(sh.view(np.int64))
            valid.append(sh)
            valid_pos.append(i)
        mh_out: list = [None] * len(sh_out)
        if valid:
            for pos, mins in zip(valid_pos, kernel(valid)):
                mh_out[pos] = mins.view(np.int64)
        return pd.DataFrame({"shingles": sh_out, "minhash": mh_out})

    return signature


def make_shingles_udf(k: int):
    """Arrow UDF: array<long> token hashes → array<long> distinct shingle
    hashes. Linear per row (numpy) — use instead of the O(n_tokens²)
    expression-level functions/text.py::word_shingles on anything but
    short rows."""
    @F.pandas_udf(ArrayType(LongType()))
    def shingles(tok_hashes: pd.Series) -> pd.Series:
        out = []
        for row in tok_hashes:
            if row is None or len(row) == 0:
                out.append(None)
                continue
            toks = np.asarray(row, dtype=np.int64).view(np.uint64)
            out.append(shingle_hashes_np(toks, k).view(np.int64))
        return pd.Series(out)

    return shingles


def shingle_sets(docs: DataFrame, k: int, id_col: str = "doc_id",
                 text_col: str = "text") -> DataFrame:
    """→ (id, sh: array<long>, n) distinct hashed word-k-shingles per doc
    (docs with zero tokens excluded)."""
    tok_hashes = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    sh = make_shingles_udf(k)
    # blank-doc filter as a predicate on the RAW text, not on
    # size(_th): the latter pushes below the fan-out exchange and
    # re-evaluates the whole interpreted tokenize+hash transform per
    # row in the (often single-split) scan stage. trim(text) != ''
    # is exactly equivalent (tokens() maps blank-trim to [] and any
    # non-blank trim splits to ≥ 1 token) and costs one trim.
    nonblank = F.col(text_col).isNotNull() & (F.trim(text_col) != "")
    return (fan_out(docs.filter(nonblank))
            .select(F.col(id_col).alias("id"), tok_hashes.alias("_th"))
            .select("id", sh("_th").alias("sh"))
            .withColumn("n", F.size("sh")))


#: the stored signature row, as ``signatures`` emits it and the
#: warehouse, the corpus store and the streaming store keep it. It holds
#: only what cannot be derived: verify builds its bottom-k sketch from
#: ``shingles`` at the pair join (operators/lsh.py::verify_pairs).
SIG_COLS = ["url", "shingles", "minhash", "n_shingles", "n_tokens"]


def signatures(pages: DataFrame, cfg: PipelineConfig,
               url_col: str = "url", text_col: str = "text") -> DataFrame:
    """→ (url, n_tokens, shingles, minhash, n_shingles): the ``SIG_COLS``.

    Rows with zero tokens (blank docs) are excluded — exact dedup owns
    those (operators/exact.py).

    No bottom-k sketch is stored: it is a function of ``shingles``, and
    the verify stage derives it at the pair join only when some doc can
    exceed ``cfg.sketch_k`` shingles.

    ``n_tokens`` is computed JVM-side BEFORE the signature UDF: a plan
    that selects only it prunes the UDF entirely, so the verify stage's
    "can any doc be truncated?" probe (max n_tokens, an upper bound on
    n_shingles) is a cheap codegen'd scan, not an Arrow pass.
    """
    tok_hashes = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    sig = make_signature_udf(cfg)
    # blank-doc filter on the RAW text (see shingle_sets): exactly
    # equivalent to size(_th) > 0, but pushable to the scan for the
    # cost of a trim instead of a second full interpreted
    # tokenize+hash evaluation per row below the fan-out exchange
    nonblank = F.col(text_col).isNotNull() & (F.trim(text_col) != "")
    return (fan_out(pages.filter(nonblank))
            .select(F.col(url_col).alias("url"),
                    tok_hashes.alias("_th"))
            .withColumn("n_tokens", F.size("_th"))
            .withColumn("_sig", sig("_th"))
            .select("url", "n_tokens",
                    F.col("_sig.shingles").alias("shingles"),
                    F.col("_sig.minhash").alias("minhash"))
            .withColumn("n_shingles", F.size("shingles")))
