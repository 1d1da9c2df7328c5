"""One-permutation hashing (OPH) signatures: kernel properties
(estimator accuracy, densification, determinism) and end-to-end parity
with the classic k-permutation path through LSH + verify.

The scheme is public: Li/Owen/Zhang 2012 "One Permutation Hashing"
(NIPS), densification per Shrivastava/Li 2014 (ICML). The engine offers
it as ``PipelineConfig(sig_scheme="oph")`` — same signature shape, same
banding and verify downstream, O(1) hash work per shingle instead of
O(num_perm).
"""

from __future__ import annotations

import numpy as np
import pytest

from duplicate_finder_spark.config import PipelineConfig
from duplicate_finder_spark.operators.lsh import candidate_pairs, verify_pairs
from duplicate_finder_spark.operators.minhash import _oph_block, signatures

CFG_OPH = PipelineConfig(num_perm=128, lsh_bands=32,
                         jaccard_threshold=0.8, sig_scheme="oph")
CFG_KPERM = PipelineConfig(num_perm=128, lsh_bands=32,
                           jaccard_threshold=0.8)


def _rand_set(rng, n):
    return np.unique(rng.randint(0, 2 ** 63, size=n).astype(np.uint64))


def test_identical_sets_identical_signatures():
    rng = np.random.RandomState(0)
    s = _rand_set(rng, 500)
    sig = _oph_block([s, s.copy()], 128, 42)
    assert (sig[0] == sig[1]).all()


def test_block_packing_invariance():
    """A doc's signature must not depend on what else shares its Arrow
    batch (batch boundaries are an execution detail, never semantics)."""
    rng = np.random.RandomState(1)
    docs = [_rand_set(rng, rng.randint(1, 300)) for _ in range(50)]
    packed = _oph_block(docs, 128, 42)
    for i in (0, 7, 49):
        solo = _oph_block([docs[i]], 128, 42)[0]
        assert (solo == packed[i]).all()


def test_estimator_tracks_jaccard():
    """Mean slot-agreement over many seeded pairs ≈ true Jaccard; the
    densification bias must stay ≪ the verify stage's decision band."""
    for target_j, n in [(0.9, 1000), (0.8, 1000), (0.5, 400)]:
        agree, truth = [], []
        for trial in range(60):
            rng = np.random.RandomState(trial)
            shared = int(round(2 * n * target_j / (1 + target_j)))
            pool = rng.randint(0, 2 ** 63, size=2 * n,
                               dtype=np.int64).astype(np.uint64)
            extra = n - shared
            a = np.unique(np.concatenate(
                [pool[:shared], pool[shared:shared + extra]]))
            b = np.unique(np.concatenate(
                [pool[:shared], pool[shared + extra:shared + 2 * extra]]))
            sig = _oph_block([a, b], 128, 42)
            agree.append((sig[0] == sig[1]).mean())
            truth.append(len(np.intersect1d(a, b))
                         / len(np.union1d(a, b)))
        bias = np.mean(agree) - np.mean(truth)
        assert abs(bias) < 0.02, (target_j, bias)


def test_densification_fills_every_slot():
    """Docs with fewer shingles than bins leave empty bins; rotation
    densification must fill all of them deterministically, and equal
    sets must still collide on every slot."""
    one = np.array([12345], dtype=np.uint64)
    other = np.array([99999], dtype=np.uint64)
    sig = _oph_block([one, one.copy(), other], 128, 42)
    assert (sig[0] == sig[1]).all()           # equal sets → equal sigs
    assert (sig[0] == sig[2]).mean() < 0.05   # disjoint sets → no lock-step
    # a second call is bit-identical (pure function of input + seed)
    again = _oph_block([one], 128, 42)[0]
    assert (again == sig[0]).all()


def test_oph_needs_power_of_two():
    with pytest.raises(ValueError):
        _oph_block([np.array([1], dtype=np.uint64)], 96, 42)
    with pytest.raises(ValueError):
        PipelineConfig(num_perm=96, lsh_bands=32, sig_scheme="oph")
    with pytest.raises(ValueError):
        PipelineConfig(sig_scheme="nope")


def test_oph_pipeline_matches_kperm_pipeline(spark, small_pages):
    """End-to-end parity on the fixture corpus: OPH signatures through
    the SAME banding + sketch-bounded exact verify must keep exactly
    the same verified pair set as the k-permutation path (the verify
    stage re-checks true Jaccard, so parity = equal recall)."""
    pages = small_pages[0].select("url", "text")
    out = {}
    for name, cfg in (("kperm", CFG_KPERM), ("oph", CFG_OPH)):
        sigs = signatures(pages, cfg).persist()
        pairs = verify_pairs(candidate_pairs(sigs, cfg), sigs,
                             cfg.jaccard_threshold, cfg)
        out[name] = {(r["url_a"], r["url_b"]) for r in pairs.collect()}
        sigs.unpersist()
    assert out["oph"] == out["kperm"]


def test_oph_signature_schema_matches(spark):
    """Drop-in contract: same columns, same shingle values (only the
    minhash slots differ), so every downstream consumer is unchanged."""
    df = spark.createDataFrame(
        [("a", " ".join(f"tok{i}" for i in range(50)))],
        "url string, text string")
    k = signatures(df, CFG_KPERM).collect()[0]
    o = signatures(df, CFG_OPH).collect()[0]
    assert sorted(k.asDict()) == sorted(o.asDict())
    assert k["shingles"] == o["shingles"]
    assert len(o["minhash"]) == 128


def test_densification_borrow_is_local():
    """Regression (r4): every empty bin must borrow from its NEAREST
    filled bin to the left (cyclically), not from one global bin. With
    a broken scan, two sparse near-identical sets (one extra element)
    mismatched on ~all borrowed slots and LSH banding lost the pair.
    Contract: a single-element difference in a sparse set corrupts only
    the differing bin plus the borrow run that sources it, so most
    bands still match exactly."""
    rng = np.random.RandomState(7)
    base = _rand_set(rng, 36)
    extra = np.unique(np.append(base, np.uint64(0xDEADBEEF12345678)))
    sig = _oph_block([base, extra], 128, 42)
    eq = sig[0] == sig[1]
    # nearest-left borrowing: corrupted slots form ONE contiguous cyclic
    # run (the differing bin + bins borrowing from it), so with ~36
    # filled bins the expected corruption is a handful of slots.
    assert eq.sum() >= 100, f"only {eq.sum()}/128 slots agree"
    bands = eq.reshape(32, 4).all(axis=1)
    assert bands.sum() >= 24, f"only {bands.sum()}/32 bands collide"
