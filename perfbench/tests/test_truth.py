"""Labels and ground truth of the benchmark, on tiny corpora (no
Spark): the planted labels, the per-batch incremental truth, and the
recall / delete-precision arithmetic."""

from perfbench import gen, truth

THR = 0.8


def test_web_mix_labels_follow_the_generator_id_layout():
    ids = range(60, 100)
    rows = [(f"https://site{i % 997:03d}.example/p/{i:012d}", f"t{i}")
            for i in ids]
    labels = gen.web_mix_labels(rows)

    def url(i):
        return f"https://site{i % 997:03d}.example/p/{i:012d}"

    planted = {tuple(sorted(p)) for p in labels.planted}
    # unique 68 is the base of exact members 70, 71 (groups of 4)
    assert {(url(68), url(70)), (url(68), url(71)),
            (url(70), url(71))} <= planted
    # near pairs (84, 85): exact-slice base 84 and its mutant
    assert (url(84), url(85)) in planted
    assert (url(86), url(87)) in planted
    # boilerplate 95..99 is a star from its smallest url
    assert {(url(95), url(i)) for i in range(96, 100)} <= planted
    assert not any(url(60) in p for p in planted)


def test_incremental_truth_splits_pairs_by_arrival():
    def url(i):
        return f"https://site{i % 997:03d}.example/p/{i:012d}"

    # exact group 72..75 shares one text; 10 is unique
    same = "a b c d e f g h"
    store = [(url(72), same), (url(10), "p q r s t u")]
    b0 = [(url(73), same), (url(74), same), (url(10), "p q r s t u")]
    b1 = [(url(75), same)]
    out = gen.incremental_truth(
        store, [b0, b1], lambda planted, texts:
        truth.true_pairs(planted, texts, THR))
    assert out[0].urls == 3
    assert out[0].recrawls == {url(10)}
    assert sorted(out[0].store_pairs) == [(url(73), url(72)),
                                          (url(74), url(72))]
    assert out[0].batch_pairs == [(url(73), url(74))]
    # batch 1 meets the store and both pages batch 0 brought in
    assert sorted(out[1].store_pairs) == [(url(75), url(k))
                                          for k in (72, 73, 74)]
    assert out[1].batch_pairs == [] and out[1].recrawls == set()


def test_batch_scores_arithmetic():
    pairs = [("a", "b"), ("b", "c"), ("d", "e")]
    rows = [("a", "a", "keep"), ("b", "a", "delete"), ("c", "c", "keep"),
            ("d", "d", "keep"), ("e", "d", "delete"), ("x", "d", "delete")]
    s = truth.batch_scores(pairs, rows)
    # (b, c) split across clusters; x deleted without a true link
    assert s["dup_pair_recall"] == 2 / 3
    assert s["delete_precision"] == 2 / 3
    assert truth.batch_scores([], []) == {"dup_pair_recall": 1.0,
                                          "delete_precision": 1.0}


def test_incremental_scores_arithmetic():
    rows = [("n1", "s1", "delete", "dup_of_corpus"),
            ("n2", "n2", "keep", "unique"),
            ("r1", "r1", "delete", "dup_of_corpus"),
            ("t1", "t1", "keep", "cluster_rep"),
            ("t2", "t1", "delete", "dup_in_batch"),
            ("z", "z", "delete", "dup_in_batch")]
    s = truth.incremental_scores(
        store_pairs=[("n1", "s1"), ("n2", "s2")],
        batch_pairs=[("t1", "t2")], recrawls={"r1"}, rows=rows)
    # n2 missed: 3 of 4 recalled; z deleted without any planted pair
    assert s["dup_pair_recall"] == 3 / 4
    assert s["delete_precision"] == 3 / 4


def test_digest_ignores_row_order_only():
    rows = [("a", "a", "keep"), ("b", "a", "delete")]
    assert truth.digest(rows) == truth.digest(reversed(rows))
    assert truth.digest(rows) != truth.digest([("a", "a", "keep"),
                                               ("b", "b", "keep")])
