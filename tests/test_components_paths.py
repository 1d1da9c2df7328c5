"""Connected components: driver union-find ≡ distributed star rounds.

``connected_components`` solves in-session edge sets within
``DRIVER_EDGE_BUDGET`` on the driver and larger ones with star rounds.
Each test forces one path by monkeypatching the budget and checks both
give the same rows and the same column types; the job-count guard pins
the small path's fixed cost."""

from __future__ import annotations

import itertools
import random

import pytest

from duplicate_finder_spark.operators import components as comp

#: budget value that sends every input down the named path; "over"
#: reaches the star rounds through a probe that does fetch edges
PATHS = {"driver": 10 ** 9, "star": -1, "over": 10}


def _run(spark, monkeypatch, path, edges, schema="src string, dst string"):
    monkeypatch.setattr(comp, "DRIVER_EDGE_BUDGET", PATHS[path])
    out = comp.connected_components(spark.createDataFrame(edges, schema))
    return ({(r["url"], r["cluster_id"]) for r in out.collect()},
            [(f.name, f.dataType) for f in out.schema.fields])


def _oracle(edges) -> set:
    """(node, min node of its component) for every node of a non-loop
    edge, by plain set merging."""
    comps: list[set] = []
    for a, b in edges:
        if a == b:
            continue
        hit = [c for c in comps if a in c or b in c]
        merged = {a, b}.union(*hit)
        comps = [c for c in comps if not any(c is h for h in hit)]
        comps.append(merged)
    return {(n, min(c)) for c in comps for n in c}


def _random_graph(rng: random.Random, n: int) -> list[tuple[str, str]]:
    nodes = [f"n{i:04d}" for i in range(n)]
    edges = []
    for start in range(0, n, 10):
        group = nodes[start:start + rng.randint(2, 10)]
        kind = rng.choice(("chain", "clique", "star", "random"))
        if kind == "chain":
            edges += list(zip(group, group[1:]))
        elif kind == "star":
            edges += [(group[-1], g) for g in group[:-1]]
        elif kind == "clique":
            edges += list(itertools.combinations(group, 2))
        else:
            edges += [(rng.choice(group), rng.choice(group))
                      for _ in range(len(group))]
    # a few bridges between groups, then shuffle order and orientation
    edges += [(rng.choice(nodes), rng.choice(nodes)) for _ in range(3)]
    rng.shuffle(edges)
    return [(b, a) if rng.random() < 0.5 else (a, b) for a, b in edges]


@pytest.mark.parametrize("seed", [0, 1])
def test_random_graphs_driver_matches_star(spark, monkeypatch, seed):
    edges = _random_graph(random.Random(seed), 80)
    driver = _run(spark, monkeypatch, "driver", edges)
    assert driver == _run(spark, monkeypatch, "star", edges)
    assert driver == _run(spark, monkeypatch, "over", edges)
    assert driver[0] == _oracle(edges)


DEGENERATE = {
    "self_loops_only": [("a", "a"), ("b", "b")],
    "duplicate_edges": [("b", "a"), ("a", "b"), ("a", "b"), ("c", "b"),
                        ("x", "y"), ("y", "x"), ("z", "z")],
    "empty": [],
    "long_chain": [(f"c{i:03d}", f"c{i + 1:03d}") for i in range(40)][::-1],
}


@pytest.mark.parametrize("name", sorted(DEGENERATE))
def test_degenerate_graphs_driver_matches_star(spark, monkeypatch, name):
    edges = DEGENERATE[name]
    driver = _run(spark, monkeypatch, "driver", edges)
    assert driver == _run(spark, monkeypatch, "star", edges)
    assert driver[0] == _oracle(edges)


def test_integer_node_ids_keep_their_type(spark, monkeypatch):
    """Integer ids (semantic dedup's vec_id) come back as integers,
    ordered numerically: 10 > 9, unlike their strings."""
    edges = [(10, 9), (9, 100), (7, 3), (3, 3), (42, 42)]
    driver = _run(spark, monkeypatch, "driver", edges,
                  "src long, dst long")
    assert driver == _run(spark, monkeypatch, "star", edges,
                          "src long, dst long")
    assert driver[0] == {(9, 9), (10, 9), (100, 9), (3, 3), (7, 3)}
    assert {t.typeName() for _, t in driver[1]} == {"long"}


def test_small_graph_launches_at_most_two_jobs(spark, count_jobs):
    """Under the budget the whole operator is the bounded collect: a
    later change that brings back per-round jobs fails here."""
    edges = spark.createDataFrame(_random_graph(random.Random(7), 120),
                                  "src string, dst string")
    out = []
    n = count_jobs(lambda: out.append(comp.connected_components(edges)))
    assert n <= 2
    assert out[0].count() > 0
