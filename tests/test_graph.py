"""Connected components: min-label propagation that contracts to
large-star/small-star — union-find labels, logarithmic rounds on
chains."""

import random

from demeton_spark import graph


def _cc(spark, nodes, edges, cc=graph.connected_components):
    """``cc`` (the public entry, or ``graph._cc_star`` on its own) over
    the given graph → ``({node: label}, rounds)``."""
    ndf = spark.createDataFrame([(n,) for n in nodes], "node long")
    edf = spark.createDataFrame(edges or [(0, 0)], "a long, b long")
    if not edges:
        edf = edf.where("a != a")  # empty edge frame with the schema
    out = cc(ndf, edf, "node", ("a", "b"))
    return {r["node"]: r["label"] for r in out.collect()}, graph.LAST_ROUNDS


def _expected(nodes, edges):
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    # resolve to component minimum
    comp = {}
    for n in nodes:
        comp.setdefault(find(n), []).append(n)
    return {n: min(comp[find(n)]) for n in nodes}


def test_star_matches_label_on_random_graphs(spark):
    rng = random.Random(9)
    for trial in range(3):
        nodes = list(range(40))
        edges = [
            (rng.randrange(40), rng.randrange(40)) for _ in range(25 + trial * 10)
        ]
        want = _expected(nodes, edges)
        got_star, _ = _cc(spark, nodes, edges, graph._cc_star)
        assert got_star == want


def test_star_beats_label_on_chain(spark):
    """A 1000-node chain has diameter 999: min-label would need
    O(diameter) rounds, large-star/small-star converges in O(log n)."""
    n = 1000
    nodes = list(range(n))
    edges = [(i, i + 1) for i in range(n - 1)]
    got_star, star_rounds = _cc(spark, nodes, edges, graph._cc_star)
    assert got_star == {i: 0 for i in range(n)}
    assert star_rounds <= 12  # ~log2(1000) + fixpoint confirmation


def test_star_isolated_nodes_self_label(spark):
    got, _ = _cc(spark, [5, 9, 11], [(9, 11)], graph._cc_star)
    assert got == {5: 5, 9: 9, 11: 11} | {11: 9}


def test_auto_bounded_rounds_on_chain(spark):
    """The default (auto) path must not pay O(diameter) rounds: after
    STAR_AFTER label rounds it contracts and finishes with
    alternating-star, so a 1000-node chain stays within
    STAR_AFTER + O(log n) total rounds and still labels correctly."""
    n = 1000
    nodes = list(range(n))
    edges = [(i, i + 1) for i in range(n - 1)]
    got, rounds = _cc(spark, nodes, edges)
    assert got == {i: 0 for i in range(n)}
    assert rounds <= 8 + 12  # STAR_AFTER + ~log2 rounds + confirmation


def test_auto_matches_label_on_random_graphs(spark):
    rng = random.Random(31)
    nodes = list(range(40))
    edges = [(rng.randrange(40), rng.randrange(40)) for _ in range(30)]
    want = _expected(nodes, edges)
    got, _ = _cc(spark, nodes, edges)
    assert got == want
