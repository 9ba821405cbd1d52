"""Clique percolation vs the reference's golden community fixtures.

Direct ports of ``community_test_cases/4_vert_1_cliq.csv``,
``8_vert_2_cliq.csv``, ``8_vert_2_cliq_overlapping.csv``."""

from __future__ import annotations

from itertools import combinations

from hoover_spark.operators.communities import clique_percolation_communities, four_cliques
from hoover_spark.operators.graph import graph_from_pairs
from hoover_spark.sources.synthetic import edges_to_pairs, rmat_graph, two_cliques
from tests.oracles import four_cliques_oracle


def _clique_edges(vs):
    return list(combinations(vs, 2))


def test_four_cliques_single(spark):
    g = graph_from_pairs(spark, _clique_edges([0, 1, 2, 3]))
    rows = four_cliques(g).collect()
    assert len(rows) == 1
    assert sorted([rows[0]["a"], rows[0]["b"], rows[0]["c"], rows[0]["d"]]) == [0, 1, 2, 3]


def test_four_cliques_in_k5(spark):
    g = graph_from_pairs(spark, _clique_edges([0, 1, 2, 3, 4]))
    assert four_cliques(g).count() == 5  # C(5,4)

    # skewed input, where the degree orientation decides which corner
    # extends: each clique listed exactly once, none missed
    g = rmat_graph(spark, scale=6)
    rows = [tuple(sorted(r)) for r in four_cliques(g).collect()]
    want = four_cliques_oracle(edges_to_pairs(g))
    assert len(want) > 0
    assert len(rows) == len(set(rows))
    assert set(rows) == want


def test_two_disjoint_cliques_two_communities(spark):
    g = two_cliques(spark, k=4, bridge=False)
    res = {r["vid"]: r["community"] for r in clique_percolation_communities(g).collect()}
    assert set(res) == set(range(8))
    assert len({res[v] for v in range(4)}) == 1
    assert len({res[v] for v in range(4, 8)}) == 1
    assert res[0] != res[4]


def test_bridged_cliques_stay_separate(spark):
    # one bridge edge does not create a shared 4-clique → still 2
    # communities (clique percolation, not plain connectivity)
    g = two_cliques(spark, k=4, bridge=True)
    res = {r["vid"]: r["community"] for r in clique_percolation_communities(g).collect()}
    assert res[0] != res[4]


def test_overlapping_cliques_percolate(spark):
    # two 4-cliques sharing a triangle {2,3,4}: {0..4} ∪ {2,3,4,5} —
    # overlap 3 = K-1 ⇒ one community (the reference's
    # 8_vert_2_cliq_overlapping case collapsed to minimal form)
    edges = set(_clique_edges([1, 2, 3, 4])) | set(_clique_edges([2, 3, 4, 5]))
    g = graph_from_pairs(spark, sorted(edges))
    res = {r["vid"]: r["community"] for r in clique_percolation_communities(g).collect()}
    assert len(set(res.values())) == 1
    assert set(res) == {1, 2, 3, 4, 5}
