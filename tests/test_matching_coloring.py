"""Luby maximal matching, greedy parallel coloring, and per-edge
Jaccard vs exact python round simulators + direct property asserts."""

from collections import defaultdict

from hoover_spark.operators.graph import graph_from_pairs
from hoover_spark.operators.matching import MATCH_P, luby_matching
from hoover_spark.operators.mis import MIS_P, greedy_coloring
from hoover_spark.operators.triangles import edge_jaccard
from hoover_spark.sources.synthetic import (
    edges_to_pairs,
    path_graph,
    rmat_graph,
    star_graph,
    two_cliques,
)


def _eprio(s: int, d: int) -> int:
    return ((s * 40503 + d) % MATCH_P * 40503 + 12345) % MATCH_P


def _vprio(v: int) -> int:
    return (v * 40503 + 12345) % MIS_P


def _canon(pairs):
    return {(min(s, d), max(s, d)) for s, d in pairs if s != d}


def _sym_adj(pairs):
    adj = defaultdict(set)
    for s, d in pairs:
        if s != d:
            adj[s].add(d)
            adj[d].add(s)
    return adj


def matching_oracle(pairs):
    """(src, dst) -> matching round, exact simulation of the kernel."""
    active = _canon(pairs)
    out = {}
    rnd = 0
    while active:
        rnd += 1
        winners = set()
        for e in active:
            k = (_eprio(*e), *e)
            if all(
                k < (_eprio(*f), *f)
                for f in active
                if f != e and set(f) & set(e)
            ):
                winners.add(e)
        matched_v = {v for e in winners for v in e}
        for e in winners:
            out[e] = rnd
        active = {e for e in active if not (set(e) & matched_v)}
    return out


def coloring_oracle(pairs, verts):
    """vid -> color (round of local-min win among uncolored nbrs)."""
    adj = _sym_adj(pairs)
    active = set(verts)
    out = {}
    rnd = 0
    while active:
        rnd += 1
        winners = {
            v
            for v in active
            if all(
                (_vprio(v), v) < (_vprio(w), w)
                for w in adj[v]
                if w in active
            )
        }
        for v in winners:
            out[v] = rnd
        active -= winners
    return out


def _verts(pairs):
    return {v for e in pairs for v in e}


def _check_matching(g, pairs):
    rows = {(r.src, r.dst): r.match_round for r in luby_matching(g).collect()}
    assert rows == matching_oracle(pairs)
    # matching: no two matched edges share an endpoint
    seen = set()
    for e in rows:
        assert not (set(e) & seen), e
        seen |= set(e)
    # maximal: every unmatched canonical edge touches a matched vertex
    for e in _canon(pairs) - set(rows):
        assert set(e) & seen, e


def _check_coloring(g, pairs):
    rows = {r.vid: r.color for r in greedy_coloring(g).collect()}
    assert rows == coloring_oracle(pairs, _verts(pairs))
    # proper: no symmetric edge joins two same-colored vertices
    for s, d in pairs:
        if s != d:
            assert rows[s] != rows[d], (s, d)
    assert all(c >= 1 for c in rows.values())


def test_matching_path(spark):
    g = path_graph(spark, 10)
    _check_matching(g, edges_to_pairs(g))


def test_matching_two_cliques(spark):
    g = two_cliques(spark, k=5, bridge=True)
    pairs = edges_to_pairs(g)
    _check_matching(g, pairs)


def test_matching_rmat(spark):
    g = rmat_graph(spark, scale=7, edge_factor=4)
    _check_matching(g, edges_to_pairs(g))


def test_matching_star(spark):
    # a star's matching is exactly one edge (all share the hub)
    g = star_graph(spark, 8)
    rows = luby_matching(g).collect()
    assert len(rows) == 1
    _check_matching(g, edges_to_pairs(g))


def test_coloring_path(spark):
    g = path_graph(spark, 12)
    _check_coloring(g, edges_to_pairs(g))


def test_coloring_two_cliques(spark):
    g = two_cliques(spark, k=4, bridge=True)
    pairs = edges_to_pairs(g)
    rows = {r.vid: r.color for r in greedy_coloring(g).collect()}
    # a k-clique needs exactly k colors
    assert len({rows[v] for v in range(4)}) == 4
    _check_coloring(g, pairs)


def test_coloring_rmat(spark):
    g = rmat_graph(spark, scale=7, edge_factor=4)
    _check_coloring(g, edges_to_pairs(g))


def jaccard_oracle(pairs):
    adj = _sym_adj(pairs)
    out = {}
    for u, v in _canon(pairs):
        common = len(adj[u] & adj[v])
        union = len(adj[u]) + len(adj[v]) - common
        out[(u, v)] = (common, union, common / union)
    return out


def _check_edge_jaccard(g):
    rows = {
        (r.src, r.dst): (r.common, r.union_size, r.jaccard)
        for r in edge_jaccard(g).collect()
    }
    ora = jaccard_oracle(edges_to_pairs(g))
    assert rows.keys() == ora.keys()
    for e, (c, u, j) in ora.items():
        rc, ru, rj = rows[e]
        assert (rc, ru) == (c, u), e
        assert abs(rj - j) < 1e-12, e
    return rows


def test_edge_jaccard_two_cliques(spark):
    rows = _check_edge_jaccard(two_cliques(spark, k=4, bridge=True))
    # clique-internal edges beat the bridge
    bridge = [e for e in rows if rows[e][0] == 0]
    assert bridge and all(rows[e][2] == 0.0 for e in bridge)
    # skewed input: hub edges exercise the degree orientation
    _check_edge_jaccard(rmat_graph(spark, scale=6))


def test_edge_jaccard_rmat(spark):
    g = rmat_graph(spark, scale=7, edge_factor=4)
    pairs = edges_to_pairs(g)
    rows = {
        (r.src, r.dst): (r.common, r.union_size, r.jaccard)
        for r in edge_jaccard(g).collect()
    }
    ora = jaccard_oracle(pairs)
    assert rows.keys() == ora.keys()
    for e in ora:
        assert rows[e][:2] == ora[e][:2], e
