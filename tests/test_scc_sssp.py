"""SCC (coloring algorithm) and weighted SSSP (frontier Bellman–Ford)
vs exact python oracles."""

import heapq
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from hoover_spark.operators.graph import Graph, graph_from_pairs
from hoover_spark.operators.paths import sssp
from hoover_spark.operators.scc import scc
from hoover_spark.sources.synthetic import rmat_graph, edges_to_pairs


def scc_oracle(pairs):
    """vid -> min vid of its SCC, iterative Kosaraju over the directed
    edge pairs (self-loops define their endpoint as a vertex)."""
    adj = defaultdict(list)
    radj = defaultdict(list)
    verts = set()
    for s, d in pairs:
        verts.update((s, d))
        if s != d:
            adj[s].append(d)
            radj[d].append(s)
    visited, order = set(), []
    for v0 in verts:
        if v0 in visited:
            continue
        stack = [(v0, iter(adj[v0]))]
        visited.add(v0)
        while stack:
            v, it = stack[-1]
            advanced = False
            for w in it:
                if w not in visited:
                    visited.add(w)
                    stack.append((w, iter(adj[w])))
                    advanced = True
                    break
            if not advanced:
                order.append(v)
                stack.pop()
    comp = {}
    for v0 in reversed(order):
        if v0 in comp:
            continue
        comp[v0] = v0
        st = [v0]
        while st:
            v = st.pop()
            for w in radj[v]:
                if w not in comp:
                    comp[w] = v0
                    st.append(w)
    mins = {}
    for v, c in comp.items():
        mins[c] = min(mins.get(c, v), v)
    return {v: mins[c] for v, c in comp.items()}


def dijkstra_oracle(weighted, seeds):
    """vid -> shortest dist over directed weighted edges from seed set."""
    adj = defaultdict(list)
    for s, d, w in weighted:
        adj[s].append((d, w))
    dist = {s: 0 for s in seeds}
    pq = [(0, s) for s in seeds]
    heapq.heapify(pq)
    while pq:
        dd, v = heapq.heappop(pq)
        if dd > dist.get(v, 1 << 62):
            continue
        for w, c in adj[v]:
            nd = dd + c
            if nd < dist.get(w, 1 << 62):
                dist[w] = nd
                heapq.heappush(pq, (nd, w))
    return dist


def run_scc(spark, pairs):
    g = graph_from_pairs(spark, pairs)
    return {r["vid"]: r["label"] for r in scc(g).collect()}


def test_scc_two_cycles_one_way_bridge(spark):
    """Two 3-cycles joined by a one-way edge: two SCCs, not one."""
    pairs = [(0, 1), (1, 2), (2, 0), (10, 11), (11, 12), (12, 10), (2, 10)]
    got = run_scc(spark, pairs)
    assert got == {0: 0, 1: 0, 2: 0, 10: 10, 11: 10, 12: 10}


def test_scc_dag_is_all_singletons(spark):
    """A DAG has only singleton SCCs — and exercises multi-round
    peeling (each coloring round settles the then-minimal sources)."""
    pairs = [(0, 1), (0, 2), (1, 3), (2, 3), (3, 4)]
    got = run_scc(spark, pairs)
    assert got == {v: v for v in range(5)}


def test_scc_directed_ring_single_component(spark):
    pairs = [(i, (i + 1) % 7) for i in range(7)]
    got = run_scc(spark, pairs)
    assert got == {v: 0 for v in range(7)}


def test_scc_self_loop_only_vertex_is_singleton(spark):
    """A vertex whose only incidence is a self-loop still appears,
    as its own SCC (vertices() keeps it; clean_edges() drops the loop)."""
    pairs = [(0, 1), (1, 0), (5, 5)]
    got = run_scc(spark, pairs)
    assert got == {0: 0, 1: 0, 5: 5}


def test_scc_antiparallel_pair_vs_one_way(spark):
    """u⇄v is one SCC; u→w alone is not."""
    pairs = [(3, 4), (4, 3), (3, 8)]
    got = run_scc(spark, pairs)
    assert got == {3: 3, 4: 3, 8: 8}


def test_scc_rmat_matches_kosaraju(spark):
    """Directed RMAT graph (NOT symmetrized): the coloring algorithm
    agrees with Kosaraju on every vertex."""
    g = rmat_graph(spark, scale=7, edge_factor=4)
    pairs = edges_to_pairs(g)
    got = {r["vid"]: r["label"] for r in scc(Graph(g.edges)).collect()}
    assert got == scc_oracle(pairs)


def test_scc_empty_graph(spark):
    g = Graph(spark.createDataFrame([], "src long, dst long"))
    assert scc(g).count() == 0


def test_sssp_line_with_weights(spark):
    """0 →(5) 1 →(1) 2, plus shortcut 0 →(3) 2: dist(2)=3 via shortcut."""
    pairs = [(0, 1), (1, 2), (0, 2)]
    w = {(0, 1): 5, (1, 2): 1, (0, 2): 3}
    g = graph_from_pairs(spark, pairs)
    weight = (
        F.when((F.col("src") == 0) & (F.col("dst") == 1), 5)
        .when((F.col("src") == 1) & (F.col("dst") == 2), 1)
        .otherwise(3)
    )
    seeds = spark.createDataFrame([(0,)], "vid long")
    got = {r["vid"]: r["dist"] for r in sssp(g, seeds, weight=weight).collect()}
    assert got == {0: 0, 1: 5, 2: 3}


def test_sssp_revisits_settled_vertex(spark):
    """A longer-hop but cheaper path must overwrite an earlier greedy
    distance: 0→1→2→3 all weight 1 beats 0→3 weight 10."""
    pairs = [(0, 3), (0, 1), (1, 2), (2, 3)]
    weight = F.when((F.col("src") == 0) & (F.col("dst") == 3), 10).otherwise(1)
    g = graph_from_pairs(spark, pairs)
    seeds = spark.createDataFrame([(0,)], "vid long")
    got = {r["vid"]: r["dist"] for r in sssp(g, seeds, weight=weight).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 3: 3}


def test_sssp_unreachable_absent_multi_seed(spark):
    """Only vertices reachable from SOME seed appear; dist is the min
    over seeds. Directed: 9→0 gives 9 no in-path."""
    pairs = [(0, 1), (1, 2), (9, 0), (5, 6)]
    g = graph_from_pairs(spark, pairs)
    seeds = spark.createDataFrame([(0,), (5,)], "vid long")
    got = {r["vid"]: r["dist"] for r in sssp(g, seeds).collect()}
    assert got == {0: 0, 1: 1, 2: 2, 5: 0, 6: 1}


def test_sssp_rmat_matches_dijkstra(spark):
    """Deterministic integer weights w = 1+(src+dst)%5 on a directed
    RMAT graph, multi-seed — exact agreement with Dijkstra."""
    g = rmat_graph(spark, scale=7, edge_factor=4)
    pairs = sorted(set(edges_to_pairs(g)))
    pairs = [(s, d) for s, d in pairs if s != d]
    weighted = [(s, d, 1 + (s + d) % 5) for s, d in pairs]
    seeds_py = sorted({v for e in pairs for v in e if v % 31 == 0})
    seeds = spark.createDataFrame([(v,) for v in seeds_py], "vid long")
    w = F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5))
    got = {
        r["vid"]: r["dist"]
        for r in sssp(Graph(g.edges), seeds, weight=w).collect()
    }
    assert got == dijkstra_oracle(weighted, seeds_py)
