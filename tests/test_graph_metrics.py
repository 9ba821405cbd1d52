"""Local clustering coefficient, degree assortativity, and the
cross-document shared-n-gram fraction vs brute-force python oracles."""

import pytest

from hoover_spark.operators.dedup import dup_shingle_stats
from hoover_spark.operators.graph import Graph, degree_assortativity
from hoover_spark.operators.triangles import clustering_coefficient
from hoover_spark.sources.synthetic import (
    clique_graph,
    edges_to_pairs,
    path_graph,
    rmat_graph,
    star_graph,
)


def _adj(pairs):
    adj: dict[int, set[int]] = {}
    for s, d in pairs:
        if s == d:
            continue
        adj.setdefault(s, set()).add(d)
        adj.setdefault(d, set()).add(s)
    return adj


def lcc_oracle(pairs):
    """vid -> (degree, triangles, lcc) by brute-force neighbor pairs."""
    adj = _adj(pairs)
    out = {}
    for v, nbrs in adj.items():
        d = len(nbrs)
        ns = sorted(nbrs)
        t = sum(
            1
            for i in range(d)
            for j in range(i + 1, d)
            if ns[j] in adj[ns[i]]
        )
        out[v] = (d, t, (2.0 * t / (d * (d - 1))) if d >= 2 else 0.0)
    return out


def assortativity_oracle(pairs):
    """(m, r) — Pearson over endpoint degrees of the symmetric view."""
    adj = _adj(pairs)
    sym = [(u, v) for u in adj for v in adj[u]]
    m = len(sym)
    sx = sum(len(adj[u]) for u, _ in sym)
    sxy = sum(len(adj[u]) * len(adj[v]) for u, v in sym)
    sxx = sum(len(adj[u]) ** 2 for u, _ in sym)
    den = m * sxx - sx * sx
    return m, ((m * sxy - sx * sx) / den) if den else 0.0


def _check_lcc(spark, g):
    pairs = edges_to_pairs(g)
    got = {
        r["vid"]: (r["degree"], r["triangles"], r["lcc"])
        for r in clustering_coefficient(g).collect()
    }
    want = lcc_oracle(pairs)
    assert set(got) == set(want)
    for v in want:
        assert got[v][0] == want[v][0], f"degree vid={v}"
        assert got[v][1] == want[v][1], f"triangles vid={v}"
        assert got[v][2] == pytest.approx(want[v][2], abs=1e-12), f"lcc vid={v}"


def test_lcc_clique(spark):
    """Every vertex of a clique has lcc exactly 1.0."""
    g = clique_graph(spark, 5)
    rows = clustering_coefficient(g).collect()
    assert len(rows) == 5
    assert all(r["lcc"] == 1.0 and r["triangles"] == 6 for r in rows)


def test_lcc_star_and_path_zero(spark):
    """Triangle-free graphs: lcc 0.0 everywhere, including degree-1
    leaves (the denominator guard) and the high-degree hub."""
    for g in (star_graph(spark, 6), path_graph(spark, 5)):
        rows = clustering_coefficient(g).collect()
        assert all(r["lcc"] == 0.0 and r["triangles"] == 0 for r in rows)


def test_lcc_rmat_vs_oracle(spark):
    _check_lcc(spark, rmat_graph(spark, scale=6, edge_factor=4))


def test_assortativity_star_is_minus_one(spark):
    """A star is the maximally disassortative graph: r = −1 exactly
    (every edge joins the hub's degree n to a leaf's degree 1)."""
    m, r = assortativity_oracle(edges_to_pairs(star_graph(spark, 7)))
    row = degree_assortativity(star_graph(spark, 7)).collect()[0]
    assert row["m_edges"] == m == 14
    assert row["assortativity"] == pytest.approx(-1.0, abs=1e-12)
    assert r == pytest.approx(-1.0, abs=1e-12)


def test_assortativity_regular_graph_degenerate(spark):
    """A clique is degree-regular — zero degree variance — and the
    convention returns 0.0 instead of dividing by zero."""
    row = degree_assortativity(clique_graph(spark, 4)).collect()[0]
    assert row["assortativity"] == 0.0


def test_assortativity_rmat_vs_oracle(spark):
    g = rmat_graph(spark, scale=6, edge_factor=4)
    m, r = assortativity_oracle(edges_to_pairs(g))
    row = degree_assortativity(g).collect()[0]
    assert row["m_edges"] == m
    assert row["assortativity"] == pytest.approx(r, abs=1e-12)


def dup_fraction_oracle(docs, k):
    """id -> (n_codes, dup_codes, fraction) on per-doc python-loop
    shingle codes (the same mod-256 31-polynomial the engine hashes
    with — digits exceed the base, so distinct ASCII k-grams CAN
    collide and a raw-substring oracle would be wrong by design)."""

    def codes(t):
        cps = [ord(c) % 256 for c in t]
        if len(cps) < k:
            return set()
        return {
            sum(cps[p + j] * 31**j for j in range(k))
            for p in range(len(cps) - k + 1)
        }

    grams = {i: codes(t) for i, t in docs}
    out = {}
    for i, gs in grams.items():
        dup = sum(
            1 for g in gs if any(g in grams[j] for j in grams if j != i)
        )
        out[i] = (len(gs), dup, (dup / len(gs)) if gs else 0.0)
    return out


def test_dup_shingle_stats_vs_oracle(spark):
    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "a quick brown fox jumps over a sleepy cat"),
        (3, "completely unrelated text with zero overlap!"),
        (4, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (5, "tiny"),  # shorter than k -> 0/0/0.0
    ]
    df = spark.createDataFrame(docs, schema="doc_id long, text string")
    got = {
        r["id"]: (r["n_codes"], r["dup_codes"], r["dup_fraction"])
        for r in dup_shingle_stats(df, "doc_id", "text", k=9).collect()
    }
    want = dup_fraction_oracle(docs, 9)
    assert set(got) == set(want)
    for i in want:
        assert got[i][0] == want[i][0], f"n_codes id={i}"
        assert got[i][1] == want[i][1], f"dup_codes id={i}"
        assert got[i][2] == pytest.approx(want[i][2], abs=1e-12)
    # the exact-dup pair shares everything; the unrelated doc nothing
    assert got[1][2] == 1.0 and got[4][2] == 1.0
    assert got[3][2] == 0.0
    assert got[5] == (0, 0, 0.0)


def test_degree_quantiles_matches_numpy(spark):
    import numpy as np

    from hoover_spark.operators.graph import degree_quantiles
    from hoover_spark.sources.synthetic import rmat_graph

    g = rmat_graph(spark, scale=7, edge_factor=6)
    row = degree_quantiles(g).collect()[0]
    degs = np.array([r["degree"] for r in g.degrees().collect()])
    assert row["n_vertices"] == len(degs)
    assert row["max_degree"] == int(degs.max())
    for p in (25, 50, 75, 90, 99):
        want = round(float(np.percentile(degs, p)), 6)
        assert row[f"p{p}"] == pytest.approx(want, abs=2e-6), f"p{p}"


def _c4_oracle(pairs):
    import itertools

    adj = {}
    for s, d in pairs:
        if s != d:
            adj.setdefault(s, set()).add(d)
            adj.setdefault(d, set()).add(s)
    verts = sorted(adj)
    n = 0
    for u, x in itertools.combinations(verts, 2):
        w = len(adj[u] & adj[x])
        n += w * (w - 1) // 2
    assert n % 2 == 0
    return n // 2


def test_four_cycles_closed_forms(spark):
    from hoover_spark.operators.triangles import four_cycle_count
    from hoover_spark.sources.synthetic import (
        clique_graph,
        edges_to_pairs,
        path_graph,
        rmat_graph,
    )

    # K4 has 3 rectangles; a path has none; RMAT vs brute force
    assert four_cycle_count(clique_graph(spark, 4)).collect()[0][0] == 3
    assert four_cycle_count(path_graph(spark, 8)).collect()[0][0] == 0
    g = rmat_graph(spark, scale=6, edge_factor=4)
    want = _c4_oracle(edges_to_pairs(g))
    assert four_cycle_count(g).collect()[0][0] == want


def test_four_cycles_center_cap(spark):
    from hoover_spark.operators.graph import Graph
    from hoover_spark.operators.triangles import four_cycle_count

    # star + one rectangle: capping out the star hub keeps the pure
    # rectangle (whose centers have degree <= 2 after the cap filter)
    edges = [(0, i) for i in range(1, 8)] + [(10, 11), (11, 12), (12, 13), (13, 10)]
    g = Graph(spark.createDataFrame(edges, "src long, dst long"), num_partitions=2)
    full = four_cycle_count(g).collect()[0][0]
    capped = four_cycle_count(g, max_center_degree=3).collect()[0][0]
    assert full == 1 and capped == 1
    # the hub contributes wedge pairs but no C4; cap excluding it must
    # not change the count here, and never raises it
    assert capped <= full


def test_derived_views_read_persisted_edges(spark):
    """``canonical()`` and ``degrees()`` read the persisted edge views
    whatever was built first: on a fresh graph, and on one whose first
    read was ``sym_edges()``. Plans only — no Spark action."""
    from hoover_spark.operators.graph import graph_from_pairs

    pairs = [(0, 1), (1, 2), (2, 0), (2, 3), (3, 3)]
    fresh = graph_from_pairs(spark, pairs)
    sym_first = graph_from_pairs(spark, pairs)
    sym_first.sym_edges()
    for g in (fresh, sym_first):
        for df in (g.canonical(), g.degrees()):
            plan = df._jdf.queryExecution().optimizedPlan().toString()
            assert "InMemoryRelation" in plan
        g.unpersist()
