"""PageRank vs numpy power-iteration oracle — allclose 1e-6 (north rule)."""

import math

import pytest

from hoover_spark.operators.pagerank import pagerank
from hoover_spark.sources.synthetic import (
    cycle_graph,
    edges_to_pairs,
    path_graph,
    rmat_graph,
    star_graph,
    two_cliques,
)
from tests.oracles import pagerank_oracle

TOL = 1e-6


def ranks_of(df):
    return {r["vid"]: r["rank"] for r in df.collect()}


def assert_close(got, want, tol=2e-6):
    assert got.keys() == want.keys()
    for v in got:
        assert math.isclose(got[v], want[v], abs_tol=tol), (v, got[v], want[v])


def test_cycle_uniform(spark):
    """Directed cycle: stationary distribution is exactly uniform."""
    n = 12
    got = ranks_of(pagerank(cycle_graph(spark, n), tol=TOL))
    for v, r in got.items():
        assert math.isclose(r, 1.0 / n, abs_tol=1e-9)


def test_path_matches_oracle(spark):
    g = path_graph(spark, 10)
    assert_close(
        ranks_of(pagerank(g, tol=TOL)), pagerank_oracle(edges_to_pairs(g), tol=TOL)
    )


def test_star_matches_oracle_salted_and_not(spark):
    g = star_graph(spark, 40)
    want = pagerank_oracle(edges_to_pairs(g), tol=TOL)
    assert_close(ranks_of(pagerank(g, tol=TOL)), want)
    salted = ranks_of(pagerank(g, tol=TOL, salt_buckets=8))
    assert_close(salted, want)


def test_rmat_matches_oracle(spark):
    g = rmat_graph(spark, scale=7, edge_factor=4)
    got = ranks_of(pagerank(g, tol=TOL))
    want = pagerank_oracle(edges_to_pairs(g), tol=TOL)
    assert_close(got, want)
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-6)


def test_bounded_iterations_exact_count(spark):
    g = two_cliques(spark, 4, bridge=True)
    got = ranks_of(pagerank(g, n_iterations=3))
    want = pagerank_oracle(edges_to_pairs(g), n_iter=3)
    assert_close(got, want, tol=1e-12)


def test_dangling_mass_conserved(spark):
    """Star graph leaves are dangling (no out-edges in directed view):
    total rank must still sum to 1."""
    g = star_graph(spark, 25)
    got = ranks_of(pagerank(g, tol=TOL))
    assert math.isclose(sum(got.values()), 1.0, abs_tol=1e-9)


def test_checkpoint_resume(spark, tmp_path):
    from hoover_spark.plans.iteration import IterationLoop

    g = rmat_graph(spark, scale=6, edge_factor=4)
    want = ranks_of(pagerank(g, tol=TOL))

    d = str(tmp_path / "ck")
    loop = IterationLoop(spark, "pagerank", checkpoint_dir=d, checkpoint_every=1, max_iterations=3)
    pagerank(g, loop=loop)
    loop2 = IterationLoop(spark, "pagerank", checkpoint_dir=d, checkpoint_every=5, max_iterations=100)
    got = ranks_of(pagerank(g, loop=loop2, resume=True, tol=TOL))
    assert_close(got, want)

