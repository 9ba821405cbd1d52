"""Personalized PageRank, k-truss, and TF-IDF vs exact python/DuckDB
oracles."""

import duckdb
import pytest

from pyspark.sql import functions as F

from hoover_spark.functions.text import tf_idf_top_terms, tf_idf_top_terms_sql
from hoover_spark.operators.graph import Graph
from hoover_spark.operators.ktruss import ktruss
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.sources.synthetic import (
    clique_graph,
    edges_to_pairs,
    path_graph,
    rmat_graph,
    star_graph,
)
from tests.oracles import ktruss_oracle, ppr_oracle


# ---------------------------------------------------------------------------
# personalized PageRank
# ---------------------------------------------------------------------------

def _ppr_spark(spark, g, seeds, iters):
    sdf = spark.createDataFrame([(v,) for v in sorted(seeds)], schema="vid long")
    got = pagerank(g, seeds=sdf, n_iterations=iters).collect()
    return {r["vid"]: r["rank"] for r in got}


def test_ppr_matches_oracle_iteration_trace(spark):
    g = rmat_graph(spark, scale=6, edge_factor=4)
    pairs = edges_to_pairs(g)
    verts = sorted({v for e in pairs for v in e})
    seeds = set(verts[::7])
    for iters in (1, 3):
        got = _ppr_spark(spark, g, seeds, iters)
        want = ppr_oracle(pairs, seeds, n_iterations=iters)
        assert set(got) == set(want)
        for v in got:
            assert got[v] == pytest.approx(want[v], abs=1e-12), f"iters={iters}"


def test_ppr_mass_conserved_and_seed_localized(spark):
    """Rank mass stays 1 every iteration (restart + dangling both
    re-enter at seeds), and a star's far side gets mass only via the
    walk — an unreachable isolated vertex keeps exactly 0."""
    g = star_graph(spark, 6)
    pairs = edges_to_pairs(g)
    hub = {d for _, d in pairs} - {s for s, _ in pairs}  # star direction probe
    seeds = {min(v for e in pairs for v in e)}
    got = _ppr_spark(spark, g, seeds, 4)
    assert sum(got.values()) == pytest.approx(1.0, abs=1e-12)
    want = ppr_oracle(pairs, seeds, n_iterations=4)
    for v in got:
        assert got[v] == pytest.approx(want[v], abs=1e-12)
    assert hub is not None  # direction probe only


def test_ppr_all_vertex_seeds_equals_pagerank(spark):
    """Seeding every vertex makes the restart distribution uniform, so
    the seeded step is the uniform step round for round."""
    g = rmat_graph(spark, scale=6, edge_factor=4)
    verts = {r["vid"] for r in g.vertices().collect()}
    for iters in (1, 3):
        got = _ppr_spark(spark, g, verts, iters)
        want = {r["vid"]: r["rank"] for r in pagerank(g, n_iterations=iters).collect()}
        assert set(got) == set(want)
        for v in got:
            assert got[v] == pytest.approx(want[v], abs=1e-12), f"iters={iters}"


def test_ppr_empty_seeds_raises(spark):
    g = path_graph(spark, 4)
    empty = g.vertices().where(F.lit(False))
    with pytest.raises(ValueError):
        pagerank(g, seeds=empty, n_iterations=1)


# ---------------------------------------------------------------------------
# k-truss
# ---------------------------------------------------------------------------

def _truss_spark(g, k):
    return {
        (r["src"], r["dst"]): r["support"] for r in ktruss(g, k=k).collect()
    }


def test_ktruss_clique_exact(spark):
    """K_6: every edge supports k-2=4 common neighbors → the 6-truss is
    the whole clique; the 7-truss is empty."""
    g = clique_graph(spark, 6)
    got = _truss_spark(g, 6)
    assert set(got) == {(a, b) for a in range(6) for b in range(a + 1, 6)}
    assert all(s == 4 for s in got.values())
    assert _truss_spark(g, 7) == {}


def test_ktruss_cascade(spark):
    """A clique with a pendant triangle chain: the chain's triangles
    each share one edge with the next, so a 4-truss peel cascades down
    the chain edge by edge — multi-round fixpoint, matching the
    oracle."""
    k5 = clique_graph(spark, 5).edges
    # chain of triangles hanging off vertex 4: (4,5,6), (5,6,7), (6,7,8)
    chain = k5.sparkSession.createDataFrame(
        [(4, 5), (4, 6), (5, 6), (5, 7), (6, 7), (6, 8), (7, 8)],
        schema="src long, dst long",
    )
    g = Graph(k5.unionByName(chain), num_partitions=4)
    pairs = edges_to_pairs(g)
    for k in (3, 4, 5):
        assert _truss_spark(g, k) == ktruss_oracle(pairs, k), f"k={k}"


def test_ktruss_matches_oracle_rmat(spark):
    g = rmat_graph(spark, scale=6, edge_factor=8)
    pairs = edges_to_pairs(g)
    for k in (3, 4):
        assert _truss_spark(g, k) == ktruss_oracle(pairs, k), f"k={k}"


def test_ktruss_k_below_3_rejected(spark):
    with pytest.raises(ValueError):
        ktruss(path_graph(spark, 3), k=2)


# ---------------------------------------------------------------------------
# TF-IDF
# ---------------------------------------------------------------------------

def test_tfidf_handcrafted(spark):
    """3 docs, hand-computable: 'spark' appears in 1/3 docs → idf ln(3);
    'the' in all 3 → idf 0 and never ranks above a positive score."""
    import math

    docs = spark.createDataFrame(
        [
            (1, "the spark engine the engine"),
            (2, "the graph engine"),
            (3, "the graph, The GRAPH!"),
        ],
        schema="doc_id long, text string",
    )
    got = {
        (r["id"], r["term"]): (r["score"], r["rank"])
        for r in tf_idf_top_terms(docs, "doc_id", "text", top_k=3).collect()
    }
    ln = math.log
    # doc 1: spark tf=1 idf=ln(3)≈1.099 outranks engine tf=2 idf=ln(3/2)
    # (2·0.405≈0.811); the tf=2 idf=0
    assert got[(1, "spark")] == (pytest.approx(round(ln(3.0), 6)), 1)
    assert got[(1, "engine")] == (pytest.approx(round(2 * ln(3 / 2), 6)), 2)
    assert got[(1, "the")] == (0.0, 3)
    # doc 3 'the graph, The GRAPH!': graph tf=2 (case-insensitive,
    # punctuation split), df=2 → idf ln(3/2)
    assert got[(3, "graph")] == (pytest.approx(round(2 * ln(3 / 2), 6)), 1)


def test_tfidf_matches_duckdb_twin(spark):
    """Spark and the shared DuckDB SQL twin agree exactly on a corpus
    with unicode, nulls, and empty strings."""
    rows = [
        (1, "alpha beta beta gamma"),
        (2, "beta gamma gamma délta"),  # unicode char splits the token
        (3, None),
        (4, ""),
        (5, "alpha ALPHA Alpha x9 9x"),
    ]
    docs = spark.createDataFrame(rows, schema="doc_id long, text string")
    got = sorted(
        tuple(r)
        for r in tf_idf_top_terms(docs, "doc_id", "text", top_k=3).collect()
    )
    con = duckdb.connect()
    con.register("documents_py", __import__("pandas").DataFrame(
        rows, columns=["doc_id", "text"]
    ))
    con.execute("CREATE VIEW documents AS SELECT * FROM documents_py")
    want = sorted(
        tuple(r)
        for r in con.execute(
            tf_idf_top_terms_sql("documents", "doc_id", "text", top_k=3)
        ).fetchall()
    )
    assert got == want
