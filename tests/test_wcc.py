"""WCC correctness vs union-find oracle (exact, per north rule)."""

from hoover_spark.operators.label_prop import min_label_propagation
from hoover_spark.operators.wcc import hash_min_rounds, wcc
from hoover_spark.sources.synthetic import (
    cycle_graph,
    edges_to_pairs,
    path_graph,
    rmat_graph,
    star_graph,
    two_cliques,
)
from tests.oracles import union_find_components


def labels_of(df):
    return {r["vid"]: r["label"] for r in df.collect()}


def assert_matches_oracle(g):
    pairs = edges_to_pairs(g)
    got = labels_of(wcc(g))
    want = union_find_components(pairs)
    assert got == want


def test_path(spark):
    assert_matches_oracle(path_graph(spark, 33))


def test_cycle(spark):
    assert_matches_oracle(cycle_graph(spark, 17))


def test_star(spark):
    assert_matches_oracle(star_graph(spark, 50))


def test_two_cliques_disjoint(spark):
    g = two_cliques(spark, 4, bridge=False)
    got = labels_of(wcc(g))
    assert set(got.values()) == {0, 4}
    assert_matches_oracle(g)


def test_two_cliques_bridged(spark):
    g = two_cliques(spark, 4, bridge=True)
    got = labels_of(wcc(g))
    assert set(got.values()) == {0}


def test_rmat(spark):
    assert_matches_oracle(rmat_graph(spark, scale=8, edge_factor=4))


def test_long_path_converges_fast(spark):
    """The driver finish: a 200-vertex path must converge in far fewer
    than 200 iterations (hash-min alone needs one per hop)."""
    from hoover_spark.plans.iteration import IterationLoop

    g = path_graph(spark, 200)
    loop = IterationLoop(spark, kernel="wcc", max_iterations=50)
    got = labels_of(wcc(g, loop=loop))
    assert got == union_find_components(edges_to_pairs(g))
    assert len(loop.metrics) < 25


def test_no_pointer_jumping_matches(spark):
    g = two_cliques(spark, 4, bridge=True)
    got = labels_of(min_label_propagation(g, n_iterations=100))
    assert got == union_find_components(edges_to_pairs(g))


def test_checkpoint_resume(spark, tmp_path):
    """Run to iter K with checkpointing, then resume from disk and
    converge — final labels identical to a straight run."""
    g = rmat_graph(spark, scale=7, edge_factor=4)
    d = str(tmp_path / "ck")
    from hoover_spark.plans.iteration import IterationLoop

    # Straight run.
    want = labels_of(wcc(g))

    # Interrupted run: max_iterations=2, checkpoint every 1.
    loop = IterationLoop(spark, "wcc", checkpoint_dir=d, checkpoint_every=1, max_iterations=2)
    wcc(g, loop=loop)
    # Resume.
    loop2 = IterationLoop(spark, "wcc", checkpoint_dir=d, checkpoint_every=1, max_iterations=100)
    got = labels_of(wcc(g, loop=loop2, resume=True))
    assert got == want


def test_metrics_emitted(spark, tmp_path):
    import json
    import os

    g = two_cliques(spark, 4)
    d = str(tmp_path / "ck")
    from hoover_spark.plans.iteration import IterationLoop

    loop = IterationLoop(spark, "wcc", checkpoint_dir=d, checkpoint_every=1)
    wcc(g, loop=loop)
    path = os.path.join(d, "wcc", "metrics.jsonl")
    rows = [json.loads(l) for l in open(path)]
    assert rows, "metrics written"
    for r in rows:
        assert {"kernel", "iter", "rows_shuffled", "delta_norm", "frontier_size", "wall_ms", "npartitions"} <= set(r)
    assert rows[-1]["frontier_size"] == 0  # converged


def test_self_loop_only_vertex_survives_caching(spark):
    """A vertex whose only incidence is a self-loop must appear in
    vertices()/wcc() regardless of which derived edge view a kernel
    cached first (vertices always derives from the raw edge list)."""
    from hoover_spark.operators.graph import graph_from_pairs

    pairs = [(0, 1), (1, 2), (7, 7)]  # 7 has only a self-loop

    g1 = graph_from_pairs(spark, pairs)
    g1.sym_edges()  # cache the cleaned symmetric view FIRST
    assert {r["vid"] for r in g1.vertices().collect()} == {0, 1, 2, 7}
    assert labels_of(wcc(g1)) == {0: 0, 1: 0, 2: 0, 7: 7}

    g2 = graph_from_pairs(spark, pairs)  # no caching
    assert {r["vid"] for r in g2.vertices().collect()} == {0, 1, 2, 7}
    assert labels_of(wcc(g2)) == {0: 0, 1: 0, 2: 0, 7: 7}


def hash_min_labels(g):
    """Labels of :func:`hash_min_rounds` with the adaptive jump, run to
    convergence from ``label = vid`` over ``g``'s symmetric edges (no
    driver finish)."""
    from pyspark.sql import functions as F

    from hoover_spark.plans.iteration import IterationLoop

    loop = IterationLoop(g.edges.sparkSession, kernel="wcc")
    init = g.vertices().select("vid", F.col("vid").alias("label"))
    labels, _, stats = hash_min_rounds(
        g.sym_edge_views(), init, loop, g.num_partitions, rounds=100
    )
    assert int(stats["changed"] or 0) == 0
    return labels_of(labels.select("vid", "label"))


def test_adaptive_pointer_jumping_matches_pinned_modes(spark):
    """The adaptive jump must produce the exact labels on a long chain
    (jump pays to the end; checked against the union-find oracle rather
    than a 64-round no-jump run) and identical labels to the no-jump
    rounds of min-LP on a clique-ish graph (jump gain hits zero early
    and the self-join is dropped)."""
    chain = path_graph(spark, 65)
    want = union_find_components(edges_to_pairs(chain))
    assert hash_min_labels(chain) == want

    cliques = two_cliques(spark, k=5, bridge=True)
    want = labels_of(min_label_propagation(cliques, n_iterations=100))
    assert hash_min_labels(cliques) == want


def test_driver_finish_matches_rounds_only(spark, monkeypatch):
    """Ending the hash-min rounds in the driver union-find must give the
    identical labels as rounds only (``FINISH_PAIRS = -1``) and the
    union-find oracle, in no more rounds (strictly fewer on the
    hub-heavy RMAT-10 graph) — including a vertex whose only edge is a
    self-loop, which never reaches the symmetric edge set."""
    from hoover_spark.operators import wcc as wcc_module
    from hoover_spark.operators.graph import graph_from_pairs
    from hoover_spark.plans.iteration import IterationLoop

    hub_heavy = rmat_graph(spark, scale=10, edge_factor=4)
    graphs = (
        path_graph(spark, 64),
        path_graph(spark, 50),
        two_cliques(spark, k=4, bridge=False),
        rmat_graph(spark, scale=8, edge_factor=4),
        graph_from_pairs(spark, [(0, 1), (1, 2), (5, 5)]),
        hub_heavy,
    )
    for g in graphs:
        finish_loop = IterationLoop(g.edges.sparkSession, kernel="wcc")
        rounds_loop = IterationLoop(g.edges.sparkSession, kernel="wcc")
        finished = labels_of(wcc(g, loop=finish_loop))
        with monkeypatch.context() as m:
            m.setattr(wcc_module, "FINISH_PAIRS", -1)
            rounds_only = labels_of(wcc(g, loop=rounds_loop))
        # self-loop-only vertices are singleton components
        want = {r["vid"]: r["vid"] for r in g.vertices().collect()}
        want.update(union_find_components(edges_to_pairs(g)))
        assert finished == rounds_only == want
        if g is hub_heavy:
            assert len(finish_loop.metrics) < len(rounds_loop.metrics)
        else:
            assert len(finish_loop.metrics) <= len(rounds_loop.metrics)
