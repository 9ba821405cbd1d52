"""The invariant behind ``wcc``'s driver finish (phase two of the
``wcc_two_phase`` contract query, after the hash-min rounds of phase
one): after any round, every cross-label edge touches the frontier, and
the round's ``next_msgs`` counts the frontier's edges. Its end-to-end
labels are checked in ``test_wcc.py::test_driver_finish_matches_rounds_only``."""

from __future__ import annotations

from pyspark.sql import functions as F

from hoover_spark.operators.wcc import hash_min_rounds
from hoover_spark.plans.iteration import IterationLoop
from hoover_spark.sources.synthetic import path_graph, rmat_graph


def test_cross_label_edges_touch_frontier(spark):
    """After k = 1..3 rounds, with the adaptive jump on (it switches on
    from round 2 on graphs this small) and off: an edge whose endpoints'
    labels differ has an endpoint whose label dropped in round k, and
    ``next_msgs`` equals the frontier's symmetric out-edges."""
    for g in (rmat_graph(spark, scale=8, edge_factor=4), path_graph(spark, 40)):
        sym = g.sym_edges()
        edges = [(r["src"], r["dst"]) for r in sym.collect()]
        init = g.vertices().select("vid", F.col("vid").alias("label"))
        for pointer_jumping in (True, False):
            for k in (1, 2, 3):
                loop = IterationLoop(spark, kernel="wcc")
                state, _, stats = hash_min_rounds(
                    [sym], init, loop, g.num_partitions, rounds=k,
                    pointer_jumping=pointer_jumping,
                )
                rows = state.select("vid", "label", "_prev").collect()
                label = {r["vid"]: r["label"] for r in rows}
                front = {r["vid"] for r in rows if r["label"] < r["_prev"]}
                for s, d in edges:
                    assert label[s] == label[d] or s in front or d in front, (s, d)
                assert int(stats["next_msgs"] or 0) == sum(s in front for s, _ in edges)
