"""k-core decomposition by iterative peeling.

A k-core is the maximal subgraph in which every vertex has degree ≥ k
(Seidman 1983) — the standard coarse "importance shell" for link
graphs, and the usual pre-filter before the heavier clique/community
kernels the reference runs (``test/community_detection.cpp`` densifies
over a supergraph; peeling to the k-core is the scalable front gate
for exactly that family).

Spark-first plan per peel round (all JVM-side):

    deg   = sym_edges ⋈ alive(src) ⋈ alive(dst) → groupBy(src) COUNT
    alive = deg ≥ k

The symmetric edge table is the big side and keeps the Graph's
partitioning; the alive set is a shrinking per-vertex side (AQE
broadcasts it once it fits — the same shape as WCC's frontier).
Convergence = the alive count stops changing; the fixpoint round's
degree IS the in-core degree, so the result carries it for free.
One Spark job per round (stats via Observation on the checkpoint
action, the ``hold_observed`` idiom every kernel here uses).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop, until_stable


def kcore(
    graph: Graph,
    k: int,
    loop: IterationLoop | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Peel to the k-core; returns ``(vid: long, core_degree: long)``
    for the surviving vertices (empty if the k-core is empty).

    ``core_degree`` is the vertex's degree *within* the k-core (the
    fixpoint round's count), not its original degree.
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="kcore", max_iterations=max_rounds)

    sym = graph.sym_edges().select("src", "dst")
    alive = loop.hold(graph.vertices().select("vid"))

    def step(alive, _it, _prev):
        deg = (
            sym.join(alive.select(F.col("vid").alias("src")), on="src")
            .join(alive.select(F.col("vid").alias("dst")), on="dst")
            .groupBy("src")
            .agg(F.count(F.lit(1)).alias("core_degree"))
        )
        stepped = deg.filter(F.col("core_degree") >= k).select(
            F.col("src").alias("vid"), "core_degree"
        )
        return stepped, [
            F.count(F.lit(1)).alias("n_alive"),
            F.sum("core_degree").alias("deg_sum"),
        ]

    alive, rounds, _ = loop.run(
        alive, step, until_stable("n_alive", "deg_sum"), rounds=max_rounds
    )
    return loop.finish(alive.select("vid", "core_degree"), rounds)

