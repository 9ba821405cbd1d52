"""k-truss decomposition by iterative support peeling.

The k-truss is the maximal subgraph in which every edge participates
in at least ``k-2`` triangles (Cohen 2008) — the edge-level analogue
of the k-core and the standard cohesive-subgraph filter for link
graphs; like the k-core it is the scalable front gate for the dense
community kernels the reference runs (``test/community_detection.cpp``
densifies over clique overlaps — a truss bounds exactly that overlap
structure).

Spark-first plan per peel round (all JVM-side):

    support = :func:`hoover_spark.operators.triangles.edge_support` of
              the alive edges — oriented low→high by (deg, vid) rank
              within the alive set (oriented out-degree
              O(sqrt(|E_alive|)) bounds the wedge blow-up on skew),
              listed by the shared ``triangles`` primitive, each
              triangle exploded to its 3 canonical edges and counted
    alive'  = support ≥ k-2

Convergence = the alive edge count stops changing; the fixpoint
round's support IS the in-truss support, carried in the result. One
Spark job per round (Observation riding the checkpoint — the
``hold_observed`` idiom every kernel here uses). Peeling is monotone,
so the SQL oracle unrolls a fixed round budget and over-unrolling is
a no-op.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.triangles import edge_support
from hoover_spark.plans.iteration import IterationLoop, until_stable


def ktruss(
    graph: Graph,
    k: int,
    loop: IterationLoop | None = None,
    max_rounds: int = 100,
) -> DataFrame:
    """Peel to the k-truss; returns the surviving canonical edges as
    ``(src: long, dst: long, support: long)`` with ``src < dst`` and
    ``support`` the edge's triangle count *within* the truss (empty
    DataFrame if the k-truss is empty). Requires ``k >= 3``."""
    if k < 3:
        raise ValueError(f"ktruss: k must be >= 3, got {k}")
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="ktruss", max_iterations=max_rounds)

    alive = loop.hold(graph.canonical())

    def step(alive, _it, _prev):
        stepped = edge_support(alive).filter(F.col("support") >= k - 2)
        return stepped, [
            F.count(F.lit(1)).alias("n_alive"),
            F.sum("support").alias("sup_sum"),
        ]

    alive, rounds, _ = loop.run(
        alive, step, until_stable("n_alive", "sup_sum"), rounds=max_rounds
    )
    return loop.finish(alive.select("src", "dst", "support"), rounds)
