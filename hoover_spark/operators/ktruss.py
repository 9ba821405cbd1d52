"""k-truss decomposition by iterative support peeling.

The k-truss is the maximal subgraph in which every edge participates
in at least ``k-2`` triangles (Cohen 2008) — the edge-level analogue
of the k-core and the standard cohesive-subgraph filter for link
graphs; like the k-core it is the scalable front gate for the dense
community kernels the reference runs (``test/community_detection.cpp``
densifies over clique overlaps — a truss bounds exactly that overlap
structure).

Spark-first plan per peel round (all JVM-side):

    deg     = alive canonical edges → per-endpoint counts
    orient  = low→high by (deg, vid) rank: oriented out-degree is
              O(sqrt(|E_alive|)) — bounds the wedge blow-up on skew
              (same argument as operators/triangles.py)
    tris    = wedge self-join + closing semi-join — each triangle once
    support = explode each triangle to its 3 canonical edges, groupBy
              (a, b) COUNT
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
from hoover_spark.plans.iteration import IterationLoop, until_stable


def _edge_support(alive: DataFrame) -> DataFrame:
    """Per-edge triangle support of the canonical (src<dst) edge set
    ``alive``; edges in no triangle get no row (support 0)."""
    deg = (
        alive.select(F.col("src").alias("vid"))
        .unionAll(alive.select(F.col("dst").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    e = (
        alive.join(
            deg.withColumnRenamed("vid", "src").withColumnRenamed("degree", "sdeg"),
            on="src",
        )
        .join(
            deg.withColumnRenamed("vid", "dst").withColumnRenamed("degree", "ddeg"),
            on="dst",
        )
    )
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    o = e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )
    tris = (
        o.alias("a")
        .join(o.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(
            F.col("a.src").alias("u"),
            F.col("a.dst").alias("v"),
            F.col("b.dst").alias("w"),
        )
        .join(
            o.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            on=["u", "w"],
            how="left_semi",
        )
    )
    # each triangle supports its 3 edges; re-canonicalize by vid (the
    # orientation above is by degree rank, not id order)
    sides = None
    for x, y in (("u", "v"), ("u", "w"), ("v", "w")):
        s = tris.select(
            F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")
        )
        sides = s if sides is None else sides.unionAll(s)
    return sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))


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
        stepped = _edge_support(alive).filter(F.col("support") >= k - 2)
        return stepped, [
            F.count(F.lit(1)).alias("n_alive"),
            F.sum("support").alias("sup_sum"),
        ]

    alive, rounds, _ = loop.run(
        alive, step, until_stable("n_alive", "sup_sum"), rounds=max_rounds
    )
    loop.kernel_state["peel_rounds"] = rounds
    return loop.finish(alive.select("src", "dst", "support"), rounds)
