"""Personalized PageRank (random walk with restart to a seed set).

The uniform-teleport PageRank kernel (``operators/pagerank.py``) is the
reference's benchmark family (``bench/graphx/PageRankExample.scala``);
personalized PageRank is the same damped power iteration with the
teleport (and the dangling redistribution) biased to a seed
distribution ``p`` instead of ``1/n`` — the standard seed-proximity
score for link graphs (Page et al. 1999 §6; Jeh & Widom WWW'03):

    r'(v) = (1-α)·p(v) + α·( Σ_{u→v} r(u)/out_deg(u) + D·p(v) )

with ``D`` the dangling mass of the previous iterate. Restart mass
re-enters ONLY at seeds, so scores decay with distance from the seed
set — the uniform kernel's ``(1-α)/n`` floor disappears for
non-seeds.

Spark-first plan per iteration (identical shape to ``pagerank``):

    contribs = edges ⋈ ranks⊕out_deg (on src)   — 1 shuffle join over
               the pre-partitioned persisted edge side
    sums     = contribs groupBy(dst) SUM          — map-side partials
    ranks'   = vertices ⟕ sums → (1-α)p + α(sum + D·p)
    D', Δ    = Observation riding the checkpoint — ONE job/iteration

Scale notes: the per-vertex state additionally carries the static
``p`` column (seed indicator / restart mass), so personalization costs
no extra join or shuffle versus the uniform kernel; the dangling mass
stays a single scalar per iteration.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop


def personalized_pagerank(
    graph: Graph,
    seeds: DataFrame,
    alpha: float = 0.85,
    n_iterations: int = 3,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Run ``n_iterations`` synchronous RWR rounds from ``seeds`` and
    return ``(vid: long, rank: double)`` over every vertex; ranks sum
    to 1 each iteration (restart + dangling mass both re-enter at the
    seeds).

    ``seeds`` is either ``(vid)`` — uniform restart mass over the set —
    or ``(vid, p)`` with an explicit distribution. Bounded-iteration
    semantics so the SQL oracle unrolls the same fixed count.
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="ppr", max_iterations=n_iterations)

    edges = graph.clean_edges()
    verts = graph.vertices().select("vid")

    if "p" not in seeds.columns:
        n_seeds = seeds.count()
        if n_seeds == 0:
            raise ValueError("personalized_pagerank: empty seed set")
        seeds = seeds.select("vid", F.lit(1.0 / n_seeds).alias("p"))
    out_deg = edges.groupBy(F.col("src").alias("vid")).agg(
        F.count(F.lit(1)).alias("out_deg")
    )

    dangling_mass = F.sum(
        F.when(F.col("out_deg").isNull(), F.col("rank")).otherwise(F.lit(0.0))
    ).alias("dangling")
    # static per-vertex state: restart mass p (0 off-seed) + out-degree
    # (null = dangling); rank starts AT the restart distribution
    state, init_stats = loop.hold_observed(
        verts.join(seeds, on="vid", how="left")
        .join(out_deg, on="vid", how="left")
        .select(
            "vid",
            F.coalesce("p", F.lit(0.0)).alias("p"),
            "out_deg",
            F.coalesce("p", F.lit(0.0)).alias("rank"),
        ),
        dangling_mass,
    )

    def step(state, _it, prev):
        wsrc = state.where(F.col("out_deg").isNotNull()).select(
            F.col("vid").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("w"),
        )
        sums = (
            edges.join(wsrc, on="src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("w").alias("in_sum"), F.count(F.lit(1)).alias("msg_cnt"))
        )
        # rank formula written ONCE; the convergence delta differences
        # it against the carried previous rank in a follow-up select
        # (the pagerank kernel's shape — a single expression tree, no
        # copy-drift between the rank and its reported delta)
        stepped = (
            state.select("vid", "p", "out_deg", "rank")
            .join(sums, on="vid", how="left")
            .select(
                "vid",
                "p",
                "out_deg",
                F.col("rank").alias("_prev"),
                (
                    F.lit(1.0 - alpha) * F.col("p")
                    + F.lit(alpha)
                    * (
                        F.coalesce("in_sum", F.lit(0.0))
                        + F.lit(float(prev["dangling"] or 0.0)) * F.col("p")
                    )
                ).alias("rank"),
                F.coalesce("msg_cnt", F.lit(0)).alias("_m"),
            )
            .select(
                "vid",
                "p",
                "out_deg",
                "rank",
                F.abs(F.col("rank") - F.col("_prev")).alias("_d"),
                "_m",
            )
        )
        return stepped, [
            F.max("_d").alias("delta"),
            F.sum((F.col("_d") > 1e-12).cast("long")).alias("active"),
            F.sum("_m").alias("shuffled"),
            dangling_mass,
        ]

    def observe(stats, _prev):
        return (
            int(stats["shuffled"] or 0),
            float(stats["delta"] or 0.0),
            int(stats["active"] or 0),
            False,
        )

    state, it, _ = loop.run(
        state, step, observe, rounds=n_iterations, stats=init_stats
    )
    return loop.finish(state.select("vid", "rank"), it)
