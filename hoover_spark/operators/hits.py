"""HITS (Kleinberg hubs & authorities) — link-analysis kernel.

The reference itself ships no HITS app, but its benchmark suite is the
link-analysis family it compares against (``bench/graphx``,
``bench/giraph`` — PageRank on the same edge tables), and a link-graph
engine over a repo-reference edge table (BASELINE.json north rule) is
exactly the setting HITS was designed for: on the bipartite
customer→part (or repo→path) graph, hubs are the referencing side and
authorities the referenced side. Semantics follow Kleinberg (JACM
1999): synchronous mutual reinforcement with L2 normalization each
half-step,

    auth(v) = Σ_{u→v} hub(u)   then  auth /= ||auth||₂
    hub(u)  = Σ_{u→v} auth(v)  then  hub  /= ||hub||₂

Spark-first plan per iteration (all JVM-side, whole-stage codegen):

    auths = edges ⋈ hubs (on src) → groupBy(dst) SUM   — 1 shuffle
    norm  = 1-row aggregate, broadcast back in-plan    — no collect
    hubs  = edges ⋈ auths (on dst) → groupBy(src) SUM  — 1 shuffle
    (+ same norm treatment)

Scale notes:
- the edge table is the big side and is partitioned once by the Graph;
  the per-vertex hub/auth vectors are the small sides (AQE broadcasts
  them when they fit, exactly as pagerank's rank side).
- the L2 norm is a scalar aggregate crossJoin'd back (Catalyst plans a
  BroadcastNestedLoopJoin of a 1-row side — the same shape as
  pagerank's in-plan dangling scalar); nothing is collected to the
  driver inside an iteration.
- vertices with no in-edges keep authority 0; no out-edges keep hub 0
  (left join + coalesce), so the output covers every vertex.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop


def _l2_normalized(scores: DataFrame, col: str) -> DataFrame:
    """Divide ``col`` by its L2 norm in-plan (1-row broadcast join)."""
    norm = scores.agg(
        F.sqrt(F.sum(F.col(col) * F.col(col))).alias("_norm")
    )
    return (
        scores.crossJoin(F.broadcast(norm))
        .select(
            "vid",
            F.when(F.col("_norm") > 0.0, F.col(col) / F.col("_norm"))
            .otherwise(F.lit(0.0))
            .alias(col),
        )
    )


def hits(
    graph: Graph,
    n_iterations: int = 10,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Run ``n_iterations`` synchronous HITS rounds over the *directed*
    edge set; returns ``(vid: long, hub: double, auth: double)`` for
    every vertex.

    Bounded-iteration semantics (like ``min_label_propagation``): the
    SQL oracle unrolls the same fixed number of rounds, so iteration N
    here matches the oracle's iteration N exactly. Scores start at 1.0
    per vertex (Kleinberg's init) and are L2-normalized after every
    half-step.
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="hits", max_iterations=n_iterations)

    edges = graph.clean_edges()
    verts = graph.vertices().select("vid")
    hubs = loop.hold(verts.select("vid", F.lit(1.0).alias("hub")))

    auths = verts.select("vid", F.lit(1.0).alias("auth"))

    def step(hubs, _it, _prev):
        nonlocal auths
        # authority half-step: gather hub mass along the edge direction
        a_msgs = edges.join(
            hubs.select(F.col("vid").alias("src"), "hub"), on="src"
        ).select(F.col("dst").alias("vid"), "hub")
        a_sums = a_msgs.groupBy("vid").agg(F.sum("hub").alias("auth"))
        auths = verts.join(a_sums, on="vid", how="left").select(
            "vid", F.coalesce("auth", F.lit(0.0)).alias("auth")
        )
        auths = _l2_normalized(auths, "auth")

        # hub half-step: gather the fresh authority mass backwards
        h_msgs = edges.join(
            auths.select(F.col("vid").alias("dst"), "auth"), on="dst"
        ).select(F.col("src").alias("vid"), "auth")
        h_sums = h_msgs.groupBy("vid").agg(F.sum("auth").alias("hub"))
        stepped = verts.join(h_sums, on="vid", how="left").select(
            "vid", F.coalesce("hub", F.lit(0.0)).alias("hub")
        )
        return _l2_normalized(stepped, "hub"), [
            F.sum((F.col("hub") > 0.0).cast("long")).alias("active"),
            F.sum(F.col("hub") * F.col("hub")).alias("norm_sq"),
        ]

    def observe(stats, _prev):
        return 0, float(stats["norm_sq"] or 0.0), int(stats["active"] or 0), False

    hubs, it, _ = loop.run(hubs, step, observe, rounds=n_iterations)
    # auths is the lazily-derived final authority vector; join the two
    # small per-vertex sides for the result.
    out = hubs.join(auths, on="vid", how="inner").select("vid", "hub", "auth")
    return loop.finish(out, it)
