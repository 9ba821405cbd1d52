"""Bounded-iteration centralities: Katz and weighted PageRank.

Beyond-reference link kernels rounding out the centrality family
(PageRank/PPR/HITS/betweenness/harmonic live in their own modules).
Both are fixed-round synchronous iterations with the same plan shape
as one PageRank iteration — edges ⋈ state on ``src``, groupBy(dst)
partial+final sum, left join back — and both round state to 6 dp per
iteration so the unrolled DuckDB twin is hash-exact (the same
per-round re-basing trick as k-means centroids: both engines enter
every round from identical doubles).

Both run their rounds on ``IterationLoop.run``
(``plans/iteration.py``) with a fixed round count: each round's state
is held in the round's one checkpoint action, so the plan of round N
never contains rounds 1..N−1. Weighted PageRank carries a static
"dangling" flag in its state and measures the next round's dangling
mass in that action's Observation, as pagerank does.

Scale notes: per round, exactly one shuffle (the dst-keyed message
sum — map-side combined); the edge side should be the Graph's
persisted hash(src) partitioning so the ``src`` join never
re-exchanges the big side. Weighted PageRank pre-computes out-strength
ONCE (static, carried in state like pagerank's out_deg).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop, fixed_rounds


def katz(
    graph: Graph,
    alpha: float = 0.125,
    beta: float = 1.0,
    n_iterations: int = 3,
) -> DataFrame:
    """Katz centrality, ``n_iterations`` synchronous rounds of

        x′(v) = round(α·Σ_{u→v} x(u) + β, 6),   x₀(v) = β

    over the DIRECTED edge list. α must satisfy α < 1/λ_max for the
    infinite series to converge; the bounded-round form is well-defined
    for any α. Defaults α = 1/8, β = 1 are exactly representable
    doubles. Vertices with no in-edges hold x = β. Returns
    ``(vid, katz)``.
    """
    loop = IterationLoop(graph.edges.sparkSession, kernel="katz", max_iterations=n_iterations)
    edges = graph.clean_edges()
    x = graph.vertices().select("vid", F.lit(float(beta)).alias("x"))

    def step(x, _it, _prev):
        msgs = (
            edges.join(
                x.select(F.col("vid").alias("src"), "x"), on="src"
            )
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum("x").alias("s"))
        )
        stepped = x.select("vid").join(msgs, on="vid", how="left").select(
            "vid",
            F.round(
                F.lit(float(alpha)) * F.coalesce("s", F.lit(0.0)) + F.lit(float(beta)),
                6,
            ).alias("x"),
        )
        return stepped, [F.count(F.lit(1)).alias("n_vertices")]

    x, it, _ = loop.run(x, step, fixed_rounds("n_vertices"), rounds=n_iterations)
    return loop.finish(x.select("vid", F.col("x").alias("katz")), it)


def weighted_pagerank(
    graph: Graph,
    weight_col,
    damping: float = 0.85,
    n_iterations: int = 2,
) -> DataFrame:
    """Weighted PageRank, bounded rounds: contributions are
    proportional to edge weight over the source's out-STRENGTH
    (Σ of outgoing weights) instead of out-degree:

        r′(v) = round((1−d)/n + d·(Σ_{u→v} r(u)·w(u,v)/s(u)
                                   + dangling_mass/n), 6)

    ``weight_col`` is a Column over the cleaned edge list (src, dst)
    — e.g. a count, a lift, or a recency decay — evaluated once;
    weights must be positive. Dangling vertices (no out-edges)
    redistribute their rank uniformly, as in the unweighted kernel.
    Returns ``(vid, rank)`` after ``n_iterations`` rounds from the
    uniform start r₀ = 1/n (rounded 6 dp).

    The weight normalization w/s(u) happens on the EDGE side before
    the rank join, so the per-round plan is identical to unweighted
    pagerank's: one src join, one dst-keyed sum, one left join back.
    """
    loop = IterationLoop(
        graph.edges.sparkSession, kernel="weighted_pagerank", max_iterations=n_iterations
    )
    edges = graph.clean_edges().select("src", "dst", weight_col.alias("w"))
    verts = graph.vertices()
    n1 = verts.agg(F.count(F.lit(1)).alias("n"))
    strength = edges.groupBy(F.col("src")).agg(F.sum("w").alias("s"))
    # normalized edge transition probabilities, computed once
    trans = edges.join(strength, on="src").select(
        "src", "dst", (F.col("w").cast("double") / F.col("s")).alias("p")
    )
    d = float(damping)
    dangling_mass = F.sum(
        F.when(F.col("dangling"), F.col("rank")).otherwise(F.lit(0.0))
    ).alias("dm")
    # state (vid, n, dangling, rank): the static dangling flag kills the
    # per-round anti-join, and each checkpoint's Observation measures
    # the next round's dangling mass
    r, stats = loop.hold_observed(
        verts.crossJoin(F.broadcast(n1))
        .join(strength.select(F.col("src").alias("vid"), "s"), on="vid", how="left")
        .select(
            "vid",
            "n",
            F.col("s").isNull().alias("dangling"),
            F.round(F.lit(1.0) / F.col("n"), 6).alias("rank"),
        ),
        dangling_mass,
    )

    def step(r, _it, prev):
        msgs = (
            trans.join(r.select(F.col("vid").alias("src"), "rank"), on="src")
            .groupBy(F.col("dst").alias("vid"))
            .agg(F.sum(F.col("rank") * F.col("p")).alias("m"))
        )
        stepped = r.join(msgs, on="vid", how="left").select(
            "vid",
            "n",
            "dangling",
            F.round(
                (F.lit(1.0) - F.lit(d)) / F.col("n")
                + F.lit(d)
                * (
                    F.coalesce("m", F.lit(0.0))
                    + F.lit(float(prev["dm"] or 0.0)) / F.col("n")
                ),
                6,
            ).alias("rank"),
        )
        return stepped, [dangling_mass, F.count(F.lit(1)).alias("n_vertices")]

    r, it, _ = loop.run(r, step, fixed_rounds("n_vertices"), rounds=n_iterations, stats=stats)
    return loop.finish(r.select("vid", "rank"), it)
