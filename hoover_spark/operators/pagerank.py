"""PageRank: damped power iteration with dangling-mass redistribution.

The reference does not implement PageRank itself — it is the benchmark
it compares against on GraphX/Gelly/Giraph
(``bench/graphx/PageRankExample.scala:43-47``, tol 0.0001;
``bench/giraph/SimplePageRankComputation.java``). The north rule makes
it a first-class kernel here, converged to ``max |Δ| < tol`` (1e-6)
with per-vertex scores reproducible to allclose 1e-6 across
parallelism levels (float64 throughout; summation-order noise is far
below the tolerance).

Spark-first plan per iteration (all JVM-side, whole-stage codegen):

    contribs = edges ⋈ ranks⊕out_deg (on src)   — co-partitioned, no shuffle
    sums     = contribs groupBy(dst) SUM         — partial+final agg: the
               round's one shuffle; optional explicit two-stage salted
               agg for hot dsts
    ranks'   = ranks ⟕ sums (on vid)             — co-partitioned, no shuffle
               →  (1-α)/n + α·(sum + dangling/n)
    delta    = max |ranks' - ranks|              — an Observation on the
               checkpoint action: ONE Spark job per iteration

Scale notes:
- ``edges`` is pre-partitioned by ``src`` once and persisted, and the
  rank state is held hash-partitioned by ``vid`` on as many partitions
  (``IterationLoop.hold(keep_partitioning=True)`` keeps that
  partitioning across checkpoints).
  Both joins are ``shuffle_hash``-hinted, so neither the edge view nor
  the aggregated sums is broadcast: only the messages cross a shuffle,
  as only updates travel between the reference's static PE owners
  (SURVEY.md §1.2).
- when ``graph.num_partitions`` differs from
  ``spark.sql.shuffle.partitions``, the ≤|V|-row sums are re-shuffled
  once more to meet the state; a round that re-reads a durable
  ``save_state`` checkpoint re-shuffles the state once.
- dangling mass is one scalar aggregate per iteration (reference
  analogue: coupled-metric reduction, ``src/hoover.cpp:2819-3180``).
- hot destinations (a file imported by everything) are handled by the
  explicit salted two-stage SUM (north rule; SURVEY.md §4 O10) on top
  of Spark's map-side partial aggregation.

Personalized PageRank (random walk with restart to a seed set, the
standard seed-proximity score for link graphs: Page et al. 1999 §6;
Jeh & Widom WWW'03) is the same damped step with the teleport and the
dangling redistribution biased to a seed distribution ``p`` instead of
``1/n``:

    r'(v) = (1-α)·p(v) + α·( Σ_{u→v} r(u)/out_deg(u) + D·p(v) )

with ``D`` the dangling mass of the previous iterate. Restart mass
re-enters ONLY at seeds, so scores decay with distance from the seed
set and the uniform kernel's ``(1-α)/n`` floor disappears for
non-seeds. The state carries ``p`` as a static column (0 off-seed), so
personalization costs no extra join or shuffle per iteration, and the
dangling mass stays one scalar riding the same Observation.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.functions.skew import with_salt
from hoover_spark.operators.graph import Graph, per_view
from hoover_spark.plans.iteration import IterationLoop


def pagerank(
    graph: Graph,
    alpha: float = 0.85,
    tol: float = 1e-6,
    max_iterations: int = 100,
    n_iterations: int | None = None,
    salt_buckets: int = 0,
    resume: bool = False,
    loop: IterationLoop | None = None,
    initial_ranks: DataFrame | None = None,
    n_vertices: int | None = None,
    initial_rank_sum: float | None = None,
    seeds: DataFrame | None = None,
) -> DataFrame:
    """Return ``(vid: long, rank: double)``; ranks sum to 1.

    ``n_iterations`` pins an exact iteration count (bounded-iteration
    equivalence tests / SQL oracles); otherwise run to ``max|Δ| < tol``.
    ``salt_buckets > 0`` switches the contribution SUM to the explicit
    two-stage salted aggregation.
    ``initial_ranks`` warm-starts (streaming incremental re-convergence).
    ``n_vertices`` (with ``initial_ranks``) skips the vertex scan
    entirely — the streaming path tracks the count incrementally, so a
    micro-batch pays no O(|V|) distinct just to learn ``n``.
    ``initial_rank_sum`` renormalizes the warm ranks by dividing by the
    given sum INSIDE the initial state projection — the division fuses
    into the same job that materializes the state, so the caller never
    pays a separate O(|V|) sum + scaled-copy pass (r4 scale item). The
    value only shapes warm-start quality, never the fixed point: the
    damped iteration is an α-contraction whose converged vector is
    independent of the initial sum, so an incrementally-tracked
    approximation is fine.

    ``seeds`` switches to personalized PageRank (module docstring):
    either ``(vid)``, which spreads the restart mass uniformly over the
    set, or ``(vid, p)`` with an explicit distribution. Ranks start at
    ``p``, and an empty ``(vid)`` set raises ``ValueError``, as does
    combining ``seeds`` with ``initial_ranks``. Pair it with
    ``n_iterations`` for the bounded-iteration semantics the SQL
    oracle unrolls.

    The final converged ``sum(rank)`` is published as
    ``loop.kernel_state["rank_sum"]`` (measured by the per-iteration
    Observation — no extra job); the streaming path feeds it back as
    the next batch's ``initial_rank_sum`` numerator. The vertex count
    is published as ``loop.kernel_state["n_state_rows"]``.
    """
    if seeds is not None and initial_ranks is not None:
        raise ValueError("pagerank: seeds cannot warm-start from initial_ranks")
    loop = loop or IterationLoop(
        graph.edges.sparkSession,
        kernel="pagerank",
        max_iterations=n_iterations or max_iterations,
    )

    static = []  # per-vertex columns carried unchanged through the rounds
    if seeds is not None:
        if "p" not in seeds.columns:
            n_seeds = seeds.count()
            if n_seeds == 0:
                raise ValueError("pagerank: empty seed set")
            seeds = seeds.select("vid", F.lit(1.0 / n_seeds).alias("p"))
        static = ["p"]

    edge_views = graph.clean_edge_views()
    verts = None
    if n_vertices is not None and initial_ranks is not None:
        n = int(n_vertices)
    else:
        verts = graph.vertices().persist()
        n = verts.count()
    out_deg = (
        per_view(edge_views, lambda v: v.select("src"))
        .groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).alias("out_deg"))
        .persist()
    )

    start_iter = 0
    ranks = None
    if resume:
        loaded = loop.load_latest()
        if loaded is not None:
            ranks, start_iter = loaded[0].select("vid", "rank", *static), loaded[1]
    if ranks is None:
        if initial_ranks is not None:
            ranks = initial_ranks.select("vid", "rank")
            if initial_rank_sum is not None and abs(initial_rank_sum - 1.0) > 1e-15:
                ranks = ranks.select(
                    "vid",
                    (F.col("rank") / F.lit(float(initial_rank_sum))).alias("rank"),
                )
        elif seeds is not None:
            # ranks start AT the restart distribution (0 off-seed)
            p = F.coalesce("p", F.lit(0.0))
            ranks = verts.join(seeds.select("vid", "p"), on="vid", how="left").select(
                "vid", p.alias("rank"), p.alias("p")
            )
        else:
            ranks = verts.select("vid", F.lit(1.0 / n).alias("rank"))

    dangling_mass = F.sum(
        F.when(F.col("out_deg").isNull(), F.col("rank")).otherwise(F.lit(0.0))
    ).alias("dangling")

    # State carries the static out-degree (null = dangling): kills the
    # per-iteration degree join, and the end-of-iteration Observation
    # computes next iteration's dangling mass inside the checkpoint
    # action — ONE Spark job per iteration total (the reference's
    # coupled-metric reduction folded the same way,
    # src/hoover.cpp:2819-3180). It is held hash-partitioned by vid, so
    # the rounds' joins on src and vid shuffle only the messages.
    state, init_stats = loop.hold_observed(
        ranks.join(out_deg, on="vid", how="left").repartition(graph.num_partitions, "vid"),
        dangling_mass,
        keep_partitioning=True,
    )

    base = (1.0 - alpha) / n

    def step(state, _it, prev):
        wsrc = state.where(F.col("out_deg").isNotNull()).select(
            F.col("vid").alias("src"),
            (F.col("rank") / F.col("out_deg")).alias("w"),
        )
        contribs = per_view(
            edge_views,
            lambda v: v.join(wsrc.hint("shuffle_hash"), on="src").select("dst", "w"),
        )
        if salt_buckets > 0:
            salted = with_salt(contribs, salt_buckets, cols=["w"])
            partial = salted.groupBy("dst", "salt").agg(
                F.sum("w").alias("_w"), F.count(F.lit(1)).alias("_c")
            )
            sums = partial.groupBy("dst").agg(
                F.sum("_w").alias("in_sum"), F.sum("_c").alias("msg_cnt")
            )
        else:
            sums = contribs.groupBy("dst").agg(
                F.sum("w").alias("in_sum"), F.count(F.lit(1)).alias("msg_cnt")
            )
        # restart and dangling mass re-enter uniformly, or at the seeds
        dangling = float(prev["dangling"] or 0.0)
        if seeds is None:
            restart, spread = F.lit(base), F.lit(dangling / n)
        else:
            restart = F.lit(1.0 - alpha) * F.col("p")
            spread = F.lit(dangling) * F.col("p")
        stepped = state.select(
            "vid", "out_deg", *static, F.col("rank").alias("_prev")
        ).join(
            sums.withColumnRenamed("dst", "vid").hint("shuffle_hash"), on="vid", how="left"
        ).select(
            "vid",
            "out_deg",
            *static,
            "_prev",
            (
                restart + F.lit(alpha) * (F.coalesce("in_sum", F.lit(0.0)) + spread)
            ).alias("rank"),
            F.coalesce("msg_cnt", F.lit(0)).alias("_m"),
        )
        # convergence delta, active set, messages shuffled and the NEXT
        # iteration's dangling mass ride the checkpoint action
        d = F.abs(F.col("rank") - F.col("_prev"))
        return stepped, [
            F.max(d).alias("delta"),
            F.sum((d > tol).cast("long")).alias("active"),
            F.sum("_m").alias("shuffled"),
            dangling_mass,
            F.sum("rank").alias("rank_sum"),
        ]

    def observe(stats, _prev):
        loop.kernel_state["rank_sum"] = float(stats["rank_sum"] or 0.0)
        delta = float(stats["delta"] or 0.0)
        return (
            int(stats["shuffled"] or 0),
            delta,
            int(stats["active"] or 0),
            n_iterations is None and delta < tol,
        )

    state, it, _ = loop.run(
        state,
        step,
        observe,
        rounds=loop.max_iterations - start_iter,
        start=start_iter,
        stats=init_stats,
        keep_partitioning=True,
    )
    loop.kernel_state["n_state_rows"] = n
    result = loop.finish(state.select("vid", "rank"), it)
    if verts is not None:
        verts.unpersist()
    out_deg.unpersist()
    return result
