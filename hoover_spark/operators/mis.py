"""Luby's maximal independent set over the symmetric edge view.

The reference's community/clique family (``test/community_detection.cpp``,
``test/connected_components.c``) runs vertex-parallel rounds where a
vertex acts iff a local predicate over its neighbors holds — Luby's MIS
(Luby 1986, SIAM J. Comput.) is the canonical such kernel and the
standard building block for parallel graph coloring, matching, and
sparsification at link-graph scale. Round structure:

    a vertex joins the MIS iff its (priority, vid) is strictly
    smaller than every *active* neighbor's; winners and their
    neighbors leave the active set; repeat until no vertex is active.

Converges in O(log n) rounds w.h.p. for random priorities; we use a
deterministic LCG priority ``(vid·40503 + 12345) mod (10^9+7)`` so the
result is reproducible across engines (the same cross-engine-exact
trick as :mod:`hoover_spark.operators.paths` random walks — both Spark
and the DuckDB oracle compute it in exact int64 arithmetic). Ties are
broken by ``(priority, vid)`` lexicographically via a struct-min, so
the kernel stays correct even when two vids collide mod p (only
possible once vid ≥ 10^9+7; below that the LCG is injective).

Spark-first plan per round (all JVM-side, one Spark job — stats ride
the state checkpoint via ``hold_observed``):

    active   = state[status == 0]
    min_nbr  = sym ⋈ active(src) ⋈ active(dst) → groupBy(src)
               MIN(struct(prio_dst, dst))
    winners  = active where min_nbr is null or (prio, vid) < min_nbr
    removed  = active srcs adjacent to a winner dst
    state'   = status: winner → 1(mis), removed → 2, else unchanged

The symmetric edge table is the big side and keeps the Graph's hash
partitioning across all rounds; the active set shrinks geometrically
(each round removes the winners' closed neighborhoods), so late rounds
join a small frontier against the edges — the same shrinking-side
shape as WCC, which AQE broadcasts once it fits.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop, until_zero

MIS_P = 1_000_000_007
_MIS_A = 40503
_MIS_B = 12345


def mis_priority(col: Column) -> Column:
    """Deterministic per-vertex priority, exact in int64 on any engine:
    ``((vid mod p)·40503 + 12345) mod p`` with p = 10^9+7 — injective
    for vid < p (where the inner pmod is the identity, so the oracle
    may write the unreduced form); the inner ``pmod`` keeps the
    product below 2^46 for ANY int64 vid, including negative 64-bit
    hash ids (pmod, not %, so the sign never flips the result)."""
    return F.pmod(F.pmod(col.cast("long"), F.lit(MIS_P)) * _MIS_A + _MIS_B, F.lit(MIS_P))


def luby_mis(
    graph: Graph,
    loop: IterationLoop | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Maximal independent set; returns ``(vid: long, mis_round: long)``
    — one row per MIS member with the round that selected it.

    The output is independent (no symmetric edge joins two members)
    and maximal (every non-member has a member neighbor) — both
    asserted in tests against brute force.
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="mis", max_iterations=max_rounds)

    sym = graph.sym_edges().select("src", "dst")
    state = loop.hold(
        graph.vertices().select(
            "vid",
            mis_priority(F.col("vid")).alias("prio"),
            F.lit(0).alias("status"),  # 0 active, 1 mis, 2 removed
            F.lit(0).cast("long").alias("mis_round"),
        )
    )

    def step(state, it, _prev):
        act = state.where(F.col("status") == 0).select("vid", "prio")
        ea = sym.join(
            act.select(F.col("vid").alias("src"), F.col("prio").alias("p_src")),
            on="src",
        ).join(
            act.select(F.col("vid").alias("dst"), F.col("prio").alias("p_dst")),
            on="dst",
        )
        min_nbr = ea.groupBy("src").agg(
            F.min(F.struct(F.col("p_dst").alias("p"), F.col("dst").alias("v"))).alias("mn")
        )
        winners = (
            act.join(min_nbr, act.vid == min_nbr.src, "left")
            .where(
                F.col("mn").isNull()
                | (F.struct(F.col("prio").alias("p"), F.col("vid").alias("v")) < F.col("mn"))
            )
            .select("vid")
        )
        # active vertices adjacent to a winner (winners themselves can
        # never appear here: a winner's neighbor losing to it cannot
        # also be a strict local minimum)
        removed = (
            ea.join(winners.withColumnRenamed("vid", "dst"), on="dst")
            .select("src")
            .distinct()
        )
        stepped = (
            state.join(winners.withColumn("w", F.lit(1)), on="vid", how="left")
            .join(
                removed.select(F.col("src").alias("vid"), F.lit(1).alias("r")),
                on="vid",
                how="left",
            )
            .select(
                "vid",
                "prio",
                F.when(F.col("status") != 0, F.col("status"))
                .when(F.col("w") == 1, F.lit(1))
                .when(F.col("r") == 1, F.lit(2))
                .otherwise(F.lit(0))
                .alias("status"),
                F.when(
                    (F.col("status") == 0) & (F.col("w") == 1), F.lit(it).cast("long")
                )
                .otherwise(F.col("mis_round"))
                .alias("mis_round"),
            )
        )
        return stepped, [
            F.sum((F.col("status") == 0).cast("long")).alias("n_active"),
            F.sum((F.col("status") == 1).cast("long")).alias("n_mis"),
        ]

    state, rounds, _ = loop.run(
        state, step, until_zero("n_active"), rounds=max_rounds
    )
    return loop.finish(
        state.where(F.col("status") == 1).select("vid", "mis_round"), rounds
    )


def greedy_coloring(
    graph: Graph,
    loop: IterationLoop | None = None,
    max_rounds: int = 256,
) -> DataFrame:
    """Distance-1 proper coloring by iterated local minima — the
    classic parallel greedy coloring (Jones & Plassmann 1993's round
    structure with color = round index). Returns ``(vid: long,
    color: long)``, colors 1..R.

    Per round, every *uncolored* vertex whose (priority, vid) is
    strictly below all uncolored neighbors' takes the round index as
    its color; only the newly colored vertices leave the active set
    (unlike :func:`luby_mis`, which also retires their neighbors).
    Two adjacent vertices can never win the same round, so the
    coloring is proper; round count = the longest strictly-decreasing
    priority path, O(log n / log log n) w.h.p. for LCG-random
    priorities (structure-dependent worst case n — same caveat as
    k-core peel depth).

    Plan shape per round is identical to :func:`luby_mis` (one Spark
    job, big symmetric side keeps its hash partitioning, the active
    frontier shrinks every round).
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="coloring", max_iterations=max_rounds)

    sym = graph.sym_edges().select("src", "dst")
    state = loop.hold(
        graph.vertices().select(
            "vid",
            mis_priority(F.col("vid")).alias("prio"),
            F.lit(0).cast("long").alias("color"),  # 0 = uncolored
        )
    )

    def step(state, it, _prev):
        act = state.where(F.col("color") == 0).select("vid", "prio")
        min_nbr = (
            sym.join(
                act.select(F.col("vid").alias("src")), on="src"
            )
            .join(
                act.select(F.col("vid").alias("dst"), F.col("prio").alias("p_dst")),
                on="dst",
            )
            .groupBy("src")
            .agg(
                F.min(
                    F.struct(F.col("p_dst").alias("p"), F.col("dst").alias("v"))
                ).alias("mn")
            )
        )
        winners = (
            act.join(min_nbr, act.vid == min_nbr.src, "left")
            .where(
                F.col("mn").isNull()
                | (F.struct(F.col("prio").alias("p"), F.col("vid").alias("v")) < F.col("mn"))
            )
            .select("vid")
        )
        stepped = state.join(
            winners.withColumn("w", F.lit(1)), on="vid", how="left"
        ).select(
            "vid",
            "prio",
            F.when(F.col("color") != 0, F.col("color"))
            .when(F.col("w") == 1, F.lit(it).cast("long"))
            .otherwise(F.lit(0).cast("long"))
            .alias("color"),
        )
        return stepped, [
            F.sum((F.col("color") == 0).cast("long")).alias("n_active"),
            F.max("color").alias("max_color"),
        ]

    state, rounds, _ = loop.run(
        state, step, until_zero("n_active"), rounds=max_rounds
    )
    return loop.finish(state.select("vid", "color"), rounds)
