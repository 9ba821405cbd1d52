"""Luby-style maximal matching over the canonical edge set.

The edge twin of :mod:`hoover_spark.operators.mis`: an edge joins the
matching iff its deterministic priority is strictly smallest among all
*active* edges sharing either endpoint; matched endpoints retire their
incident edges; repeat until no edge is active. Converges in O(log m)
rounds w.h.p. for random priorities (Luby 1986 — the matching variant
is Israeli & Itai 1986). The reference's vertex-parallel round
structure (``test/connected_components.c`` actor loops) maps onto the
same one-job-per-round shape as every other kernel here.

Priorities are a two-step LCG over the canonical (src, dst) pair,
exact in int64 on any engine, so the DuckDB oracle replays the exact
same matching. Collisions are broken by the full (prio, src, dst)
struct — lexicographic comparison on both engines — so correctness
never depends on injectivity.

Spark-first plan per round (one job; stats ride the state checkpoint):

    act   = state[status == 0]
    vmin  = act exploded to (endpoint, key) → groupBy(endpoint) MIN(key)
    win   = act where key == vmin(src) AND key == vmin(dst)
    mv    = endpoints of win
    state' = status: winner → 1(matched), endpoint-in-mv → 2, else 0

The winner test needs the edge's key to be the min at BOTH endpoints —
equivalent to "smaller than every adjacent active edge" because the
edge participates in both endpoint minima. The global-minimum active
edge always wins, so every round makes progress.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop, until_zero

MATCH_P = 1_000_000_007
_M_A = 40503
_M_B = 12345


def edge_priority(src: Column, dst: Column) -> Column:
    """Deterministic per-edge priority, exact in int64 on any engine:
    ``((src·40503 + dst) mod p · 40503 + 12345) mod p`` — with src and
    dst pre-reduced mod p (identity below p, so the oracle may write
    the unreduced form) to keep every intermediate below 2^46 for ANY
    int64 vid, including negative 64-bit hash ids (pmod, not %)."""
    p = F.lit(MATCH_P)
    h1 = F.pmod(
        F.pmod(src.cast("long"), p) * _M_A + F.pmod(dst.cast("long"), p), p
    )
    return F.pmod(h1 * _M_A + _M_B, p)


def _key() -> Column:
    return F.struct(
        F.col("prio").alias("p"), F.col("src").alias("s"), F.col("dst").alias("d")
    )


def luby_matching(
    graph: Graph,
    loop: IterationLoop | None = None,
    max_rounds: int = 64,
) -> DataFrame:
    """Maximal matching; returns ``(src: long, dst: long, match_round:
    long)`` — one row per matched canonical edge with the round that
    selected it.

    The output is a matching (no two rows share an endpoint) and
    maximal (every unmatched canonical edge touches a matched vertex)
    — both asserted in tests against the raw edge set.
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="matching", max_iterations=max_rounds)

    state = loop.hold(
        graph.canonical().select(
            "src",
            "dst",
            edge_priority(F.col("src"), F.col("dst")).alias("prio"),
            F.lit(0).alias("status"),  # 0 active, 1 matched, 2 removed
            F.lit(0).cast("long").alias("match_round"),
        )
    )

    def step(state, it, _prev):
        act = state.where(F.col("status") == 0).select("src", "dst", "prio")
        inc = act.select(F.col("src").alias("vid"), _key().alias("k")).unionAll(
            act.select(F.col("dst").alias("vid"), _key().alias("k"))
        )
        vmin = inc.groupBy("vid").agg(F.min("k").alias("mk"))
        win = (
            act.join(
                vmin.select(F.col("vid").alias("src"), F.col("mk").alias("mk_s")),
                on="src",
            )
            .join(
                vmin.select(F.col("vid").alias("dst"), F.col("mk").alias("mk_d")),
                on="dst",
            )
            .where((_key() == F.col("mk_s")) & (_key() == F.col("mk_d")))
            .select("src", "dst")
        )
        mv = (
            win.select(F.col("src").alias("vid"))
            .unionAll(win.select(F.col("dst").alias("vid")))
            .distinct()
        )
        stepped = (
            state.join(win.withColumn("w", F.lit(1)), on=["src", "dst"], how="left")
            .join(
                mv.select(F.col("vid").alias("src"), F.lit(1).alias("m_s")),
                on="src",
                how="left",
            )
            .join(
                mv.select(F.col("vid").alias("dst"), F.lit(1).alias("m_d")),
                on="dst",
                how="left",
            )
            .select(
                "src",
                "dst",
                "prio",
                F.when(F.col("status") != 0, F.col("status"))
                .when(F.col("w") == 1, F.lit(1))
                .when((F.col("m_s") == 1) | (F.col("m_d") == 1), F.lit(2))
                .otherwise(F.lit(0))
                .alias("status"),
                F.when(
                    (F.col("status") == 0) & (F.col("w") == 1), F.lit(it).cast("long")
                )
                .otherwise(F.col("match_round"))
                .alias("match_round"),
            )
        )
        return stepped, [
            F.sum((F.col("status") == 0).cast("long")).alias("n_active"),
            F.sum((F.col("status") == 1).cast("long")).alias("n_matched"),
        ]

    state, rounds, _ = loop.run(
        state, step, until_zero("n_active"), rounds=max_rounds
    )

    return loop.finish(
        state.where(F.col("status") == 1).select("src", "dst", "match_round"), rounds
    )
