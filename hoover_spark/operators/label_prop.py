"""Label propagation — two flavors.

1. **min-LP** — the reference's actual community kernel: min-label
   exchange over the (super)graph (``test/community_detection.cpp:493-512``
   reuses the same hash-min kernel as connected components). We expose
   it as bounded-iteration hash-min (no pointer jumping, so iteration N
   matches the reference's synchronous trace at iteration N exactly).

2. **mode-LP** — classic synchronous label propagation (each vertex
   adopts the most frequent neighbor label) with a *deterministic
   tie-break* (smallest label among the most frequent) so results are
   identical at any parallelism (SURVEY.md §7.4 determinism note).

Both are pure join+agg programs; the mode step's
``groupBy(vid, label).count`` then per-vid argmax is expressed with
``max_by``-style struct max — one shuffle, no window sort.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.wcc import hash_min_rounds
from hoover_spark.plans.iteration import IterationLoop


def min_label_propagation(
    graph: Graph,
    n_iterations: int,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Exactly ``n_iterations`` synchronous min-label rounds — the
    reference's per-iteration semantics (no shortcutting, no driver
    finish), stopping early only once the labels converged."""
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="min_lp", max_iterations=n_iterations)
    labels, it, _ = hash_min_rounds(
        graph.sym_edge_views(),
        # least(vid, vid), not an alias, so the held state keeps hash(vid)
        graph.vertices().select("vid", F.least("vid", "vid").alias("label")),
        loop,
        graph.num_partitions,
        rounds=n_iterations,
        pointer_jumping=False,
    )
    return loop.finish(labels.select("vid", "label"), it)


def mode_label_propagation(
    graph: Graph,
    n_iterations: int = 10,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Synchronous mode-LP with min-label tie-break. Returns (vid, label)."""
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="mode_lp", max_iterations=n_iterations)

    edges = graph.sym_edges()
    # held hash-partitioned by vid, like the messages below: a round
    # shuffles only its messages (see ``IterationLoop.hold``); least(vid,
    # vid), not an alias, or the checkpoint reports hash(label)
    labels = loop.hold(
        graph.vertices()
        .select("vid", F.least("vid", "vid").alias("label"))
        .repartition(graph.num_partitions, "vid"),
        keep_partitioning=True,
    )

    def step(labels, _it, _prev):
        labels = labels.select("vid", "label")
        msgs = edges.join(
            labels.select(F.col("vid").alias("src"), "label").hint("shuffle_hash"), on="src"
        ).select(F.col("dst").alias("vid"), "label")
        # one exchange by vid: the (vid, label) count and the per-vid
        # argmax then run in its stage
        msgs = msgs.repartition(graph.num_partitions, "vid")
        counts = msgs.groupBy("vid", "label").agg(F.count(F.lit(1)).alias("cnt"))
        # argmax by (cnt desc, label asc): max of struct(cnt, -label).
        best = counts.groupBy("vid").agg(
            F.max(F.struct(F.col("cnt"), (-F.col("label")).alias("neg"))).alias("m"),
            F.sum("cnt").alias("msg_cnt"),
        ).select(
            "vid", (-F.col("m.neg")).alias("mode_label"), "msg_cnt"
        )
        stepped = labels.join(best.hint("shuffle_hash"), on="vid", how="left").select(
            "vid",
            F.col("label").alias("prev_label"),
            F.coalesce("mode_label", "label").alias("label"),
            F.coalesce("msg_cnt", F.lit(0)).alias("msg_cnt"),
        )
        return stepped, [
            F.sum((F.col("label") != F.col("prev_label")).cast("long")).alias("changed"),
            F.sum("msg_cnt").alias("shuffled"),
        ]

    def observe(stats, _prev):
        changed = int(stats["changed"] or 0)
        return int(stats["shuffled"] or 0), float(changed), changed, changed == 0

    labels, it, _ = loop.run(
        labels, step, observe, rounds=n_iterations, keep_partitioning=True
    )
    return loop.finish(labels.select("vid", "label"), it)
