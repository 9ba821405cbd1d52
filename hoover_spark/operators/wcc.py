"""Weakly-connected components: hash-min rounds, finished on the driver.

Reference semantics: ``test/connected_components.c:88-112`` — every
vertex starts with ``label = own id`` and each iteration takes
``label = min(label, min over neighbor labels)`` (the neighbor min is
``hvr_neighbors_min``, ``src/hoover.cpp:2058-2110``), with HOOVER's
delta machinery (``needs_processing`` frontier,
``src/hoover.cpp:603-622``) ensuring only changed vertices re-send.

Spark-first design:

- the neighbor-min is ``edges ⋈ frontier`` + ``groupBy(dst).min`` —
  one shuffle join + one partial/final hash agg per iteration;
- the **frontier** (only labels that changed last iteration are sent)
  ports the reference's dirty-vertex delta processing — the single
  most important cross-iteration optimization Spark does not provide
  automatically (SURVEY.md §4 O2);
- **the driver finish**: after any hash-min round, an edge whose
  endpoints' labels differ has an endpoint whose label dropped in that
  round (if neither dropped, each label is ≤ the other's), so the next
  round's messages carry every cross-label edge. Once they fit on the
  driver (``FINISH_PAIRS``), :func:`wcc` collects their distinct label
  pairs, merges them with :func:`min_label_roots` and relabels the
  state by one broadcast join (:func:`relabel`) — finishing in memory
  once the remaining graph is small (Kiveris et al., "Connected
  Components in MapReduce and Beyond", SoCC'14). A warm stream batch
  runs the same union-find and relabel over its fresh edges' endpoint
  labels (:mod:`hoover_spark.streaming.ingest`);
- **pointer jumping** (``label = label(label)``, Shiloach-Vishkin):
  every label is a vertex id, so a self-join on ``label == vid``
  halves the remaining path length; :func:`hash_min_rounds` runs it in
  the convergence tail only, which ``wcc``'s finish usually pre-empts
  but :func:`scc`'s directed sweeps reach;
- per-round metrics (rows shuffled = messages aggregated, delta norm =
  label changes, frontier size) and the finish's stop test ride an
  ``Observation`` on the state-checkpoint action — ONE Spark job per
  round; the state is ``localCheckpoint``-ed every round and durably
  checkpointed at the ``loop``'s cadence for resume;
- the rounds live in :func:`hash_min_rounds`, which :func:`scc` runs
  over directed edge views and
  :func:`~hoover_spark.operators.label_prop.min_label_propagation`
  without jump or finish — one neighbor-min rule, as the reference's
  community detection reuses its connected-components kernel
  (``test/community_detection.cpp:493-512``).

The result labels each vertex with the minimum vertex id of its
component — exactly the reference's converged state, independent of
partitioning / parallelism (min is order-insensitive).
"""

from __future__ import annotations

import time

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph, per_view
from hoover_spark.plans.iteration import IterationLoop

# The finish collects at most this many label pairs on the driver
# (16 MiB of int64 pairs); read at call time.
FINISH_PAIRS = 1 << 20


def wcc(
    graph: Graph,
    max_iterations: int = 100,
    resume: bool = False,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Return ``(vid: long, label: long)`` — label = min vid in component.

    Runs :func:`hash_min_rounds` until the labels converge or the next
    round would send at most ``FINISH_PAIRS`` messages, then finishes
    with :func:`union_find_finish`, logged as one more round that counts
    towards ``max_iterations`` (a run capped before it returns the
    capped rounds' labels). ``resume=True`` continues from the newest
    checkpoint of ``loop``'s checkpoint dir. Every run publishes the
    vertex count as ``loop.kernel_state["n_state_rows"]``.
    """
    loop = loop or IterationLoop(
        graph.edges.sparkSession, kernel="wcc", max_iterations=max_iterations
    )

    edge_views = graph.sym_edge_views()

    start_iter = 0
    labels = None
    if resume:
        loaded = loop.load_latest()
        if loaded is not None:
            # a checkpoint is a held round state; keep the label columns
            labels, start_iter = loaded[0].select("vid", "label"), loaded[1]
    if labels is None:
        # least(vid, vid), not an alias, so the held state keeps hash(vid)
        labels = graph.vertices().select("vid", F.least("vid", "vid").alias("label"))
    labels, it, stats = hash_min_rounds(
        edge_views, labels, loop, graph.num_partitions,
        rounds=loop.max_iterations - start_iter, start=start_iter, stop_msgs=FINISH_PAIRS,
    )
    loop.kernel_state["n_state_rows"] = None if stats is None else int(stats["total"] or 0)
    if stats is not None and int(stats["changed"] or 0) and it < loop.max_iterations:
        it += 1
        labels = union_find_finish(edge_views, labels, loop, it)
    return loop.finish(labels.select("vid", "label"), it)


def hash_min_rounds(
    edge_views: list[DataFrame],
    labels: DataFrame,
    loop: IterationLoop,
    num_partitions: int,
    rounds: int,
    start: int = 0,
    pointer_jumping: bool = True,
    stop_msgs: int = -1,
) -> tuple[DataFrame, int, dict | None]:
    """The hash-min rounds of :func:`wcc`, along the ``(src, dst)``
    edges of ``edge_views``: each round a vertex takes the min of its
    label and the labels sent to it.

    ``labels`` is ``(vid, label)``. Round 1 sends from every vertex;
    later rounds send only from the rows whose label just dropped.
    ``pointer_jumping`` is the adaptive jump. Runs at most ``rounds``
    rounds numbered from ``start + 1``, stopping early once the labels
    converged or the next round would send at most ``stop_msgs``
    messages (-1: only at convergence). Returns ``loop.run``'s
    ``(state, it, stats)``: the last held state (``label`` and ``_prev``
    among the round's scratch columns), and the last round's
    Observation, whose ``changed`` is 0 once the labels converged,
    ``total`` counts the state rows and ``next_msgs`` the next round's
    messages.

    The state carries ``deg``, each vertex's message count in the round
    that sends from every vertex (round 1, or the first round after a
    resume); over a symmetric view that is also the count it sends, so
    ``next_msgs`` is ``deg`` summed over the rows whose label dropped.

    Over a symmetric view the labels converge to the component min;
    over a directed one to the min vid that reaches each vertex (the
    jump stays sound: min-reachability is transitive).
    """
    # Hold the state hash-partitioned by vid (``keep_partitioning``
    # keeps that across checkpoints) on the edge views' partition
    # count: the frontier ⋈ edges join on src and the labels ⟕ mins
    # join on vid then need no exchange, and the round's one shuffle is
    # its messages' groupBy. Both joins are ``shuffle_hash``-hinted so
    # neither side is broadcast. Exceptions: mins are re-shuffled once
    # more when ``num_partitions`` differs from
    # ``spark.sql.shuffle.partitions``; a jump round leaves the state
    # partitioned by label, and a ``save_state`` re-read loses the
    # partitioning, so the round after either re-shuffles the state.
    labels = loop.hold(labels.repartition(num_partitions, "vid"), keep_partitioning=True)

    # The flood phase runs without the jump; the tail (small frontier)
    # enables it, and a round whose jump lowers nothing retires it.
    # ``pointer_jumping=False`` starts retired.
    jump = {"on": False, "retired": not pointer_jumping}

    def step(state, it, prev):
        if prev is not None and not jump["retired"]:
            changed = int(prev["changed"] or 0)
            if jump["on"] and int(prev["jump_gain"] or 0) == 0:
                # the remaining chains are exhausted; the rest is pure
                # neighbor-min — retire the label self-join shuffle
                jump.update(on=False, retired=True)
            elif not jump["on"] and 0 < changed < max(
                int(prev["total"] or 0) // 64, 1024
            ):
                # tail phase: straggler chains remain and the V-sized
                # self-join is cheap — compress them
                jump["on"] = True
        # 1. neighbor-min over the frontier only (delta processing):
        #    one join per edge view, small outputs unioned. Round 1
        #    sends from every vertex (reference: iteration-0 full send,
        #    send_all_vertices_in_partition, src/hoover.cpp:1517-1533)
        #    and counts each vertex's messages as its ``deg``; later
        #    rounds send from the rows whose label just dropped.
        first = it == start + 1
        front = state if first else state.where(F.col("label") < F.col("_prev"))
        fsrc = front.select(F.col("vid").alias("src"), "label")
        msgs = per_view(
            edge_views,
            lambda v: v.join(fsrc.hint("shuffle_hash"), on="src").select(
                F.col("dst").alias("vid"), "label"
            ),
        )
        mins = msgs.groupBy("vid").agg(
            F.min("label").alias("msg_label"), F.count(F.lit(1)).alias("msg_cnt")
        )
        stepped = (
            state.select("vid", F.col("label").alias("_prev"), *([] if first else ["deg"]))
            .join(mins.hint("shuffle_hash"), on="vid", how="left")
            .select(
                "vid",
                "_prev",
                (F.coalesce("msg_cnt", F.lit(0)) if first else F.col("deg")).alias("deg"),
                F.least(
                    F.col("_prev"), F.coalesce("msg_label", F.col("_prev"))
                ).alias("_sl"),
                F.coalesce("msg_cnt", F.lit(0)).alias("_m"),
            )
        )
        # 2. pointer jumping: label <- min(label, lookup(label)) against
        #    the materialized previous state
        if jump["on"]:
            lookup = state.select(
                F.col("vid").alias("j_vid"), F.col("label").alias("j_label")
            )
            stepped = stepped.join(
                lookup, stepped["_sl"] == lookup.j_vid, "left"
            ).select(
                "vid", "_prev", "deg", "_sl", "_m",
                F.least(F.col("_sl"), F.coalesce("j_label", F.col("_sl"))).alias(
                    "label"
                ),
            )
        else:
            stepped = stepped.withColumn("label", F.col("_sl"))
        # 3. frontier size, messages shuffled, the next round's messages
        #    and the jump's contribution ride the checkpoint action
        dropped = F.col("label") < F.col("_prev")
        return stepped, [
            F.sum(dropped.cast("long")).alias("changed"),
            F.sum("_m").alias("shuffled"),
            F.sum(F.when(dropped, F.col("deg"))).alias("next_msgs"),
            F.sum((F.col("label") < F.col("_sl")).cast("long")).alias("jump_gain"),
            F.count(F.lit(1)).alias("total"),
        ]

    def observe(stats, _prev):
        changed = int(stats["changed"] or 0)
        done = changed == 0 or int(stats["next_msgs"] or 0) <= stop_msgs
        return int(stats["shuffled"] or 0), float(changed), changed, done

    return loop.run(
        labels, step, observe, rounds=rounds, start=start, keep_partitioning=True
    )


def finish_pairs(edge_views: list[DataFrame], state: DataFrame) -> DataFrame:
    """The distinct ``(a, b)`` label pairs, ``a < b``, of the messages the
    next hash-min round would send from ``state`` (a round state of
    :func:`hash_min_rounds`): its frontier's edges, each paired with the
    label at its other end. By the invariant in the module docstring
    these are every cross-label edge's labels."""
    front = state.where(F.col("label") < F.col("_prev")).select(
        F.col("vid").alias("src"), F.col("label").alias("a")
    )
    msgs = per_view(
        edge_views,
        lambda v: v.join(front, on="src").select(F.col("dst").alias("vid"), "a"),
    )
    return (
        msgs.join(state.select("vid", F.col("label").alias("b")), on="vid")
        .where(F.col("a") != F.col("b"))
        .select(F.least("a", "b").alias("a"), F.greatest("a", "b").alias("b"))
        .distinct()
    )


def union_find_finish(
    edge_views: list[DataFrame], state: DataFrame, loop: IterationLoop, it: int
) -> DataFrame:
    """Round ``it`` of :func:`wcc`: collect :func:`finish_pairs`, merge
    them with :func:`min_label_roots` and hold the state's
    :func:`relabel` (no job when no label moves). Logs the round with
    the pairs as rows shuffled, the relabelled rows as delta and
    frontier 0; returns ``(vid, label)``."""
    t0 = time.perf_counter()
    changed = 0
    out = state.select("vid", "label")
    with loop.tagged(it):
        pairs = finish_pairs(edge_views, state).toPandas()
        labels, roots = min_label_roots(pairs["a"].to_numpy(), pairs["b"].to_numpy())
        moved = roots != labels
        if moved.any():
            out, stats = loop.hold_observed(
                relabel(out, labels[moved], roots[moved]),
                F.sum(F.col("_chg").cast("long")).alias("changed"),
            )
            changed = int(stats["changed"] or 0)
    loop.log(it, len(pairs), float(changed), 0, (time.perf_counter() - t0) * 1000.0)
    return out.select("vid", "label")


def relabel(state: DataFrame, old: np.ndarray, new: np.ndarray) -> DataFrame:
    """``state ⟕ broadcast(old→new)`` on ``label``: ``(vid, label, _chg)``
    with every ``old[i]`` label replaced by ``new[i]`` and ``_chg``
    marking the replaced rows. ``old`` must be non-empty: pyspark ships
    a non-empty pandas frame through Arrow, an empty one as pickled
    rows (a stage that starts Python workers)."""
    remap = state.sparkSession.createDataFrame(
        pd.DataFrame({"label": old, "new_label": new}), "label long, new_label long"
    )
    return state.join(F.broadcast(remap), on="label", how="left").select(
        "vid",
        F.coalesce("new_label", "label").alias("label"),
        F.col("new_label").isNotNull().alias("_chg"),
    )


def min_label_roots(src: np.ndarray, dst: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Driver-side union-find over the int64 pairs ``(src[i], dst[i])``:
    returns ``(vids, roots)``, the sorted distinct endpoints and, per
    vid, the min vid of its set.

    Dense local ids, then vectorized min-propagation with pointer
    jumping (no per-row Python — the same no-per-row mandate the rest of
    the engine follows) until no label moves.
    """
    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    label = np.arange(len(vids), dtype=np.int64)
    while True:
        prev = label.copy()
        np.minimum.at(label, d_idx, label[s_idx])
        np.minimum.at(label, s_idx, label[d_idx])
        label = label[label]  # pointer jump
        if np.array_equal(label, prev):
            return vids, vids[label]
