"""Weakly-connected components: hash-min label exchange + pointer jumping.

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
- **pointer jumping** (``label = label(label)``): since every label is
  itself a vertex id, a self-join on ``label == vid`` halves the
  remaining path length each round, turning O(diameter) convergence
  into ~O(log diameter) — essential for long-chain graphs at scale
  (publicly known Shiloach-Vishkin / hash-min-with-shortcut technique);
  by default it runs only in the convergence tail;
- the callers' two switches are ``pointer_jumping`` (adaptive jump or
  none) and ``pre_contract`` (a cold start seeded by an iterated
  per-partition union-find contraction);
- per-iteration metrics (rows shuffled = messages aggregated, delta
  norm = label changes, frontier size) ride an ``Observation`` on the
  state-checkpoint action — ONE Spark job per round, no separate
  stats job or barrier;
- state is ``localCheckpoint``-ed every iteration (lineage truncation)
  and, when the caller's ``loop`` has a checkpoint dir, durably
  checkpointed at its cadence for resume (north rule);
- the rounds live in :func:`hash_min_rounds`, which :func:`scc` runs
  over directed edge views for its color sweeps — the one neighbor-min
  rule for both kernels, as the reference's community detection reuses
  its connected-components kernel
  (``test/community_detection.cpp:493-512``);
- :func:`min_label_roots` is the numpy union-find that the contraction
  sweep runs per task and the streaming ingest runs on the driver: an
  insert-only edge batch merges whole components, so a warm stream
  relabels by a union-find over the batch's ``(label(src),
  label(dst))`` pairs instead of re-running these rounds
  (:mod:`hoover_spark.streaming.ingest`).

The result labels each vertex with the minimum vertex id of its
component — exactly the reference's converged state, independent of
partitioning / parallelism (min is order-insensitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph, per_view
from hoover_spark.plans.iteration import IterationLoop


def wcc(
    graph: Graph,
    max_iterations: int = 100,
    pointer_jumping: bool = True,
    resume: bool = False,
    loop: IterationLoop | None = None,
    pre_contract: bool = False,
) -> DataFrame:
    """Return ``(vid: long, label: long)`` — label = min vid in component.

    Two switches: ``pointer_jumping`` and ``pre_contract``.

    ``pointer_jumping=True`` (default) keeps the jump self-join OFF
    during the flood phase (large frontier) and enables it only once
    the frontier drops below ``max(|V|/64, 1024)`` — the convergence
    tail, where straggler chains remain and the V-sized self-join is
    cheap relative to the rounds it removes — then retires it again
    once a round's jump lowers no label. During the flood phase the
    jump would materialize the state an extra time and shuffle both
    sides by ``label`` every round (2x|V| extra shuffled rows) while
    removing only ~30 % of rounds (16 vs 23 measured on the 300k repo
    graph). Doubling only collapses the *pointer* graph, which aligns
    with the underlying topology on monotone-id chains but not on
    randomly-labelled paths (a 100k scrambled-id path does not converge
    in O(log n) rounds with jumping); for genuinely high-diameter cold
    graphs add ``pre_contract=True``. ``False`` never jumps — exact
    per-round hash-min semantics (``min_label_propagation``). Converged
    labels are identical either way (hash-min is monotone); only the
    round count differs.

    ``pre_contract=True`` seeds the start from :func:`multi_contract`'s
    iterated per-partition union-find pass: each edge partition is
    collapsed to a star forest in one zero-shuffle ``mapInPandas``
    sweep, the star forest is contracted again ``CONTRACT_LEVELS - 1``
    times, and every vertex starts at the min vid of its contracted set
    instead of its own vid. Correctness is unaffected: seeds are
    component members ≥ the component min, and the component's min
    vertex always seeds itself, so hash-min converges to the exact same
    labels. The sweep reads the full edge set, so it is a caller choice
    for large graphs (fewer rounds), not a default.

    ``resume=True`` continues from the newest checkpoint of ``loop``'s
    checkpoint dir (any round prefix converges to the same labels).
    Every run publishes the vertex count as
    ``loop.kernel_state["n_state_rows"]`` (from the per-round
    Observation, no extra job).
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
        if pre_contract:
            # a vertex split across partitions keeps the min of its
            # local roots (edges are already hash-partitioned by src)
            seed = (
                multi_contract(edge_views, graph.num_partitions)
                .groupBy("vid")
                .agg(F.min("root").alias("label"))
            )
            # vertices whose only incidence is a self-loop never
            # reach sym_edges — keep them, labelled by their own vid
            missing = (
                graph.vertices()
                .join(seed.select("vid"), on="vid", how="left_anti")
                .select("vid", F.col("vid").alias("label"))
            )
            labels = seed.unionByName(missing)
        else:
            # least(vid, vid), not an alias, so the held state keeps hash(vid)
            labels = graph.vertices().select("vid", F.least("vid", "vid").alias("label"))
    labels, it, stats = hash_min_rounds(
        edge_views,
        labels,
        loop,
        graph.num_partitions,
        rounds=loop.max_iterations - start_iter,
        start=start_iter,
        pointer_jumping=pointer_jumping,
    )
    loop.kernel_state["n_state_rows"] = None if stats is None else int(stats["total"] or 0)
    return loop.finish(labels.select("vid", "label"), it)


def hash_min_rounds(
    edge_views: list[DataFrame],
    labels: DataFrame,
    loop: IterationLoop,
    num_partitions: int,
    rounds: int,
    start: int = 0,
    pointer_jumping: bool = True,
) -> tuple[DataFrame, int, dict | None]:
    """The hash-min rounds of :func:`wcc`, along the ``(src, dst)``
    edges of ``edge_views``: each round a vertex takes the min of its
    label and the labels sent to it.

    ``labels`` is ``(vid, label)``. Round 1 sends from every vertex;
    later rounds send only from the rows whose label just dropped.
    ``pointer_jumping`` is wcc's adaptive jump. Runs at most ``rounds``
    rounds numbered from ``start + 1`` and returns ``loop.run``'s
    ``(state, it, stats)``: the last held state (``label`` among the
    round's scratch columns), and the last round's Observation, whose
    ``changed`` is 0 once the labels converged and ``total`` counts the
    state rows.

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
    # ``pointer_jumping=False`` starts retired. (A start-on/retire-at-
    # zero-gain mode was measured and rejected: with pre_contract
    # seeding the jump's gain is structurally 0 in round 1 — local
    # chains are already collapsed — so it retires immediately and
    # degenerates to no-jump, 19 vs 14 rounds on the sf0.1 repo graph.)
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
        #    send_all_vertices_in_partition, src/hoover.cpp:1517-1533);
        #    later rounds from the rows whose label just dropped.
        if it == start + 1:
            front = state
        else:
            front = state.where(F.col("label") < F.col("_prev"))
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
        keep = ["vid", "_prev"]
        stepped = (
            state.select("vid", F.col("label").alias("_prev"))
            .join(mins.hint("shuffle_hash"), on="vid", how="left")
            .select(
                *keep,
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
                *keep,
                "_sl",
                "_m",
                F.least(F.col("_sl"), F.coalesce("j_label", F.col("_sl"))).alias(
                    "label"
                ),
            )
        else:
            stepped = stepped.withColumn("label", F.col("_sl"))
        # 3. frontier size, messages shuffled and the jump's
        #    contribution ride the checkpoint action
        return stepped, [
            F.sum((F.col("label") < F.col("_prev")).cast("long")).alias("changed"),
            F.sum("_m").alias("shuffled"),
            F.sum((F.col("label") < F.col("_sl")).cast("long")).alias("jump_gain"),
            F.count(F.lit(1)).alias("total"),
        ]

    def observe(stats, _prev):
        changed = int(stats["changed"] or 0)
        return int(stats["shuffled"] or 0), float(changed), changed, changed == 0

    return loop.run(
        labels, step, observe, rounds=rounds, start=start, keep_partitioning=True
    )


# Contraction depth of ``pre_contract``: the star forest is contracted
# this many times. 3 levels were fastest on the 300k repo graph (BENCH.md
# r5: 6 rounds vs 14 at one level; 4+ levels add in-plan shuffle depth
# and lose).
CONTRACT_LEVELS = 3


def multi_contract(edge_views, num_partitions: int = 32):
    """Iterated per-partition star contraction: (vid, root) mapping.

    Level 1 runs :func:`local_contract` over each edge view (zero
    shuffles when the views are pre-partitioned by src). Each of the
    further ``CONTRACT_LEVELS - 1`` levels contracts the *star forest*
    of the previous mapping: a vertex whose edges were split across k
    partitions carries k (vid, root) rows, and hashing the star edges
    by src co-locates them, so one union-find task links those roots
    together — the cross-partition merge that level 1 cannot see. The
    composed mapping sends every vertex through its level-1 root to
    that root's level-2 root, etc. Publicly known technique: iterated
    star contraction (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14).

    Soundness: every root is the min of a union-find set whose members
    all lie in one component, so any composition maps a vertex to a
    component member ≤ its current label; the component minimum only
    ever maps to itself. Hash-min over seeds produced here therefore
    converges to the exact same labels — levels only reduce rounds.
    All levels are lazy (no action): the whole pyramid lands inside
    round 1's plan.
    """
    mapping = per_view(
        edge_views,
        lambda v: local_contract(v, num_partitions, assume_partitioned=True),
    )
    cur = mapping
    for _ in range(CONTRACT_LEVELS - 1):
        star = cur.select(F.col("vid").alias("src"), F.col("root").alias("dst"))
        nxt = local_contract(star, num_partitions)
        # one row per star node (min root) to keep the compose join
        # from multiplying the mapping's row count level over level
        lk = nxt.groupBy("vid").agg(F.min("root").alias("deep_root"))
        mapping = (
            mapping.join(
                lk.withColumnRenamed("vid", "root"), on="root", how="left"
            )
            .select("vid", F.coalesce("deep_root", "root").alias("root"))
        )
        cur = nxt
    return mapping


def local_contract(edges, num_partitions: int = 32, assume_partitioned: bool = False):
    """Per-partition union-find contraction: (vid, root) mapping.

    ``assume_partitioned=True`` skips the hash-repartition when the
    caller's edges are already partitioned (e.g. ``Graph.sym_edges()``)
    — the sweep then runs with ZERO shuffles. Any partitioning is
    correct (the mapping is a conservative refinement); partitioning by
    src just maximizes how much collapses locally.

    Each task runs an array-based union-find over its partition's edge
    block (Arrow batch via ``mapPartitions``-style ``mapInPandas``) —
    the per-partition-CSR compute pattern of the north rule. Intra-
    partition paths collapse to depth 1 *before* any shuffle iteration,
    so the distributed hash-min rounds that follow only resolve
    cross-partition merges. Roots are the min vid of each local set,
    keeping the mapping composable with hash-min (monotone min).
    """
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("vid", T.LongType(), False),
            T.StructField("root", T.LongType(), False),
        ]
    )

    def run(batches):
        chunks = [pdf for pdf in batches if not pdf.empty]
        if not chunks:
            yield pd.DataFrame({"vid": np.array([], dtype=np.int64),
                                "root": np.array([], dtype=np.int64)})
            return
        # ~log(diameter) rounds with jumping; any prefix is still a
        # CORRECT (conservative) refinement, so the sweep caps them
        vids, roots = min_label_roots(
            np.concatenate([c["src"].to_numpy() for c in chunks]),
            np.concatenate([c["dst"].to_numpy() for c in chunks]),
            max_rounds=64,
        )
        yield pd.DataFrame({"vid": vids, "root": roots})

    # keep EVERY (vid, root) pair: a vertex seen in several partitions
    # links its per-partition roots together — collapsing to one root
    # here would disconnect components that only meet through it.
    if not assume_partitioned:
        edges = edges.repartition(num_partitions, "src")
    return edges.mapInPandas(run, schema=schema).distinct()


def min_label_roots(src, dst, max_rounds: int | None = None):
    """Driver- or task-local union-find over the int64 pairs
    ``(src[i], dst[i])``: returns ``(vids, roots)``, the sorted distinct
    endpoints and, per vid, the min vid of its set.

    Dense local ids, then vectorized min-propagation with pointer
    jumping (no per-row Python — the same no-per-row mandate the rest of
    the engine follows) until no label moves, or for at most
    ``max_rounds`` rounds, which may leave a set split into several
    roots (each still a member ≤ every vid mapped to it).
    """
    import numpy as np

    vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    s_idx, d_idx = inv[: len(src)], inv[len(src):]
    label = np.arange(len(vids), dtype=np.int64)
    rounds = 0
    while max_rounds is None or rounds < max_rounds:
        rounds += 1
        prev = label.copy()
        np.minimum.at(label, d_idx, label[s_idx])
        np.minimum.at(label, s_idx, label[d_idx])
        label = label[label]  # pointer jump
        if np.array_equal(label, prev):
            break
    return vids, vids[label]
