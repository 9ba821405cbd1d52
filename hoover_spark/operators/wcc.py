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
- per-iteration metrics (rows shuffled = messages aggregated, delta
  norm = label changes, frontier size) ride an ``Observation`` on the
  state-checkpoint action — ONE Spark job per round, no separate
  stats job or barrier;
- state is ``localCheckpoint``-ed every iteration (lineage truncation)
  and durably checkpointed every ``checkpoint_every`` iterations for
  resume (north rule).

The result labels each vertex with the minimum vertex id of its
component — exactly the reference's converged state, independent of
partitioning / parallelism (min is order-insensitive).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.plans.iteration import IterationLoop


def wcc(
    graph: Graph,
    spark: SparkSession | None = None,
    max_iterations: int = 100,
    pointer_jumping: bool | str = "auto",
    checkpoint_dir: str | None = None,
    checkpoint_every: int = 5,
    resume: bool = False,
    loop: IterationLoop | None = None,
    initial_labels: DataFrame | None = None,
    initial_frontier: DataFrame | None = None,
    pre_contract: bool = False,
    pre_contract_levels: int = 1,
    track_changes: bool = False,
) -> DataFrame:
    """Return ``(vid: long, label: long)`` — label = min vid in component.

    ``initial_labels`` warm-starts the iteration (used by streaming
    incremental re-convergence; reference analogue: mirrors persist
    across ``start_time_step`` batches). ``initial_frontier`` (vid set)
    restricts the first round's messages to vertices whose adjacency
    changed — the reference's ``mark_for_processing`` on edge insert
    (``src/hoover.cpp:603-622``); correct because any label improvement
    must originate at a vertex incident to a new edge.

    ``pointer_jumping="auto"`` (default) keeps the jump self-join OFF
    during the flood phase (large frontier) and enables it only once
    the frontier drops below ``max(|V|/64, 1024)`` — the convergence
    tail, where straggler chains remain and the V-sized self-join is
    cheap relative to the rounds it removes. Rationale is cost
    structure, not sandbox timing (single-box walls at this job-count
    regime swing 2-8x under hypervisor steal — measured 19-152 s for
    byte-identical runs): during the flood phase the jump materializes
    the state an extra time and shuffles both sides by ``label`` every
    round — 2x|V| extra shuffled rows per round at cluster scale —
    while removing only ~30 % of rounds (16 vs 23 measured on the 300k
    repo graph, jump improving 35-50 % as many labels per round as the
    message step). Doubling only collapses the *pointer* graph, which
    aligns with the underlying topology on monotone-id chains but not
    on randomly-labelled paths (measured: a 100k scrambled-id path does
    not converge in O(log n) rounds with jumping); for genuinely
    high-diameter graphs add ``pre_contract=True``, whose per-partition
    union-find contraction collapses local chains before any shuffle
    round. ``True`` / ``False`` pin the behavior. Converged labels are
    identical in all modes (hash-min is monotone); only the round count
    differs.

    ``pre_contract=True`` seeds the labels from
    :func:`local_contract`'s per-partition union-find pass: each edge
    partition is collapsed to a star forest in one zero-shuffle
    ``mapInPandas`` sweep, and every vertex starts at the min vid of
    its *local* set instead of its own vid. Intra-partition diameter is
    gone before round 1, so the shuffle rounds only resolve
    cross-partition merges — directly attacking the
    rounds x scheduling-floor product that dominates wall time on
    cold graphs. Correctness is unaffected: seeds are component
    members ≥ the component min (min is monotone), and the component's
    min vertex always seeds itself (its local root can only be
    itself), so hash-min still converges to the exact same labels.

    ``pre_contract_levels > 1`` iterates the contraction on its own
    star forest (:func:`multi_contract`): a vertex whose edges landed
    in several partitions carries one root per partition, and
    re-partitioning the (vid, root) mapping by vid puts those rows in
    one task, whose union-find merges the roots — each level collapses
    cross-partition chains the way one hash-min round over the star
    forest would, but with full per-partition transitive closure and
    still ZERO extra Spark jobs (the levels are part of round 1's
    plan). Seeds stay monotone-exact for the same reason as level 1
    (every mapping step sends a vertex to a component member ≤ its
    current label, and the component minimum can only map to itself),
    so the hash-min rounds that follow correct any residue — levels
    only trade plan depth for round count. Publicly known technique:
    iterated star contraction (Kiveris et al., "Connected Components
    in MapReduce and Beyond", SoCC'14).

    ``pre_contract`` composes with warm starts (both
    ``initial_labels`` and ``initial_frontier``): seeds become the
    min *initial label* over each local union-find set, and every
    vertex whose seed dropped below its pre-seed label is added to the
    initial frontier so lowered seeds are actually broadcast (without
    the expansion the combination was unsound — a converged loop could
    leave stale non-minimum labels on vertices outside the caller's
    frontier). Streaming re-convergence after a LARGE batch uses this
    to collapse newly-ingested chains in one zero-shuffle sweep
    instead of O(chain-length) message rounds.

    ``track_changes=True`` makes the kernel carry each vertex's INITIAL
    label (``initial_labels`` entry, or own vid) as an extra state
    column and publish ``loop.kernel_state["changed_rows"]`` — a lazy
    ``(vid, label)`` view over the final materialized state of exactly
    the rows whose label dropped below their initial label (the
    reference's ``needs_send`` set, ``inc/hvr_vertex.h:79-86``). The
    streaming path persists ONLY these rows per micro-batch instead of
    rewriting the full O(|V|) state. Cost: one extra 8-byte column
    carried through the rounds and a zero-shuffle filter at the end —
    no extra joins or jobs (labels are monotone non-increasing, so the
    final-vs-initial comparison needs no per-round bookkeeping).
    """
    # identity checks: `1 in (True, ...)` is True in Python (1 == True),
    # which would defeat the point of rejecting truthy non-bools
    if not (
        pointer_jumping is True
        or pointer_jumping is False
        or pointer_jumping == "auto"
    ):
        # truthy non-True values (1, numpy.bool_) must not silently
        # flip the adaptive mode off (ADVICE r2)
        raise ValueError(
            f"pointer_jumping must be True, False or 'auto'; got {pointer_jumping!r}"
        )
    spark = spark or graph.edges.sparkSession
    loop = loop or IterationLoop(
        spark,
        kernel="wcc",
        checkpoint_dir=checkpoint_dir,
        checkpoint_every=checkpoint_every,
        max_iterations=max_iterations,
    )

    # Edge set as a LIST of views (usually one). A composite graph
    # (persisted base + micro-batch delta, DeltaGraph) yields two: the
    # per-round message join runs per view and unions the (small,
    # frontier-bounded) outputs, so the base keeps its persisted
    # hash-partitioning — a union of the views themselves would erase
    # it and re-shuffle the full edge side every round.
    edge_views = graph.sym_edge_views()

    start_iter = 0
    labels = None
    if resume:
        loaded = loop.load_latest()
        if loaded is not None:
            # a checkpoint is a held round state; keep the label columns
            labels, start_iter = loaded[0].drop("_prev", "_sl", "_m"), loaded[1]
    if labels is None:
        base0 = (
            initial_labels.select("vid", "label")
            if initial_labels is not None
            else None
        )
        if pre_contract:
            # one zero-shuffle union-find sweep per partition; a vertex
            # split across partitions keeps the min of its local roots
            # (edges are already hash-partitioned by src). Extra levels
            # contract the star forest itself (see multi_contract).
            mapping = multi_contract(
                edge_views, graph.num_partitions, levels=pre_contract_levels
            )
            if base0 is None:
                seed = mapping.groupBy("vid").agg(F.min("root").alias("label"))
                # vertices whose only incidence is a self-loop never
                # reach sym_edges — keep them, labelled by their own vid
                missing = (
                    graph.vertices()
                    .join(seed.select("vid"), on="vid", how="left_anti")
                    .select("vid", F.col("vid").alias("label"))
                )
            else:
                # label-aware contraction (warm start): every local set
                # starts at the MIN of its members' initial labels —
                # correct because a warm label is the min vid of the
                # vertex's old component, hence a vertex id inside the
                # same (possibly newly merged) component; min over a
                # local set is therefore a component member ≥ the true
                # min, and hash-min remains monotone-exact.
                rl = (
                    mapping.join(base0, on="vid", how="left")
                    .select("root", F.coalesce("label", "vid").alias("l0"))
                    .groupBy("root")
                    .agg(F.min("l0").alias("rlabel"))
                )
                seed = (
                    mapping.join(rl, on="root")
                    .groupBy("vid")
                    .agg(F.min("rlabel").alias("label"))
                )
                # vertices absent from BOTH initial_labels and the
                # symmetric edge set (self-loop-only) would otherwise be
                # silently dropped in the warm path (r4 ADVICE) — the
                # same left-anti guard the cold branch applies, lazily
                # unioned so it folds into round 1's plan.
                vguard = (
                    graph.vertices()
                    .join(base0.select("vid"), on="vid", how="left_anti")
                    .select("vid", F.col("vid").alias("label"))
                )
                missing = (
                    base0.unionByName(vguard)
                    .join(seed.select("vid"), on="vid", how="left_anti")
                    .select("vid", "label")
                )
            labels = seed.unionByName(missing)
        elif base0 is not None:
            labels = base0
        else:
            labels = graph.vertices().select(
                F.col("vid"), F.col("vid").alias("label")
            )
    if track_changes and "l0" not in labels.columns:
        # reference point for the changed-rows view: the CALLER's
        # initial label (prev stored state), not the (possibly already
        # lowered) pre_contract seed — a seed drop IS a change to
        # record. Lazy; folds into round 1's plan.
        if initial_labels is None:
            labels = labels.withColumn("l0", F.col("vid"))
        elif not pre_contract:
            # labels IS the caller's initial mapping — copy, no join
            labels = labels.withColumn("l0", F.col("label"))
        else:
            ref = initial_labels.select("vid", F.col("label").alias("l0"))
            labels = labels.join(ref, on="vid", how="left").select(
                "vid", "label", F.coalesce("l0", "vid").alias("l0")
            )
    # keep state hash-partitioned by vid across iterations so the
    # labels ⟕ mins join only shuffles the (smaller) message side
    labels = loop.hold(labels.repartition(graph.num_partitions, "vid"))

    # Initially every vertex is "dirty" (reference: iteration-0 full send,
    # send_all_vertices_in_partition, src/hoover.cpp:1517-1533) — unless a
    # warm start narrows the dirty set to changed-adjacency vertices.
    if initial_frontier is not None and start_iter == 0:
        front_ids = initial_frontier.select("vid")
        if pre_contract:
            # soundness (r3 ADVICE): contraction-lowered seeds outside
            # the caller's frontier carry information only frontier
            # members broadcast — every vertex whose seed label dropped
            # below its pre-seed label joins the initial frontier.
            if initial_labels is not None:
                lowered = (
                    labels.join(
                        initial_labels.select(
                            "vid", F.col("label").alias("_init_l0")
                        ),
                        on="vid",
                    )
                    .where(F.col("label") < F.col("_init_l0"))
                    .select("vid")
                )
            else:
                lowered = labels.where(F.col("label") < F.col("vid")).select("vid")
            front_ids = front_ids.unionByName(lowered).distinct()
        frontier = labels.join(front_ids, on="vid", how="left_semi")
    else:
        frontier = labels

    adaptive_jump = pointer_jumping == "auto"
    # auto: flood phase runs without the jump; the tail (small frontier)
    # enables it. Pinned True/False skip the adaptation entirely.
    # (A start-on/retire-at-zero-gain mode was measured and rejected:
    # with pre_contract seeding the jump's gain is structurally 0 in
    # round 1 — local chains are already collapsed — so it retires
    # immediately and degenerates to no-jump, 19 vs pinned's 14 rounds
    # on the sf0.1 repo graph.)
    jump = {"on": pointer_jumping is True, "retired": False}
    carry = ["l0"] if track_changes else []

    def step(state, it, prev):
        if adaptive_jump and prev is not None:
            changed = int(prev["changed"] or 0)
            if jump["on"] and int(prev["jump_gain"] or 0) == 0:
                # the remaining chains are exhausted; the rest is pure
                # neighbor-min — retire the label self-join shuffle
                jump.update(on=False, retired=True)
            elif (
                not jump["on"]
                and not jump["retired"]
                and 0 < changed < max(int(prev["total"] or 0) // 64, 1024)
            ):
                # tail phase: straggler chains remain and the V-sized
                # self-join is cheap — compress them
                jump["on"] = True
        # 1. neighbor-min over the frontier only (delta processing):
        #    one join per edge view, small outputs unioned. After round
        #    1 the frontier is the rows whose label just dropped.
        if it == start_iter + 1:
            front = frontier
        else:
            front = state.where(F.col("label") < F.col("_prev"))
        fsrc = front.select(F.col("vid").alias("src"), "label")
        msgs = None
        for v in edge_views:
            m = v.join(fsrc, on="src").select(F.col("dst").alias("vid"), "label")
            msgs = m if msgs is None else msgs.unionByName(m)
        mins = msgs.groupBy("vid").agg(
            F.min("label").alias("msg_label"), F.count(F.lit(1)).alias("msg_cnt")
        )
        keep = ["vid", *carry, "_prev"]
        stepped = (
            state.select("vid", *carry, F.col("label").alias("_prev"))
            .join(mins, on="vid", how="left")
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
        loop.kernel_state["n_vertices"] = int(stats["total"] or 0)
        return int(stats["shuffled"] or 0), float(changed), changed, changed == 0

    loop.kernel_state["n_vertices"] = None
    labels, it, _ = loop.run(
        labels, step, observe, rounds=loop.max_iterations - start_iter, start=start_iter
    )
    if track_changes:
        # zero-shuffle filter over the final materialized state — the
        # rows whose label moved below the caller's initial mapping
        loop.kernel_state["changed_rows"] = labels.where(
            F.col("label") < F.col("l0")
        ).select("vid", "label")
    return loop.finish(labels.select("vid", "label"), it)


def multi_contract(edge_views, num_partitions: int = 32, levels: int = 1):
    """Iterated per-partition star contraction: (vid, root) mapping.

    Level 1 runs :func:`local_contract` over each edge view (zero
    shuffles when the views are pre-partitioned by src). Each further
    level contracts the *star forest* of the previous mapping: a vertex
    whose edges were split across k partitions carries k (vid, root)
    rows, and hashing the star edges by src co-locates them, so one
    union-find task links those roots together — the cross-partition
    merge that level 1 cannot see. The composed mapping sends every
    vertex through its level-1 root to that root's level-2 root, etc.

    Soundness (same invariant as single-level seeding): every root is
    the min of a union-find set whose members all lie in one component,
    so any composition maps a vertex to a component member ≤ its
    current label; the component minimum only ever maps to itself.
    Hash-min over seeds produced here therefore converges to the exact
    same labels — levels only reduce rounds. All levels are lazy
    (no action): the whole pyramid lands inside round 1's plan.
    """
    mapping = local_contract(edge_views[0], num_partitions, assume_partitioned=True)
    for v in edge_views[1:]:
        mapping = mapping.unionByName(
            local_contract(v, num_partitions, assume_partitioned=True)
        )
    cur = mapping
    for _ in range(max(1, int(levels)) - 1):
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
        src = np.concatenate([c["src"].to_numpy() for c in chunks])
        dst = np.concatenate([c["dst"].to_numpy() for c in chunks])
        # dense local ids; fully vectorized min-propagation with pointer
        # jumping (no per-row Python — the same no-per-row mandate the
        # rest of the engine follows)
        vids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
        s_idx, d_idx = inv[: len(src)], inv[len(src):]
        label = np.arange(len(vids), dtype=np.int64)
        for _ in range(64):  # ~log(diameter) with jumping; any prefix is
            prev = label.copy()  # still a CORRECT (conservative) refinement
            np.minimum.at(label, d_idx, label[s_idx])
            np.minimum.at(label, s_idx, label[d_idx])
            label = label[label]  # pointer jump
            if np.array_equal(label, prev):
                break
        yield pd.DataFrame({"vid": vids, "root": vids[label]})

    # keep EVERY (vid, root) pair: a vertex seen in several partitions
    # links its per-partition roots together — collapsing to one root
    # here would disconnect components that only meet through it.
    if not assume_partitioned:
        edges = edges.repartition(num_partitions, "src")
    return edges.mapInPandas(run, schema=schema).distinct()

