"""Strongly connected components — the directed sibling of WCC and the
classic web-link-graph decomposition (the Broder et al. 2000 "bow-tie"
structure of the web is an SCC analysis).

Reference mapping: HOOVER's connected-components app exchanges hash-min
labels over the undirected edge view (``test/connected_components.c:
88-112``); SCC needs mutual reachability, so one hash-min pass is not
enough. We implement the **coloring algorithm** (Orzan 2004; the
FW-BW/coloring family of Slota, Rajamanickam & Madduri, IPDPS 2014 —
the standard scalable SCC method), expressed as two runs of the SAME
directed hash-min kernel per outer round:

1. **Forward coloring** — min-label propagation along directed edges
   to convergence: ``color(v)`` = min vid that reaches ``v``.
2. **Backward coloring, class-restricted** — the same kernel on the
   REVERSED edges filtered to same-color endpoints:
   ``rcolor(v)`` = min vid reachable from ``v`` without leaving the
   color class. ``v`` belongs to the SCC anchored at its class root
   exactly when ``rcolor(v) = color(v)`` (the root is its class's min
   vid, and every member→root path stays inside the class — classic
   FW-BW argument). Members leave the active set; unassigned color
   classes retry next round.

Both runs are :func:`~hoover_spark.operators.wcc.hash_min_rounds` —
WCC's own rounds, over the one-view lists ``[e]`` and ``[er]`` instead
of the symmetric edges, so the neighbor-min rule is written once. Its
adaptive **pointer jumping** stays sound on directed edges:
min-reachability is transitive (``u →* v`` and ``w →* u`` imply
``w →* v``), so ``color(v) ← min(color(v), color(color(v)))`` only
ever lowers a color to a vertex that still reaches ``v``, and it cuts
the convergence tail from O(diameter) to O(log diameter)-ish rounds.

Spark-first plan: state is ``(vid, label)``, hash-partitioned by vid;
each inner round is one Spark job (the held state's Observation) that
joins only the **frontier** — the rows whose color dropped last round
— against the per-outer-round persisted active-subgraph edge view
(O(active edges), reused across all inner rounds), so a settled color
is never re-sent. At 10¹² edges the outer-round count is the graph's
SCC-DAG "peeling depth" from each round's root set — small on web
graphs, where one giant SCC dominates (Broder et al.); ``max_outer``
guards pathological chains.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.wcc import hash_min_rounds
from hoover_spark.plans.iteration import IterationLoop


def scc(
    graph: Graph,
    loop: IterationLoop | None = None,
    max_outer: int = 30,
) -> DataFrame:
    """Exact SCC labels over the directed edge list.

    Returns ``(vid: long, label: long)`` where ``label`` is the MIN
    vertex id of the vertex's strongly connected component (the same
    canonical-min convention as :func:`wcc`), covering every vertex of
    :meth:`Graph.vertices` (self-loop-only vertices are singleton
    SCCs — they have no cleaned edges, so ``color = rcolor = vid``).
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="scc", max_iterations=10_000)

    edges = graph.clean_edges().select("src", "dst")
    active, stats = loop.hold_observed(
        graph.vertices(), F.count(F.lit(1)).alias("n_active")
    )
    n_active = int(stats["n_active"] or 0)
    result: DataFrame | None = None
    it = 0

    def sweep(view: DataFrame, init: DataFrame, it0: int) -> tuple[DataFrame, int]:
        """Directed hash-min over ``view`` to convergence: ``(vid, label)``
        with label = the min vid of ``init`` reaching each vertex."""
        labels, it1, stats = hash_min_rounds(
            [view], init, loop, graph.num_partitions, rounds=200, start=it0
        )
        if int(stats["changed"] or 0) != 0:
            raise RuntimeError("scc: directed min-label failed to converge")
        return labels.select("vid", "label"), it1

    for _outer in range(1, max_outer + 1):
        if n_active == 0:
            break
        e = loop.hold(
            edges.join(
                active.select(F.col("vid").alias("src")), on="src", how="left_semi"
            ).join(
                active.select(F.col("vid").alias("dst")), on="dst", how="left_semi"
            )
        )
        init = active.select("vid", F.col("vid").alias("label"))

        color, it = sweep(e, init, it)

        # reversed, class-restricted edges: a path in er never leaves
        # its color class, so rcolor is within-class min reachability
        er = loop.hold(
            e.join(
                color.select(F.col("vid").alias("src"), F.col("label").alias("cs")),
                on="src",
            )
            .join(
                color.select(F.col("vid").alias("dst"), F.col("label").alias("cd")),
                on="dst",
            )
            .where(F.col("cs") == F.col("cd"))
            .select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        )
        rcolor, it = sweep(er, init, it)

        member = (
            color.join(rcolor.select("vid", F.col("label").alias("rc")), on="vid")
            .where(F.col("label") == F.col("rc"))
            .select("vid", "label")
        )
        member = loop.hold(member)
        result = member if result is None else result.unionByName(member)
        result = loop.hold(result)
        active, stats = loop.hold_observed(
            active.join(member.select("vid"), on="vid", how="left_anti"),
            F.count(F.lit(1)).alias("n_active"),
        )
        n_active = int(stats["n_active"] or 0)

    if n_active > 0:
        raise RuntimeError(
            f"scc: {max_outer} outer rounds exhausted with {n_active} active "
            "vertices left (SCC-DAG peeling depth exceeds max_outer — raise it)"
        )
    if result is None:
        return graph.vertices().select(
            "vid", F.col("vid").alias("label")
        ).where(F.lit(False))
    return loop.finish(result.select("vid", "label"), it)
