"""GBAD-style graph-based anomaly detection (intrusion detection app).

Reference semantics (``test/intrusion_detection.cpp``):

- the graph is an implicit radius graph over 3-D integer feature points
  (``should_have_edge`` at :423-437 — Euclidean distance ≤ threshold);
- for every vertex, ``explore_subgraphs`` (:333-406) DFS-enumerates
  connected subgraph *states* of ≤ ``MAX_SUBGRAPH_VERTICES = 4``
  vertices (:34): each recursive step adds exactly one edge — either to
  a brand-new vertex slot or between two slots already present — and
  every visited state increments ``pattern_counts[adjacency_matrix]``
  (:349), where the 16-bit matrix encodes edges between *insertion-
  order* slots (``m_set``/``m_get``, :47-57);
- pattern score = count × n_edges (:408-410 with
  ``adjacency_matrix_n_edges`` counting each undirected edge once);
  the top ``N_PATTERNS_SHARED = 5`` per PE are merged globally and the
  top ``N_PATTERNS_TO_CONSIDER = 6`` are the "normative" patterns
  (:617-665);
- an anomaly is a pattern that is NOT identical to any normative
  pattern but has Hamming distance (popcount of matrix XOR, :210-214)
  ≤ ``MAX_DISTANCE_FOR_ANOMALY = 1`` to one (:795-874).

Spark-first port: the DFS is a **bounded-depth frontier iteration** —
state rows ``(v1..v4, n, last, matrix)`` expand through an equi-join on
the last-added vertex against the symmetric edge list; each step sets at
least one previously-unset matrix bit, so the walk terminates in ≤ 4
rounds (a ≤4-vertex pattern holds ≤ 4 insertion-reachable undirected
edges). The rounds run on the superstep driver
(:meth:`~hoover_spark.plans.iteration.IterationLoop.run`): each round's
frontier is held with its state count in one Spark job, and the walk
stops at the first empty frontier. Counts are plain
``groupBy(matrix).count()`` over all held frontiers, summed once at the
end — partial-aggregated, shuffle = one join per round keyed by vertex
id. No per-row Python; multiplicities match the reference's DFS
visit counts exactly (verified against a recursive python mirror in
``tests/test_gbad.py``).

At 100 TB the frontier can explode on dense neighborhoods exactly like
the reference's DFS does (its n_explores is the same quantity); the
standard guard is degree-capping the exploration graph before mining —
exposed as ``max_degree``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from hoover_spark.plans.iteration import IterationLoop, until_zero

MAX_SUBGRAPH_VERTICES = 4
N_PATTERNS_SHARED = 5
N_PATTERNS_TO_CONSIDER = 6
MAX_DISTANCE_FOR_ANOMALY = 1

#: round cap: every round adds one undirected edge and a ≤4-vertex
#: subgraph has at most 6, so the 7th round's frontier is empty at the
#: latest
_MAX_ROUNDS = MAX_SUBGRAPH_VERTICES * (MAX_SUBGRAPH_VERTICES - 1) // 2 + 1

#: mask of lower-triangle bits (j <= i) of the 4x4 slot matrix — the
#: reference's adjacency_matrix_n_edges counts each undirected edge once.
_LOWER_MASK = sum(
    1 << (i * MAX_SUBGRAPH_VERTICES + j)
    for i in range(MAX_SUBGRAPH_VERTICES)
    for j in range(i + 1)
)


def n_edges_expr(matrix) -> F.Column:
    """Undirected edge count of a symmetric slot matrix."""
    return F.bit_count(matrix.bitwiseAND(F.lit(_LOWER_MASK)))


def pattern_counts(
    sym_edges: DataFrame,
    vertices: DataFrame,
    max_degree: int | None = 64,
) -> DataFrame:
    """(matrix, count) — GBAD subgraph-pattern frequencies.

    ``sym_edges(src, dst)`` must hold both directions;
    ``vertices(vid)`` the vertex set. Mirrors ``explore_subgraphs``
    state-for-state (multiplicity included).

    The ≤4-vertex state walk is combinatorial in neighborhood density
    (the reference's DFS blows up the same way), so the degree cap is
    **default-on**: vertices above ``max_degree`` are excluded before
    exploration, bounding the frontier at O(|V| · max_degree³) states.
    One hot vertex at 100x scale must not require the caller to have
    remembered a guard. Pass ``max_degree=None`` to opt out explicitly
    (exact reference semantics on graphs known to be degree-bounded).
    """
    e = sym_edges.select("src", "dst")
    if max_degree is not None:
        from pyspark.sql.observation import Observation

        # capped-vertex count rides an Observation on the ONE action
        # that materializes the keep set (r4 ADVICE: the former
        # deg.persist() + eager count() paid a whole extra Spark job
        # per call just to decide whether to warn). The observe node
        # sits above the degree agg and below the filter, so the count
        # covers every vertex; checkpointing keep before the two
        # semi-joins also guarantees the observed node runs exactly
        # once (no double-count from plan reuse).
        obs = Observation()
        deg = (
            e.groupBy("src")
            .agg(F.count(F.lit(1)).alias("_d"))
            .observe(
                obs,
                F.sum((F.col("_d") > max_degree).cast("long")).alias("n_capped"),
            )
        )
        keep = deg.where(F.col("_d") <= max_degree).select("src").localCheckpoint()
        n_capped = obs.get["n_capped"] or 0
        if n_capped:
            # silently-approximate counts must be observable (r3 ADVICE):
            # the cap changes results vs the exact reference enumeration
            import warnings

            warnings.warn(
                f"gbad.pattern_counts: degree cap {max_degree} excluded "
                f"{n_capped} vertices from exploration — pattern counts are "
                "approximate relative to the exact reference DFS; pass "
                "max_degree=None for exact counts on degree-bounded graphs",
                RuntimeWarning,
                stacklevel=2,
            )
        e = (
            e.join(keep, on="src", how="left_semi")
            .join(keep.withColumnRenamed("src", "dst"), on="dst", how="left_semi")
        )
    e = e.localCheckpoint()
    if max_degree is not None:
        # best-effort: Dataset.unpersist() cannot reach RDD-level
        # localCheckpoint blocks (verified: the RDD stays in
        # getRDDStorageInfo afterwards) — keep's blocks are actually
        # reclaimed by ContextCleaner once this Python ref drops; the
        # call below only clears any CacheManager entry
        keep.unpersist()
        del keep

    nil = F.lit(None).cast("long")
    loop = IterationLoop(e.sparkSession, kernel="gbad", max_iterations=_MAX_ROUNDS)
    frontier = loop.hold(
        vertices.select(
            F.col("vid").alias("v1"),
            nil.alias("v2"),
            nil.alias("v3"),
            nil.alias("v4"),
            F.lit(1).alias("n"),
            F.lit(0).alias("last"),
            F.lit(0).alias("matrix"),
        )
    )
    frontiers = []  # the held state of every round

    def step(frontier, _it, _prev):
        frontiers.append(frontier)
        expandable = frontier.where(F.col("n") < MAX_SUBGRAPH_VERTICES)
        lv = F.element_at(F.array("v1", "v2", "v3", "v4"), F.col("last") + 1)
        joined = expandable.withColumn("lv", lv).join(
            e, F.col("lv") == F.col("src")
        )
        idx = (
            F.when(F.col("dst") == F.col("v1"), 0)
            .when(F.col("dst") == F.col("v2"), 1)
            .when(F.col("dst") == F.col("v3"), 2)
            .when(F.col("dst") == F.col("v4"), 3)
        )
        joined = joined.withColumn("idx", idx)
        bit_set = (
            F.expr("shiftright(matrix, cast(idx * 4 + last as int)) & 1") == 1
        )

        # branch 1 — edge between two slots already in the subgraph
        # (explore_subgraphs :369-388): requires the bit unset
        edge_add = joined.where(F.col("idx").isNotNull() & ~bit_set).select(
            "v1", "v2", "v3", "v4",
            F.col("n"),
            F.col("idx").alias("last"),
            F.expr(
                "matrix | shiftleft(1, cast(idx * 4 + last as int))"
                "       | shiftleft(1, cast(last * 4 + idx as int))"
            ).alias("matrix"),
        )
        # branch 2 — brand-new vertex in slot n (:389-401)
        vertex_add = joined.where(F.col("idx").isNull()).select(
            "v1",
            F.when(F.col("n") == 1, F.col("dst")).otherwise(F.col("v2")).alias("v2"),
            F.when(F.col("n") == 2, F.col("dst")).otherwise(F.col("v3")).alias("v3"),
            F.when(F.col("n") == 3, F.col("dst")).otherwise(F.col("v4")).alias("v4"),
            (F.col("n") + 1).alias("n"),
            F.col("n").alias("last"),
            F.expr(
                "matrix | shiftleft(1, cast(n * 4 + last as int))"
                "       | shiftleft(1, cast(last * 4 + n as int))"
            ).alias("matrix"),
        )
        return edge_add.unionByName(vertex_add), [F.count(F.lit(1)).alias("n_states")]

    frontier, it, _ = loop.run(frontier, step, until_zero("n_states"), rounds=_MAX_ROUNDS)
    frontiers.append(frontier)
    allc = None
    for f in frontiers:
        c = f.groupBy("matrix").agg(F.count(F.lit(1)).alias("c"))
        allc = c if allc is None else allc.unionByName(c)
    return loop.finish(allc.groupBy("matrix").agg(F.sum("c").alias("count")), it)


def frequent_patterns(counts: DataFrame, top_k: int = N_PATTERNS_TO_CONSIDER) -> DataFrame:
    """(matrix, count, n_edges, score, rank) — the normative patterns:
    top-k by score = count × n_edges (``score_pattern``, :408-410),
    deterministic tie-break by matrix ascending (the reference's
    selection sort is tie-unstable; we pin the order)."""
    scored = counts.select(
        "matrix",
        "count",
        n_edges_expr(F.col("matrix")).alias("n_edges"),
        (F.col("count") * n_edges_expr(F.col("matrix"))).alias("score"),
    )
    w = Window.orderBy(F.desc("score"), F.asc("matrix"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= top_k)
    )


def anomalies(
    counts: DataFrame,
    frequent: DataFrame,
    max_distance: int = MAX_DISTANCE_FOR_ANOMALY,
) -> DataFrame:
    """(matrix, count, nearest_frequent, dist) — patterns that are NOT
    one of the normative patterns but lie within ``max_distance``
    matrix-bits of one (``update_coupled_val``, :795-874: near-miss of
    a normative pattern = anomaly). ``nearest_frequent`` is the
    highest-ranked frequent pattern within range (the reference keeps
    the first match in rank order, :818-819)."""
    freq = F.broadcast(
        frequent.select(
            F.col("matrix").alias("fmatrix"), F.col("rank").alias("frank")
        )
    )
    dist = F.bit_count(F.col("matrix").bitwiseXOR(F.col("fmatrix")))
    paired = counts.join(freq).withColumn("dist", dist)
    flags = paired.groupBy("matrix", "count").agg(
        F.max((F.col("dist") == 0).cast("int")).alias("is_frequent"),
        F.min(
            F.when(
                (F.col("dist") > 0) & (F.col("dist") <= max_distance),
                F.struct("frank", "fmatrix", "dist"),
            )
        ).alias("near"),
    )
    return (
        flags.where((F.col("is_frequent") == 0) & F.col("near").isNotNull())
        .select(
            "matrix",
            "count",
            F.col("near.fmatrix").alias("nearest_frequent"),
            F.col("near.dist").alias("dist"),
        )
    )
