"""Community detection via k-clique percolation (k=4).

Reference semantics: ``test/community_detection.cpp`` — brute-force
k-clique detection (``find_cliques``, :262-313, K=4 at :33), supernode
edges between cliques sharing ≥ K-1 members (``supernodes_overlapping``,
:188-204, used :482-487), then min-label connected components over the
supernode graph (:493-512). Golden fixtures:
``community_test_cases/4_vert_1_cliq.csv``, ``8_vert_2_cliq.csv``,
``8_vert_2_cliq_overlapping.csv``.

Spark-first design (all equi-joins, no per-row Python):

1. **4-cliques** by ordered extension over the degree-oriented edge
   list: the shared :func:`hoover_spark.operators.triangles.triangles`
   listing (u<v<w by orientation rank) joined with a fourth vertex
   adjacent to all of u, v, w. The orientation bounds each vertex's
   forward degree at O(sqrt(|E|)) — same skew bound as triangle
   counting.
2. **Supernode edges**: two cliques overlap in ≥3 vertices ⇔ they
   share a sorted 3-subset ⇒ explode each clique's four 3-subsets and
   equi-join on the subset key (SURVEY.md §2 J6: explode→groupBy pair
   generation — a set-similarity join, never a quadratic compare).
3. **Communities** = the engine's own WCC over the supernode graph;
   community id = min clique id; vertex membership = union of member
   cliques.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.triangles import oriented_edges, triangles
from hoover_spark.operators.wcc import wcc
from hoover_spark.plans.iteration import IterationLoop, until_zero


def detect_communities_from_points(
    points: DataFrame,
    radius: float,
    id_col: str = "id",
    coord_cols: tuple = ("x", "y", "z"),
    k: int = 4,
) -> DataFrame:
    """The reference's full community-detection pipeline end-to-end
    (``test/community_detection.cpp``): point cloud → implicit edges by
    Euclidean radius (grid-pruned spatial join) → k-clique percolation
    → (vid, community). One declarative plan; each stage is the
    operator documented in its own module."""
    from hoover_spark.operators.spatial import implicit_edges

    edges = implicit_edges(points, id_col, list(coord_cols), radius).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    g = Graph(edges, num_partitions=16)
    result = clique_percolation_communities(g, k=k)
    g.unpersist()
    return result


def four_cliques(graph: Graph) -> DataFrame:
    """(a, b, c, d) — all 4-cliques, each exactly once, vertices sorted
    by orientation rank (degree, vid).

    The oriented edge list is referenced by five join branches, so it
    is localCheckpointed (materialized once, blocks reclaimed by the
    context cleaner when unreferenced — unlike persist, nothing is
    pinned in the cache manager across calls)."""
    e = oriented_edges(graph).localCheckpoint()
    # triangles with orientation order u→v→w
    tri = triangles(e)
    # extend with x: w→x edge plus u→x and v→x closing edges
    quads = (
        tri.join(e.select(F.col("src").alias("w"), F.col("dst").alias("x")), on="w")
        .join(
            e.select(F.col("src").alias("u"), F.col("dst").alias("x")),
            on=["u", "x"],
            how="left_semi",
        )
        .join(
            e.select(F.col("src").alias("v"), F.col("dst").alias("x")),
            on=["v", "x"],
            how="left_semi",
        )
        .select(
            F.col("u").alias("a"), F.col("v").alias("b"), F.col("w").alias("c"), F.col("x").alias("d")
        )
    )
    return quads


def clique_percolation_communities(graph: Graph, k: int = 4) -> DataFrame:
    """(vid, community) — vertices of percolated 4-clique communities;
    community = min clique id (clique ids are dense ranks over the
    sorted member tuple, deterministic at any parallelism).

    Vertices in no 4-clique are absent from the result (the reference
    likewise only labels supernode members)."""
    assert k == 4, "reference semantics: K=4 (community_detection.cpp:33)"
    from pyspark.sql import Window

    cliques = four_cliques(graph).select(
        F.array_sort(F.array("a", "b", "c", "d")).alias("members")
    ).distinct()
    # Collision-FREE deterministic clique id (internal only — the
    # public community label is remapped to min member vid below):
    # bucket by hash, rank within the bucket by the sorted member
    # tuple, cid = bucket + n_buckets * rank. Unlike a raw 64-bit hash
    # this cannot merge two distinct cliques (birthday bound becomes
    # material at the billions-of-cliques scale this module targets),
    # and unlike a global row_number it sorts n_buckets independent
    # partitions, not one task.
    n_buckets = 1 << 16
    bucket = F.pmod(F.xxhash64(F.col("members").cast("string")), F.lit(n_buckets))
    w = Window.partitionBy("bucket").orderBy("members")
    cliques = (
        cliques.withColumn("bucket", bucket)
        .withColumn(
            "cid",
            F.col("bucket")
            + F.lit(n_buckets) * (F.row_number().over(w) - 1).cast("long"),
        )
        .select("cid", "members")
        .localCheckpoint()
    )

    # 3-subset keys: drop one member at a time
    subsets = None
    for drop in range(4):
        keep = [i for i in range(4) if i != drop]
        key = F.concat_ws(
            ":", *[F.element_at("members", i + 1).cast("string") for i in keep]
        )
        s = cliques.select("cid", key.alias("sub"))
        subsets = s if subsets is None else subsets.unionByName(s)

    a = subsets.select("sub", F.col("cid").alias("src"))
    b = subsets.select("sub", F.col("cid").alias("dst"))
    super_edges = (
        a.join(b, on="sub")
        .where(F.col("src") < F.col("dst"))
        .select("src", "dst")
        .distinct()
    )
    labels = wcc(Graph(super_edges, num_partitions=graph.num_partitions))
    clique_comm = cliques.join(
        labels.withColumnRenamed("vid", "cid"), on="cid", how="left"
    ).select(F.coalesce("label", "cid").alias("comp"), "members")
    # public community label = min member vid over the whole percolation
    # component (hash ids stay internal — results are reproducible by
    # any engine from the edge set alone)
    comp_label = (
        clique_comm.select("comp", F.element_at("members", 1).alias("m0"))
        .groupBy("comp")
        .agg(F.min("m0").alias("community"))
    )
    membership = clique_comm.join(comp_label, on="comp").select(
        F.explode("members").alias("vid"), "community"
    )
    return membership.groupBy("vid").agg(F.min("community").alias("community"))


def modularity(graph: Graph, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a vertex partition over the undirected
    graph — the standard community-quality score (Newman & Girvan
    2004), the metric a user runs AFTER any of this engine's label
    producers (mode-LP, clique percolation, WCC) to compare them.

    ``labels`` is ``(vid, label)``; returns ONE row
    ``(m_edges, intra_edges, modularity)`` with

        Q = I/m − Σ_c D_c² / (2m)²
          = (4·m·I − Σ_c D_c²) / (4m²)

    computed from exact int64 aggregates (I = intra-community edge
    count over canonical edges, D_c = degree sum of community c, m =
    |canonical edges|) and ONE double division — bit-reproducible
    against a SQL oracle, same trick as ``degree_assortativity``.
    Bound: exact while 4m² < 2⁶³ (m < 1.5e9 edges); past that switch
    the final combine to double (≤1 ulp per 2⁵³, far under the 6-dp
    contract precision).

    Plan: two label joins of the canonical edge list (big side keeps
    the Graph's partitioning; the labels side is per-vertex), one
    groupBy(label) for D_c, and two global aggs folded into a 1-row
    cross join — no iteration, no window.
    """
    lab = labels.select("vid", "label")
    canon = graph.canonical()
    tagged = canon.join(
        lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")), on="src"
    ).join(
        lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")), on="dst"
    )
    edge_sums = tagged.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum(F.when(F.col("ls") == F.col("ld"), 1).otherwise(0)).alias("intra"),
    )
    dsq = (
        graph.degrees()
        .join(lab, on="vid")
        .groupBy("label")
        .agg(F.sum("degree").alias("dc"))
        .agg(F.sum(F.col("dc") * F.col("dc")).alias("sum_dc2"))
    )
    num = F.lit(4) * F.col("m") * F.col("intra") - F.col("sum_dc2")
    den = F.lit(4) * F.col("m") * F.col("m")
    return edge_sums.crossJoin(dsq).select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("intra").cast("long").alias("intra_edges"),
        F.when(F.col("m") > 0, num.cast("double") / den.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("modularity"),
    )


def louvain_move(
    graph: "Graph",
    n_rounds: int = 2,
    labels: DataFrame | None = None,
) -> DataFrame:
    """One-level Louvain local-moving phase — synchronous, deterministic,
    integer-exact. Returns ``(vid, label)`` after ``n_rounds`` rounds.

    Each round every vertex evaluates moving into each neighboring
    community ``c`` (and staying). With ``m`` = undirected edge count,
    ``w(v,c)`` = edges from ``v`` into ``c``, ``D_c`` = degree sum of
    ``c``, the move score is the standard remove-then-insert modularity
    gain scaled by the positive constant ``2m²`` so it stays in int64:

        score(v→c) = 2m·w(v,c) − deg_v·(D_c − deg_v·[c = label_v])

    argmax with ties to the smaller community label; all vertices move
    synchronously (the parallel Louvain round structure of distributed
    implementations, e.g. Que et al. IPDPS'15 — sequential Louvain's
    one-at-a-time moves don't exist at cluster scale). Synchronous
    moves can oscillate on pathological symmetric graphs, which is why
    this is exposed as a bounded-round operator (run modularity() after
    each round to monitor; the classic Blondel et al. 2008 phase-2
    graph contraction is :func:`louvain_levels`).

    The rounds are :func:`_weighted_move_rounds` on unit weights
    (``S = Σk = 2m``, ``k`` = degree). ``labels`` warm-starts them;
    vertices outside the symmetric edges (self-loop-only) keep their
    initial label — their own vid, or their given label.

    Int64 exactness: products are bounded by 2m·max_deg ≤ (2m)², exact
    while 4m² < 2⁶³ (m < 1.5e9) — same bound as :func:`modularity`;
    past that scale the score to double (≤1 ulp per 2⁵³, and the
    argmax only needs relative order within one vertex's candidates).
    """
    wall = graph.sym_edges().select("src", "dst", F.lit(1).cast("long").alias("w"))
    lab0 = (
        labels.select("vid", "label")
        if labels is not None
        else graph.vertices().select("vid", F.col("vid").alias("label"))
    )
    return _weighted_move_rounds(wall, n_rounds, lab0)


def _weighted_move_rounds(
    wall: DataFrame,
    n_rounds: int,
    labels: DataFrame | None = None,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Synchronous Louvain move rounds on a weighted symmetric edge
    list ``(src, dst, w)`` that INCLUDES self-loops under the doubled
    convention (a self-loop row carries twice its undirected weight, so
    ``k_v = Σ_{(v,·)} w`` is the standard weighted degree). Labels
    start at ``labels`` (default: vid of every vertex of ``wall``); a
    labelled vertex outside ``wall`` keeps its label. Score, with
    ``S = Σ_v k_v = 2m``:

        score(v→c) = S·w(v,c) − k_v·(Σtot(c) − k_v·[c = label_v])

    ``w(v,c)`` excludes self-loops (they move with the vertex — a
    candidate-constant). Int64-exact, ties → smaller label.

    The rounds run on ``IterationLoop.run`` (``plans/iteration.py``,
    ``loop`` or a fresh one). The weighted degrees are held once, and
    ``S`` comes from that hold's Observation. The state is
    ``(vid, label, k)`` (``k = 0`` outside ``wall``), held once per
    round; the round's Observation counts the vertices that moved. A
    round in which none moved is a fixed point, which every later
    synchronous round would repeat, so the run stops there.

    Plan shape per round: one groupBy(label) for Σtot (|V|-sized), one
    neighbor-label groupBy for w (map-side combined on the persisted
    hash(src) edge partitioning), one argmax groupBy(vid). No windows
    over edges, no collect; candidate volume is
    Σ_v |distinct neighbor labels| ≤ 2m.
    """
    loop = loop or IterationLoop(wall.sparkSession, kernel="louvain", max_iterations=n_rounds)
    k, kstats = loop.hold_observed(
        wall.groupBy(F.col("src").alias("vid")).agg(F.sum("w").alias("k")),
        F.sum("k").alias("S"),
    )
    s_total = F.lit(int(kstats["S"] or 0)).cast("long")
    lab = (
        labels.select("vid", "label")
        if labels is not None
        else k.select("vid", F.col("vid").alias("label"))
    )
    # left: a vertex outside wall (self-loop-only) has no weight mass
    # (k = 0, no Σtot share) but must keep its label
    state = lab.join(k, on="vid", how="left").select(
        "vid", "label", F.coalesce("k", F.lit(0)).cast("long").alias("k")
    )
    nself = wall.where(F.col("src") != F.col("dst"))

    def step(state, _it, _prev):
        lab = state.select("vid", "label", "k")
        dc = lab.groupBy(F.col("label").alias("c")).agg(F.sum("k").alias("dc"))
        nbr = (
            nself.join(
                lab.select(F.col("vid").alias("dst"), F.col("label").alias("c")),
                on="dst",
            )
            .groupBy(F.col("src").alias("vid"), "c")
            .agg(F.sum("w").alias("wc"))
        )
        own = lab.select("vid", F.col("label").alias("c"), F.lit(0).cast("long").alias("wc"))
        cand = nbr.unionByName(own).groupBy("vid", "c").agg(F.max("wc").alias("wc"))
        scored = (
            cand.join(lab, on="vid")
            .join(dc, on="c", how="left")
            .withColumn("dc", F.coalesce("dc", F.lit(0)))
            .select(
                "vid",
                "c",
                "label",
                "k",
                (
                    s_total * F.col("wc")
                    - F.col("k")
                    * (
                        F.col("dc")
                        - F.when(F.col("c") == F.col("label"), F.col("k")).otherwise(F.lit(0))
                    )
                ).alias("score"),
            )
        )
        stepped = (
            scored.groupBy("vid")
            .agg(
                F.min(F.struct((-F.col("score")).alias("ns"), F.col("c"))).alias("b"),
                F.max("label").alias("prev"),
                F.max("k").alias("k"),
            )
            .select("vid", F.col("b.c").alias("label"), "k", "prev")
        )
        return stepped, [F.sum((F.col("label") != F.col("prev")).cast("long")).alias("moved")]

    state, _, _ = loop.run(state, step, until_zero("moved"), rounds=n_rounds)
    return state.select("vid", "label")


def louvain_levels(
    graph: "Graph", n_levels: int = 2, n_rounds: int = 2
) -> DataFrame:
    """Multi-level Louvain (Blondel et al. 2008, "Fast unfolding of
    communities in large networks"), deterministic/parallel variant:
    each level runs ``n_rounds`` synchronous weighted move rounds
    (:func:`_weighted_move_rounds`), then contracts communities to
    super-vertices — relabel both endpoints and ``groupBy(src,dst)
    sum(w)``, self-loops carrying the doubled intra-community weight —
    and repeats on the contracted weighted graph. Returns
    ``(vid, community)`` for the ORIGINAL vertices (mappings composed
    across levels).

    The contraction is the same relabel+groupBy shape as the WCC
    two-phase contraction; each level's edge list shrinks to
    O(#communities²) at most, so level cost drops geometrically on
    community-structured graphs. Everything is int64-exact (unit base
    weights; contraction sums stay integral), so the 2-level contract
    query has a hash-exact unrolled DuckDB twin.
    """
    loop = IterationLoop(graph.edges.sparkSession, kernel="louvain", max_iterations=n_rounds)
    wall = graph.sym_edges().select("src", "dst", F.lit(1).cast("long").alias("w"))
    mapping = None  # orig vid -> current-level label
    for lvl in range(n_levels):
        lab = _weighted_move_rounds(wall, n_rounds, loop=loop)
        mapping = (
            lab
            if mapping is None
            else (
                mapping.join(
                    lab.select(F.col("vid").alias("label"), F.col("label").alias("_nl")),
                    on="label",
                )
                .select("vid", F.col("_nl").alias("label"))
            )
        )
        if lvl + 1 < n_levels:
            wall = loop.hold(
                wall.join(
                    lab.select(F.col("vid").alias("src"), F.col("label").alias("ls")),
                    on="src",
                )
                .join(
                    lab.select(F.col("vid").alias("dst"), F.col("label").alias("ld")),
                    on="dst",
                )
                .groupBy(F.col("ls").alias("src"), F.col("ld").alias("dst"))
                .agg(F.sum("w").alias("w"))
            )
            mapping = loop.hold(mapping)
    # vertices whose only incidence is a self-loop never reach
    # sym_edges: singleton community
    loners = (
        graph.vertices()
        .join(mapping.select("vid"), on="vid", how="left_anti")
        .select("vid", F.col("vid").alias("label"))
    )
    return mapping.unionByName(loners).select(
        "vid", F.col("label").alias("community")
    )
