"""Triangle listing via degree-ordered edge orientation.

Reference semantics: ``test/count_triangles.c:90-133`` — each vertex
counts wedges that close, attributing every triangle exactly once to
its minimum-id vertex, then a global sum (``:234-244``).

Spark-first design (the standard distributed algorithm; north rule
demands "degree-ordered edge iteration"):

1. :func:`_orient` — orient every undirected edge from the lower-rank
   endpoint to the higher-rank endpoint, where rank = (degree, vid):
   each vertex's out-degree in the oriented graph is O(sqrt(|E|)),
   which bounds the wedge-join blow-up on skewed graphs (the reason
   plain min-id orientation is not enough at 100 TB);
2. :func:`triangles` — the one listing primitive: wedges by
   self-joining the oriented edges on the middle vertex
   (``a.dst == b.src``), closed by a semi-join of the wedge (u,w)
   pairs against the same edge set.

Every triangle {u,v,w} is listed exactly once (its unique orientation
u→v→w with u→w), for ANY acyclic orientation. Every triangle kernel
lists through :func:`triangles`: :func:`triangle_count`,
:func:`per_vertex_triangles` (and :func:`clustering_coefficient` on
top), :func:`edge_support` (k-truss peeling, :func:`edge_jaccard`),
case 3 of the streaming :func:`triangle_delta`, ``four_cliques`` in
:mod:`hoover_spark.operators.communities` and the ``triangle_total``
contract query — so a different listing strategy changes one function.
All joins are equi-joins Catalyst executes as sort-merge/shuffled-hash;
AQE splits skewed partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph, per_view


def _orient(canon: DataFrame, deg: DataFrame) -> DataFrame:
    """Orient the canonical edges ``canon(src, dst)`` low→high by
    (degree, vid) rank, with degrees from ``deg(vid, degree)``."""
    e = (
        canon.join(deg.withColumnRenamed("vid", "src").withColumnRenamed("degree", "sdeg"), on="src")
        .join(deg.withColumnRenamed("vid", "dst").withColumnRenamed("degree", "ddeg"), on="dst")
    )
    fwd = (F.col("sdeg") < F.col("ddeg")) | (
        (F.col("sdeg") == F.col("ddeg")) & (F.col("src") < F.col("dst"))
    )
    return e.select(
        F.when(fwd, F.col("src")).otherwise(F.col("dst")).alias("src"),
        F.when(fwd, F.col("dst")).otherwise(F.col("src")).alias("dst"),
    )


def oriented_edges(graph: Graph) -> DataFrame:
    """Orient undirected edges low→high by (degree, vid) rank."""
    return _orient(graph.canonical(), graph.degrees())


def triangles(o: DataFrame) -> DataFrame:
    """Columns ``u, v, w`` — every triangle of the acyclic orientation
    ``o(src, dst)`` exactly once, as its path u→v→w closed by u→w."""
    return (
        o.alias("a")
        .join(o.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("u"), F.col("a.dst").alias("v"), F.col("b.dst").alias("w"))
        .join(
            o.select(F.col("src").alias("u"), F.col("dst").alias("w")),
            on=["u", "w"],
            how="left_semi",
        )
    )


def _corners(t: DataFrame, cols: tuple[str, str, str] = ("u", "v", "w")) -> DataFrame:
    """``vid`` — the three corners of every triangle row of ``t``."""
    return (
        t.select(F.col(cols[0]).alias("vid"))
        .unionAll(t.select(F.col(cols[1]).alias("vid")))
        .unionAll(t.select(F.col(cols[2]).alias("vid")))
    )


def edge_support(alive: DataFrame) -> DataFrame:
    """Per-edge triangle support ``(src, dst, support)`` of the
    canonical (src<dst) edge set ``alive``; edges in no triangle get no
    row (support 0). The orientation ranks by degree within ``alive``
    itself, so a peeled subset is oriented by its own degrees."""
    deg = (
        alive.select(F.col("src").alias("vid"))
        .unionAll(alive.select(F.col("dst").alias("vid")))
        .groupBy("vid")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    tris = triangles(_orient(alive, deg))
    # each triangle supports its 3 edges; re-canonicalize by vid (the
    # orientation above is by degree rank, not id order)
    sides = None
    for x, y in (("u", "v"), ("u", "w"), ("v", "w")):
        s = tris.select(
            F.least(x, y).alias("src"), F.greatest(x, y).alias("dst")
        )
        sides = s if sides is None else sides.unionAll(s)
    return sides.groupBy("src", "dst").agg(F.count(F.lit(1)).alias("support"))


def triangle_count(graph: Graph) -> int:
    """Total number of distinct triangles."""
    e = oriented_edges(graph).persist()
    n = triangles(e).count()
    e.unpersist()
    return n


def per_vertex_triangles(graph: Graph) -> DataFrame:
    """(vid, triangles) — triangles through each vertex (each triangle
    contributes to all three corners; reference stores the per-vertex
    count in feature 0, ``test/count_triangles.c:122-126``)."""
    tris = triangles(oriented_edges(graph).persist())
    per_corner = _corners(tris).groupBy("vid").agg(F.count(F.lit(1)).alias("triangles"))
    return graph.vertices().join(per_corner, on="vid", how="left").select(
        "vid", F.coalesce("triangles", F.lit(0)).alias("triangles")
    )


def triangle_delta(
    old_sym_views: list[DataFrame], new_undirected: DataFrame
) -> DataFrame:
    """Per-vertex triangle increments from inserting a batch of edges.

    Incremental Δ-maintenance for the streaming path — the reference's
    triangle app is itself streaming (``test/count_triangles.c:64-88``
    inserts 1,000 edges/iter/PE while counting). Given the OLD graph's
    symmetric adjacency as a list of views (persisted base + prior
    delta, kept separate so the base's partitioning survives) and the
    batch's genuinely-new undirected edges (canonical ``src < dst``,
    disjoint from the old symmetric view — exactly the streaming
    store's ``delta_sym ∩ src<dst``), returns a lazy ``(vid, d)``
    DataFrame: how many new triangles pass through each vertex. The
    global Δcount is ``sum(d) / 3``.

    Exact decomposition by how many batch edges each new triangle uses
    (each case counts every such triangle exactly once, and the cases
    are disjoint):

    1. one new edge (u,v): common OLD neighbors — w ∈ N_old(u) with
       (v,w) ∈ old;
    2. two new edges (c,u), (c,v): one wedge per such triangle (its
       unique new-new center c), closed by an OLD edge (u,v);
    3. three new edges: :func:`triangles` over the batch itself.

    Scale shape: every join against old adjacency runs per view with
    the batch-derived side explicitly ``broadcast()`` as the build side
    of an INNER join, so the O(|E|) adjacency is scanned in place and
    never shuffled — per-batch cost O(|batch| · d̄) (the candidate
    fan-out), not O(|E|). A left_semi with the big side as build would
    have forced a full adjacency shuffle per batch.
    """
    newU = new_undirected.select("src", "dst")
    newS = newU.unionByName(
        newU.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )

    def scan_old(cand: DataFrame, key_a, key_b, out_cols: list[str]) -> DataFrame:
        """old_adj ⋈ broadcast(cand) on (a, b) = (key_a, key_b); the
        old views are disjoint by construction (delta_sym excludes
        stored pairs), so the per-view union never double-counts."""
        return per_view(
            old_sym_views,
            lambda v: v.select(F.col("src").alias("_a"), F.col("dst").alias("_b"))
            .join(
                F.broadcast(cand),
                (F.col("_a") == F.col(key_a)) & (F.col("_b") == F.col(key_b)),
            )
            .select(*out_cols),
        )

    # case 1 — new (u,v), old (u,w) and (v,w): first fan out over
    # N_old(u) (b is only bounded by (a,b)=(u,*), so key_b is a free
    # match via the join's `u` side), then membership-check (v,w).
    nu = newU.select(F.col("src").alias("u"), F.col("dst").alias("v"))
    cand1 = per_view(
        old_sym_views,
        lambda v: v.select(F.col("src").alias("_a"), F.col("dst").alias("_b"))
        .join(F.broadcast(nu), F.col("_a") == F.col("u"))
        .select("u", "v", F.col("_b").alias("w")),
    ).where(F.col("w") != F.col("v"))
    tri1 = scan_old(cand1, "v", "w", ["u", "v", "w"])

    # case 2 — two new edges share center c; closing edge (u,v) is old
    x, y = newS.alias("x"), newS.alias("y")
    wedge2 = (
        x.join(y, F.col("x.src") == F.col("y.src"))
        .where(F.col("x.dst") < F.col("y.dst"))
        .select(
            F.col("x.src").alias("c"),
            F.col("x.dst").alias("u"),
            F.col("y.dst").alias("v"),
        )
    )
    tri2 = scan_old(wedge2, "u", "v", ["c", "u", "v"])

    # case 3 — all three edges new: the batch oriented by id (src<dst)
    # is acyclic, so the shared listing counts each triangle once
    tri3 = triangles(newU)

    allc = (
        _corners(tri1)
        .unionAll(_corners(tri2, ("c", "u", "v")))
        .unionAll(_corners(tri3))
    )
    return allc.groupBy("vid").agg(F.count(F.lit(1)).alias("d"))


def clustering_coefficient(graph: Graph) -> DataFrame:
    """Per-vertex local clustering coefficient (Watts & Strogatz 1998).

    ``lcc(v) = 2·T(v) / (deg(v)·(deg(v)−1))`` — the fraction of a
    vertex's neighbor pairs that are themselves connected; 0.0 for
    degree < 2. The standard link-graph "how web-spammy / how
    community-like is this node" score, and the per-vertex refinement
    of the reference's global triangle statistic
    (``test/count_triangles.c:122-126`` keeps the per-vertex count in
    feature 0 — the coefficient is that count normalized by the wedge
    capacity).

    Returns ``(vid, degree, triangles, lcc)``. Composition of the two
    existing views — per-vertex triangles (degree-oriented wedge join)
    left-joined with the symmetric degree — so the only new work over
    :func:`per_vertex_triangles` is one O(|V|) join. Both inputs are
    exact int64 and the coefficient is a single double division, so a
    SQL oracle reproduces it bit-for-bit.
    """
    tri = per_vertex_triangles(graph)
    deg = graph.degrees()
    d = F.col("degree")
    return (
        tri.join(deg, on="vid", how="left")
        .select(
            "vid",
            F.coalesce(d, F.lit(0)).cast("long").alias("degree"),
            F.col("triangles").cast("long").alias("triangles"),
            F.when(
                F.coalesce(d, F.lit(0)) >= 2,
                F.lit(2.0) * F.col("triangles") / (d * (d - 1)),
            )
            .otherwise(F.lit(0.0))
            .alias("lcc"),
        )
    )


def edge_jaccard(graph: Graph) -> DataFrame:
    """Per-edge neighborhood Jaccard similarity over the canonical
    (src < dst) edge set.

    ``jaccard(u,v) = |N(u) ∩ N(v)| / |N(u) ∪ N(v)|`` with neighborhoods
    over the symmetric self-loop-free view, so ``common`` is exactly
    the edge's triangle support and ``union = deg(u) + deg(v) − common``
    (u ∈ N(v) and v ∈ N(u) each count once in the union; never in the
    intersection). The adjacent-pair complement of the non-adjacent
    wedge scores in :func:`hoover_spark.operators.paths.link_predict`
    — at corpus scale this is the "is this link intra-community or a
    bridge" edge feature (bridges score ≈ 0, clique-internal edges
    ≈ 1).

    Returns ``(src, dst, common, union_size, jaccard)``; edges in no
    triangle get ``common = 0``, and ``union_size ≥ 2`` always (each
    endpoint contributes the other), so the division is total. Exact
    int64 counts + one double division: bit-reproducible vs a SQL
    oracle after rounding.

    Plan: the degree-oriented O(|E|^1.5) wedge join k-truss peels
    with (:func:`edge_support` — forward fan-out bounded by O(√|E|),
    the hub-skew guard) left-joined back to the canonical edges, plus
    two O(|V|) degree joins. No new shuffle shape.
    """
    canon = graph.canonical()
    common = edge_support(canon).withColumnRenamed("support", "common")
    deg = graph.degrees()
    c = F.coalesce(F.col("common"), F.lit(0)).cast("long")
    u = (F.col("deg_s") + F.col("deg_d") - c).cast("long")
    return (
        canon.join(common, on=["src", "dst"], how="left")
        .join(deg.select(F.col("vid").alias("src"), F.col("degree").alias("deg_s")), on="src")
        .join(deg.select(F.col("vid").alias("dst"), F.col("degree").alias("deg_d")), on="dst")
        .select(
            "src",
            "dst",
            c.alias("common"),
            u.alias("union_size"),
            (c.cast("double") / u.cast("double")).alias("jaccard"),
        )
    )


def four_cycle_count(graph: Graph, max_center_degree: int | None = None) -> DataFrame:
    """Count 4-cycles (rectangles) via the wedge-pair identity: if
    ``w(u,x)`` is the number of common neighbors of the unordered pair
    ``{u, x}`` (adjacent or not), then

        #C4 = (1/2)·Σ_{u<x} C(w(u,x), 2)

    — every rectangle a–b–c–d has exactly TWO diagonal pairs ({a,c}
    with centers {b,d} and {b,d} with centers {a,c}), each
    contributing one center-pair (sanity: K4 → 6 pairs × C(2,2) / 2 =
    3 four-cycles ✓). Σ w(w−1) is therefore always divisible by 4.
    Returns one row ``(n_four_cycles,)``, int64-exact.

    Plan: ONE self-join of the symmetric edge list on the wedge center
    (groupBy the endpoint pair, map-side combined) + a global sum —
    the same O(Σ_v d_v²) wedge materialization as
    ``neighborhood_function(h=2)``. Unlike triangles, C4 counting has
    no degree-orientation trick for the center (both wedge arms hang
    off ``v``), so the hub guard is an explicit ``max_center_degree``
    cap — centers above the cap are EXCLUDED (documented truncation in
    the hot-bucket/GBAD style, for graphs whose d_max² is
    intractable); None counts exactly.
    """
    sym = graph.sym_edges()
    arms = sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    if max_center_degree is not None:
        ok = (
            arms.groupBy("v")
            .agg(F.count(F.lit(1)).alias("d"))
            .where(F.col("d") <= max_center_degree)
            .select("v")
        )
        arms = arms.join(ok, on="v")
    a = arms.select("v", F.col("u").alias("u1"))
    b = arms.select("v", F.col("u").alias("u2"))
    wedges = (
        a.join(b, on="v")
        .where(F.col("u1") < F.col("u2"))
        .groupBy("u1", "u2")
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return (
        wedges.agg(
            F.coalesce(F.sum(F.col("w") * (F.col("w") - 1)), F.lit(0)).alias("s")
        )
        .select((F.col("s") / 4).cast("long").alias("n_four_cycles"))
    )
