"""Path/centrality kernels: multi-source BFS, link prediction,
deterministic random walks, neighborhood function (exact + HyperBall),
sampled-Brandes betweenness, harmonic centrality, snapshot diff.

Reference mapping: HOOVER's traversal primitive is the per-iteration
neighbor gather (``hvr_get_neighbors``, ``src/hoover.cpp:603-622``)
that every app builds walks on top of; multi-source BFS is the hop-
bounded specialization of the same hash-min exchange the connected-
components app runs (``test/connected_components.c:88-112``) with
distance instead of label, and link prediction is the reference's
2-hop wedge machinery (``test/count_triangles.c:64-88``) re-aggregated
per *open* wedge instead of per closed triangle.

Spark-first plans:

- **BFS**: frontier-delta expansion. State ``(vid, hops)`` only ever
  grows; each round joins the *frontier only* (not the full state)
  against the symmetric edge table, anti-joins the visited set, and
  unions the survivors in. The big edge side keeps the Graph's hash
  partitioning across all rounds; the frontier is the small shrinking
  side (AQE broadcasts it when it fits). One Spark job per round via
  the ``hold_observed`` idiom. At 100 TB the cost is
  O(Σ_round |frontier-adjacent edges|) — the same work a Pregel BFS
  does, with no per-round full-state shuffle.
- **Link prediction**: one self-join of the symmetric edge table on
  the wedge center (src=src, dst<dst), an aggregation keyed on the
  open pair, and an anti-join against the canonical edge set. Skew:
  a degree-d hub emits d(d-1)/2 wedge rows, so ``max_center_degree``
  caps hub centers (same default-on guard shape as gbad's); for link
  prediction dropping super-hub centers is standard practice — a
  celebrity neighbor carries ~no signal, which is exactly why the
  Resource-Allocation weight 1/deg(v) → 0 there.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from hoover_spark.operators.graph import Graph, per_view
from hoover_spark.plans.iteration import IterationLoop, fixed_rounds, until_zero


def bfs_hops(
    graph: Graph,
    seeds: DataFrame,
    max_hops: int,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Hop distance from a seed set over the undirected graph.

    Returns ``(vid: long, hops: long)`` for every vertex reachable
    within ``max_hops`` of any seed (seeds themselves at hops 0).
    ``seeds`` needs a ``vid`` column; ids not present in the graph are
    still reported at hops 0 (they are valid query points whose
    neighborhoods are empty).
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="bfs", max_iterations=max_hops)

    sym = graph.sym_edges().select("src", "dst")
    dist = loop.hold(
        seeds.select(F.col("vid").cast("long").alias("vid"))
        .distinct()
        .withColumn("hops", F.lit(0).cast("long"))
    )

    def step(frontier, h, _prev):
        nonlocal dist
        if h > 1:
            # last round found new vertices: fold them into the visited set
            dist = loop.hold(dist.unionByName(frontier))
        nxt = (
            sym.join(frontier.select(F.col("vid").alias("src")), on="src")
            .select(F.col("dst").alias("vid"))
            .distinct()
            .join(dist.select("vid"), on="vid", how="left_anti")
            .withColumn("hops", F.lit(h).cast("long"))
        )
        return nxt, [F.count(F.lit(1)).alias("n_new")]

    nxt, rounds, stats = loop.run(dist, step, until_zero("n_new"), rounds=max_hops)
    if stats is not None and int(stats["n_new"] or 0) > 0:
        dist = loop.hold(dist.unionByName(nxt))
    return loop.finish(dist.select("vid", "hops"), rounds)


def sssp(
    graph: Graph,
    seeds: DataFrame,
    weight=None,
    loop: IterationLoop | None = None,
    max_rounds: int = 500,
    initial_dists: DataFrame | None = None,
    initial_frontier: DataFrame | None = None,
) -> DataFrame:
    """Multi-source weighted shortest paths over the DIRECTED edge
    list (non-negative weights) — frontier Bellman–Ford, the
    weighted generalization of :func:`bfs_hops`.

    Returns ``(vid: long, dist: long)`` for every vertex reachable
    from the seed set (seeds at 0). ``weight`` is a Column expression
    over the edge columns ``src``/``dst`` (default: every edge costs
    1); it must be non-negative integer-valued — distances stay exact
    int64, so the SQL oracle reproduces them bit-for-bit.

    Plan: classic frontier-delta relaxation. Each round joins the
    *improved-last-round frontier only* against the persisted edge
    table, takes the per-destination min of candidate distances, and
    keeps strict improvements — one Spark job per round
    (``hold_observed``). Rounds are bounded by the weighted-graph
    "hop radius" (≤ shortest-path hop count from the seed set, times
    a small factor for re-relaxation); at 10¹² edges each round costs
    O(|frontier-adjacent edges|), never an O(|E|) pass, and the big
    edge side keeps the Graph's hash partitioning throughout.
    Reference analogue: the same dirty-frontier gather loop as the
    hash-min kernels (``src/hoover.cpp:603-622``) with ``min(dist+w)``
    as the reduction.

    Incremental warm start (the streaming path): edge INSERTIONS only
    ever lower shortest distances, so relaxation restarted from a
    converged ``initial_dists`` with ``initial_frontier`` = the
    distance-bearing src endpoints of the fresh edges converges to the
    exact new solution — every newly-shorter path uses ≥1 fresh edge,
    and round 1 relaxes all out-edges of the fresh sources. When
    ``initial_dists`` is given it must already contain the seed rows
    (``seeds`` is not re-applied). Every run publishes
    ``loop.kernel_state["changed_rows"]`` (a lazy view, one min-dist
    row per vid improved this run — the O(changed) durable-write set),
    ``["total_improvements"]`` and ``["n_state_rows"]`` (the held
    state's row count, riding each state checkpoint — no extra job).
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="sssp", max_iterations=max_rounds)

    w = weight if weight is not None else F.lit(1)
    edge_views = [
        v.select("src", "dst", w.cast("long").alias("w"))
        for v in graph.clean_edge_views()
    ]

    def _hold_state(df):
        """Checkpoint a dist state; the row count rides the same action."""
        held, s = loop.hold_observed(df, F.count(F.lit(1)).alias("n_rows"))
        loop.kernel_state["n_state_rows"] = int(s["n_rows"] or 0)
        return held

    if initial_dists is not None:
        dist = _hold_state(initial_dists.select("vid", "dist"))
        frontier = (
            dist.join(initial_frontier.select("vid"), on="vid", how="left_semi")
            if initial_frontier is not None
            else dist
        )
    else:
        dist = _hold_state(
            seeds.select(F.col("vid").cast("long").alias("vid"))
            .distinct()
            .withColumn("dist", F.lit(0).cast("long"))
        )
        frontier = dist

    changed_parts: list[DataFrame] = []
    total_improvements = 0

    def absorb(improved, n_improved):
        """Merge a round's strict improvements into the held dist state."""
        nonlocal dist, total_improvements
        total_improvements += n_improved
        changed_parts.append(improved)
        dist = _hold_state(
            dist.join(improved.select("vid"), on="vid", how="left_anti")
            .unionByName(improved)
        )

    def step(frontier, t, prev):
        if t > 1:
            absorb(frontier, int(prev["n_improved"] or 0))
        f = frontier.select(F.col("vid").alias("src"), "dist")
        cand = per_view(
            edge_views,
            lambda ev: ev.join(f, on="src").select(
                F.col("dst").alias("vid"),
                (F.col("dist") + F.col("w")).alias("nd"),
            ),
        )
        improved = (
            cand.groupBy("vid")
            .agg(F.min("nd").alias("nd"))
            .join(dist, on="vid", how="left")
            .where(F.col("dist").isNull() | (F.col("nd") < F.col("dist")))
            .select("vid", F.col("nd").alias("dist"))
        )
        return improved, [F.count(F.lit(1)).alias("n_improved")]

    improved, rounds, stats = loop.run(
        frontier, step, until_zero("n_improved"), rounds=max_rounds
    )
    if stats is not None and int(stats["n_improved"] or 0) > 0:
        absorb(improved, int(stats["n_improved"]))

    loop.kernel_state["total_improvements"] = total_improvements
    if changed_parts:
        ch = changed_parts[0]
        for p in changed_parts[1:]:
            ch = ch.unionByName(p)
        loop.kernel_state["changed_rows"] = ch.groupBy("vid").agg(
            F.min("dist").alias("dist")
        )
    else:
        loop.kernel_state["changed_rows"] = dist.where(F.lit(False))

    return loop.finish(dist.select("vid", "dist"), rounds)


def link_predict(
    graph: Graph,
    min_common: int = 1,
    max_center_degree: int | None = None,
    scores: tuple[str, ...] = ("ra",),
) -> DataFrame:
    """Open-wedge link prediction over the undirected graph.

    For every non-adjacent pair ``(u, w)`` with at least ``min_common``
    common neighbors, returns ``(u, w, common_neighbors)`` plus the
    requested score columns:

    - ``ra`` — Resource Allocation index, Σ_v 1/deg(v) (Zhou, Lü &
      Zhang 2009). Pure IEEE division + sum: bit-reproducible against a
      SQL oracle after rounding, which is why the contract query uses
      it.
    - ``aa`` — Adamic–Adar, Σ_v 1/ln(deg(v)) (libm ``log`` may differ
      by 1 ulp across engines; fine for use, held out of the exact
      oracle gate).

    Output pairs are canonical (``u < w``). ``max_center_degree``
    drops wedge centers above the cap *before* the self-join — the
    skew guard for hub vertices (a degree-d center emits d(d−1)/2
    rows); capped centers also carry the least signal (their RA/AA
    weight ≈ 0).
    """
    sym = graph.sym_edges().select("src", "dst")
    deg = graph.degrees()  # (vid, degree) over the symmetric view
    if max_center_degree is not None:
        deg = deg.where(F.col("degree") <= max_center_degree)

    score_cols = {
        "ra": (F.lit(1.0) / F.col("degree").cast("double")).alias("w_ra"),
        # degree-1 centers can't form a wedge, but ANSI mode still
        # evaluates the projection: guard ln(1)=0 out of the divisor
        "aa": F.when(
            F.col("degree") >= 2,
            F.lit(1.0) / F.log(F.col("degree").cast("double")),
        )
        .otherwise(F.lit(0.0))
        .alias("w_aa"),
    }
    unknown = set(scores) - set(score_cols)
    if unknown:
        raise ValueError(f"unknown link-predict scores: {sorted(unknown)}")
    centers = deg.select(
        F.col("vid").alias("v"), *[score_cols[s] for s in scores]
    )

    a = sym.select(F.col("src").alias("v"), F.col("dst").alias("u"))
    b = sym.select(F.col("src").alias("v"), F.col("dst").alias("w"))
    wedges = (
        a.join(b, on="v")
        .where(F.col("u") < F.col("w"))
        # join on the (small, per-vertex) centers side AFTER the wedge
        # filter: a capped center drops all its wedges here
        .join(centers, on="v")
    )
    aggs = [F.count(F.lit(1)).alias("common_neighbors")] + [
        F.sum(f"w_{s}").alias(f"{s}_score") for s in scores
    ]
    pairs = wedges.groupBy("u", "w").agg(*aggs)
    if min_common > 1:
        pairs = pairs.where(F.col("common_neighbors") >= min_common)

    canon = graph.canonical().select(
        F.col("src").alias("u"), F.col("dst").alias("w")
    )
    return pairs.join(canon, on=["u", "w"], how="left_anti").select(
        "u",
        "w",
        F.col("common_neighbors").cast("long").alias("common_neighbors"),
        *[f"{s}_score" for s in scores],
    )


WALK_P = 1_000_000_007
_WALK_A = 40503
_WALK_B = 69069
_WALK_C = 12345


def random_walks(
    graph: Graph,
    starts: DataFrame,
    walk_length: int,
    walks_per_vertex: int = 1,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Deterministic random walks over the undirected graph — the
    corpus generator for skip-gram / node2vec-style graph embeddings
    (Perozzi et al. 2014 DeepWalk; public method). Returns
    ``(walk_id: long, step: long, vid: long)`` — ``walks_per_vertex``
    walks of ``walk_length`` steps from every start vertex.

    Determinism (the engine-wide rule: identical results at any
    parallelism, and SQL-oracle-checkable): the "random" neighbor at
    step t of walk w sitting on vertex v is

        idx = H(w, v, t) mod deg(v),
        H   = (w·A + v·B + t·C + 7) mod P   (all mod-P, overflow-safe)

    against the neighbor list sorted by dst — an LCG-style mix, not
    crypto, exactly like the reference's deterministic per-actor PRNG
    seeding (``test/pas.cpp`` seeds per-agent; SURVEY §2.7).

    Plan: the indexed adjacency ``(src, dst, idx)`` is built ONCE with
    a row_number window partitioned by src (one shuffle+sort, the same
    per-vertex grouping the CSR blocks use) and persisted; each step
    is one equi-join of the walk frontier (small side) against it on
    ``(src, idx)`` — at 100 TB the frontier side is
    |starts|·walks_per_vertex rows regardless of |E|, so every step is
    a frontier-sized probe of the big cached side, never an O(|E|)
    pass. Walks never die: every vertex of the symmetric view has
    deg ≥ 1.
    """
    from pyspark.sql import Window

    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="walks", max_iterations=walk_length)

    sym = graph.sym_edges().select("src", "dst")
    w_src = Window.partitionBy("src").orderBy("dst")
    adj = sym.select(
        "src", "dst", (F.row_number().over(w_src) - 1).alias("idx")
    )
    deg = graph.degrees()  # (vid, degree)

    starts_v = starts.select(F.col("vid").cast("long").alias("vid")).distinct()
    r = spark.range(walks_per_vertex).select(F.col("id").alias("r"))
    state = loop.hold(
        starts_v.crossJoin(F.broadcast(r)).select(
            (F.col("vid") * walks_per_vertex + F.col("r")).alias("walk_id"),
            F.col("vid").alias("v"),
        )
    )
    positions = []  # the held (walk_id, v) state of every step

    def step(state, t, _prev):
        positions.append(state)
        h = F.pmod(
            F.pmod(F.col("walk_id"), F.lit(WALK_P)) * _WALK_A
            + F.pmod(F.col("v"), F.lit(WALK_P)) * _WALK_B
            + F.lit(t * _WALK_C + 7),
            F.lit(WALK_P),
        )
        picked = (
            state.join(deg.select(F.col("vid").alias("v"), "degree"), on="v")
            .select("walk_id", F.col("v").alias("src"), F.pmod(h, F.col("degree")).alias("idx"))
            .join(adj, on=["src", "idx"])
            .select("walk_id", F.col("dst").alias("v"))
        )
        return picked, [F.count(F.lit(1)).alias("n_walks")]

    state, _, _ = loop.run(state, step, fixed_rounds("n_walks"), rounds=walk_length)
    positions.append(state)
    out = None
    for t, pos in enumerate(positions):
        o = pos.select("walk_id", F.lit(t).cast("long").alias("step"), F.col("v").alias("vid"))
        out = o if out is None else out.unionByName(o)
    return loop.finish(out, walk_length)


def neighborhood_function(graph: Graph, h: int) -> DataFrame:
    """EXACT h-hop neighborhood size per vertex (h ∈ {1, 2}):
    ``(vid, nf)`` with ``nf = |{w : dist(v, w) ≤ h}|`` counting the
    vertex itself — the per-vertex point of the Approximate
    Neighbourhood Function / effective-diameter family (Palmer et al.
    2002 ANF; Boldi et al. 2011 HyperBall).

    This exact form materializes the h-hop pair set (O(Σ deg^h) rows)
    — the ORACLE-CHECKABLE small-h variant. At 100 TB / h > 2 use
    :func:`hyperball`, which carries a constant-size HLL sketch per
    vertex instead of the pair set.
    """
    if h not in (1, 2):
        raise ValueError("exact neighborhood_function supports h=1 or 2; use hyperball")
    sym = graph.sym_edges().select("src", "dst")
    pairs = graph.vertices().select(
        F.col("vid").alias("src"), F.col("vid").alias("dst")
    ).unionByName(sym)
    if h == 2:
        two = sym.alias("a").join(
            sym.alias("b"), F.col("a.dst") == F.col("b.src")
        ).select(F.col("a.src").alias("src"), F.col("b.dst").alias("dst"))
        pairs = pairs.unionByName(two)
    return (
        pairs.distinct()
        .groupBy(F.col("src").alias("vid"))
        .agg(F.count(F.lit(1)).alias("nf"))
    )


def hyperball(graph: Graph, h: int, lgk: int = 12) -> DataFrame:
    """HyperBall (Boldi, Rosa & Vigna 2011): per-vertex h-hop
    neighborhood-size ESTIMATES via iterated HyperLogLog union —
    ``(vid, nf_estimate: double)``.

    State is one constant-size HLL sketch per vertex (``lgk=12`` ⇒
    4 KB dense, bytes while sparse); iteration t unions each vertex's
    sketch with its neighbors' via ``hll_union_agg`` — a single
    groupBy per round, exactly the WCC message shape with sketch-merge
    instead of min. The ``h`` rounds run on ``IterationLoop.run``
    (``plans/iteration.py``), which holds each round's sketches. This
    is THE 100 TB-scale neighborhood-function plan: O(|V|) state,
    O(|E|) sketch shuffle per round, no pair-set blowup, registers
    merged JVM-side (Datasketches), no Python.
    """
    loop = IterationLoop(graph.edges.sparkSession, kernel="hyperball", max_iterations=h)
    sym = graph.sym_edges().select("src", "dst")
    # seed sketches: one-row-per-vertex sketch of {vid}
    state = (
        graph.vertices()
        .groupBy("vid")
        .agg(F.hll_sketch_agg(F.col("vid"), F.lit(lgk)).alias("sketch"))
    )

    def step(state, _it, _prev):
        msgs = sym.join(
            state.select(F.col("vid").alias("src"), "sketch"), on="src"
        ).select(F.col("dst").alias("vid"), "sketch")
        merged = (
            state.unionByName(msgs)
            .groupBy("vid")
            .agg(F.hll_union_agg(F.col("sketch"), F.lit(True)).alias("sketch"))
        )
        return merged, [F.count(F.lit(1)).alias("n_vertices")]

    state, it, _ = loop.run(state, step, fixed_rounds("n_vertices"), rounds=h)
    return loop.finish(
        state.select("vid", F.hll_sketch_estimate(F.col("sketch")).alias("nf_estimate")), it
    )


def betweenness(
    graph: Graph,
    sources: DataFrame,
    max_depth: int = 32,
    normalized: bool = False,
    loop: IterationLoop | None = None,
) -> DataFrame:
    """Sampled Brandes betweenness centrality over the undirected
    graph (Brandes 2001; source-sampling per Brandes & Pich 2007 —
    the standard way betweenness is run at scale). Returns
    ``(vid, bc: double)`` — the betweenness contribution accumulated
    from the given source set (exact betweenness when ``sources`` is
    all vertices; an unbiased sample estimate otherwise, scaled by
    |V|/|sources| when ``normalized``).

    All |sources| single-source computations run AS ONE fleet: state
    rows carry the source id ``s``, so each Spark round advances every
    source's BFS simultaneously — depth rounds cost O(diameter) jobs
    total, NOT O(|sources|·diameter). That is the 1000-executor shape:
    the per-round join keys on ``vid`` against the one persisted edge
    table, and the σ/δ aggregations key on (s, vid).

    Forward sweep: layer t holds (s, v, σ) = #shortest s-paths;
    σ_t(v) = Σ_{u∈layer t−1, (u,v)∈E} σ(u). Backward sweep replays
    layers deepest-first: δ(u) = Σ_{w∈succ} σ(u)/σ(w) · (1 + δ(w)),
    and bc(v) = Σ_s δ_s(v) / 2 (each unordered pair counted from both
    endpoints on an undirected graph).

    ``max_depth`` bounds the sweep (layers beyond it are dropped —
    on small-world link graphs the diameter is far below the default).
    """
    spark = graph.edges.sparkSession
    loop = loop or IterationLoop(spark, kernel="betweenness", max_iterations=max_depth)

    sym = graph.sym_edges().select("src", "dst")
    layer0 = loop.hold(
        sources.select(F.col("vid").cast("long").alias("s"))
        .distinct()
        .select("s", F.col("s").alias("v"), F.lit(1).cast("long").alias("sigma"))
    )
    layers: list = [layer0]
    visited = layer0.select("s", "v")

    def absorb(layer):
        """A round that reached new vertices adds a layer."""
        nonlocal visited
        layers.append(layer)
        visited = loop.hold(visited.unionByName(layer.select("s", "v")))

    def step(prev, t, _prev_stats):
        if t > 1:
            absorb(prev)
        nxt = (
            prev.select("s", F.col("v").alias("src"), "sigma")
            .join(sym, on="src")
            .select("s", F.col("dst").alias("v"), "sigma")
            .join(visited, on=["s", "v"], how="left_anti")
            .groupBy("s", "v")
            .agg(F.sum("sigma").alias("sigma"))
        )
        return nxt, [F.count(F.lit(1)).alias("n_new")]

    nxt, _, stats = loop.run(layer0, step, until_zero("n_new"), rounds=max_depth)
    if stats is not None and int(stats["n_new"] or 0) > 0:
        absorb(nxt)

    # backward accumulation, deepest layer first
    spark_zero = F.lit(0.0)
    delta_next = None  # δ over layer t+1
    acc = None  # union of per-layer δ contributions (v, δ)
    for t in range(len(layers) - 1, 0, -1):
        cur = layers[t]  # (s, v, sigma) — δ of this layer feeds layer t-1
        if delta_next is None:
            cur_delta = cur.select("s", "v", "sigma", spark_zero.alias("delta"))
        else:
            cur_delta = cur.join(delta_next, on=["s", "v"], how="left").select(
                "s", "v", "sigma", F.coalesce("delta", spark_zero).alias("delta")
            )
        contrib = (
            cur_delta.select(
                "s",
                F.col("v").alias("dst"),
                ((F.lit(1.0) + F.col("delta")) / F.col("sigma").cast("double")).alias(
                    "w"
                ),
            )
            .join(sym, on="dst")
            .select("s", F.col("src").alias("v"), "w")
            # only predecessors (members of layer t-1) accumulate
            .join(
                layers[t - 1].select("s", "v", F.col("sigma").alias("sig_u")),
                on=["s", "v"],
            )
            .groupBy("s", "v", "sig_u")
            .agg(F.sum("w").alias("wsum"))
            .select(
                "s", "v", (F.col("sig_u").cast("double") * F.col("wsum")).alias("delta")
            )
        )
        delta_next = loop.hold(contrib)
        part = delta_next.where(F.col("v") != F.col("s")).select("v", "delta")
        acc = part if acc is None else acc.unionByName(part)

    if acc is None:
        out = graph.vertices().select("vid", F.lit(0.0).alias("bc"))
    else:
        bc = acc.groupBy(F.col("v").alias("vid")).agg(
            (F.sum("delta") / F.lit(2.0)).alias("bc")
        )
        out = (
            graph.vertices()
            .join(bc, on="vid", how="left")
            .select("vid", F.coalesce("bc", F.lit(0.0)).alias("bc"))
        )
    if normalized:
        n_v = graph.vertices().count()
        n_s = sources.select("vid").distinct().count()
        out = out.select("vid", (F.col("bc") * F.lit(n_v / n_s)).alias("bc"))
    return loop.finish(out, len(layers))


def harmonic_centrality_2hop(graph: Graph) -> DataFrame:
    """Bounded harmonic centrality: ``hc(v) = Σ_{w≠v, d(v,w)≤2} 1/d(v,w)``
    (Boldi & Vigna 2014's axiom-preferred centrality, truncated at two
    hops — the standard cheap proxy on small-world link graphs, where
    most of the harmonic mass sits within the first hops).

    Returns ``(vid, n1, n2, hc)``: direct neighbors, strict-2-hop
    count, and ``hc = n1 + n2/2`` — exact int64 counts + one division.

    Plan: the 1-hop set is the degree agg; the strict 2-hop set is one
    edge self-join + distinct minus neighbors — the same O(Σ deg²)
    pair materialization as exact ANF (at 100 TB, swap the pair set
    for :func:`hyperball` sketches per radius and take estimate
    differences).
    """
    sym = graph.sym_edges().select("src", "dst")
    one = sym.select(F.col("src").alias("vid"), F.col("dst").alias("w"))
    two = (
        sym.alias("a")
        .join(sym.alias("b"), F.col("a.dst") == F.col("b.src"))
        .select(F.col("a.src").alias("vid"), F.col("b.dst").alias("w"))
        .where(F.col("vid") != F.col("w"))
        .distinct()
        .join(one, on=["vid", "w"], how="left_anti")
    )
    n1 = one.groupBy("vid").agg(F.count(F.lit(1)).alias("n1"))
    n2 = two.groupBy("vid").agg(F.count(F.lit(1)).alias("n2"))
    return (
        graph.vertices()
        .join(n1, on="vid", how="left")
        .join(n2, on="vid", how="left")
        .select(
            "vid",
            F.coalesce("n1", F.lit(0)).cast("long").alias("n1"),
            F.coalesce("n2", F.lit(0)).cast("long").alias("n2"),
            (
                F.coalesce("n1", F.lit(0)).cast("double")
                + F.coalesce("n2", F.lit(0)).cast("double") / F.lit(2.0)
            ).alias("hc"),
        )
    )


def snapshot_diff(
    edges_a: DataFrame, edges_b: DataFrame
) -> DataFrame:
    """Temporal link-graph diff: compare two edge snapshots (e.g. the
    reference graph at two commit windows) and label every edge
    ``added`` (in B only), ``removed`` (in A only) or ``kept`` — the
    batch twin of the streaming ingest path's per-batch delta, for
    users diffing two materialized crawls instead of replaying a
    stream.

    Inputs are ``(src, dst)`` DataFrames (deduped by the op). Plan:
    one full-outer join on the edge key — a single co-partitioned
    shuffle of both sides; at 10¹² edges both sides bucket by (src,
    dst) so the join is shuffle-free on arrival.
    """
    a = edges_a.select("src", "dst").distinct().withColumn("in_a", F.lit(1))
    b = edges_b.select("src", "dst").distinct().withColumn("in_b", F.lit(1))
    joined = a.join(b, on=["src", "dst"], how="full_outer")
    return joined.select(
        "src",
        "dst",
        F.when(F.col("in_a").isNull(), F.lit("added"))
        .when(F.col("in_b").isNull(), F.lit("removed"))
        .otherwise(F.lit("kept"))
        .alias("status"),
    )
