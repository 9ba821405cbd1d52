"""Deterministic synthetic graph fixtures with closed-form answers.

Ports the reference's golden-fixture strategy
(``community_test_cases/*.csv`` — tiny graphs with known clique /
component structure, ``test/community_detection.cpp:706-759``) and its
deterministic generators (seeded LCG edge stream
``test/connected_components.c:43-51``; Kronecker/RMAT
``tools/generate_graph.c:22-60``).

Everything is hash-derived (no RNG state), so the same fixture is
byte-identical at any parallelism — the reference achieves this with
``fast_srand(123 + pe)`` per PE; we achieve it with pure column
expressions over ``spark.range``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from hoover_spark.operators.graph import Graph, graph_from_pairs


def path_graph(spark: SparkSession, n: int) -> Graph:
    """0-1-2-...-(n-1). 1 component, 0 triangles; worst case for
    pure hash-min (diameter n) — exercises pointer jumping."""
    e = spark.range(n - 1).select(
        F.col("id").alias("src"), (F.col("id") + 1).alias("dst")
    )
    return Graph(e, num_partitions=8)


def cycle_graph(spark: SparkSession, n: int) -> Graph:
    e = spark.range(n).select(
        F.col("id").alias("src"), ((F.col("id") + 1) % n).alias("dst")
    )
    return Graph(e, num_partitions=8)


def star_graph(spark: SparkSession, n_leaves: int, hub: int = 0) -> Graph:
    """Hub ↔ n leaves: maximum skew (hub degree = n) — the salted-agg
    stress fixture."""
    e = spark.range(1, n_leaves + 1).select(
        F.lit(hub).cast("long").alias("src"), F.col("id").alias("dst")
    )
    return Graph(e, num_partitions=8)


def clique_graph(spark: SparkSession, k: int, offset: int = 0) -> Graph:
    """K_k on vertices offset..offset+k-1; C(k,3) triangles."""
    a = spark.range(k).select((F.col("id") + offset).alias("src"))
    b = spark.range(k).select((F.col("id") + offset).alias("dst"))
    e = a.crossJoin(b).where(F.col("src") < F.col("dst"))
    return Graph(e, num_partitions=8)


def two_cliques(spark: SparkSession, k: int = 4, bridge: bool = False) -> Graph:
    """K_k ∪ K_k (disjoint → 2 components) or bridged by one edge.

    Port of the reference fixtures ``4_vert_1_cliq.csv`` /
    ``8_vert_2_cliq.csv``."""
    g1 = clique_graph(spark, k, offset=0).edges
    g2 = clique_graph(spark, k, offset=k).edges
    e = g1.unionByName(g2)
    if bridge:
        e = e.unionByName(
            e.sparkSession.createDataFrame([(k - 1, k)], schema="src long, dst long")
        )
    return Graph(e, num_partitions=8)


def rmat_graph(
    spark: SparkSession,
    scale: int = 10,
    edge_factor: int = 8,
    a: float = 0.57,
    b: float = 0.19,
    c: float = 0.19,
) -> Graph:
    """Deterministic RMAT (Graph500 Kronecker analogue of
    ``tools/generate_graph.c:22-60``) with hash-driven bit choices.

    For edge e and bit level l, two hash draws in [0,1) pick the
    quadrant; probabilities (a,b,c,d) as in the standard recursive
    matrix model. Pure column expressions: generation is fully
    distributed, reproducible at any parallelism, and scales linearly —
    this is how we synthesize 10^9-edge inputs without ever collecting
    to the driver.

    Draws are 8-bit slices packed 8-per-xxhash64 (2·scale draws need
    ceil(scale/4) hashes per edge instead of 2·scale — 7× cheaper
    generation at scale 22, same distribution at 1/256 probability
    resolution)."""
    n_edges = edge_factor << scale

    df = spark.range(n_edges).select(F.col("id").alias("eid"))
    n_draws = 2 * scale
    hashes = [
        F.xxhash64(F.col("eid"), F.lit(f"h{k}")) for k in range((n_draws + 7) // 8)
    ]

    def draw(idx: int):
        """8-bit uniform draw in [0, 256)."""
        h = hashes[idx // 8]
        return F.shiftright(h, 8 * (idx % 8)).bitwiseAND(F.lit(255))

    src = F.lit(0).cast("long")
    dst = F.lit(0).cast("long")
    for level in range(scale):
        u = draw(2 * level)
        v = draw(2 * level + 1)
        # P(src bit = 1) = c + d when we split rows (a+b | c+d) first.
        src_bit = (u >= F.lit(int((a + b) * 256))).cast("long")
        # column split within the chosen row block.
        p_right = F.when(
            src_bit == 0, F.lit(int(b / (a + b) * 256))
        ).otherwise(F.lit(int((1.0 - a - b - c) / (1.0 - a - b) * 256)))
        dst_bit = (v < p_right).cast("long")
        src = src + src_bit * F.lit(1 << level)
        dst = dst + dst_bit * F.lit(1 << level)
    e = df.select(src.alias("src"), dst.alias("dst")).where(
        F.col("src") != F.col("dst")
    )
    return Graph(e, num_partitions=16)


def edges_to_pairs(g: Graph) -> list[tuple[int, int]]:
    """Collect a small fixture's edge list for driver-side oracles."""
    return [(r["src"], r["dst"]) for r in g.clean_edges().collect()]


__all__ = [
    "path_graph",
    "cycle_graph",
    "star_graph",
    "clique_graph",
    "two_cliques",
    "rmat_graph",
    "graph_from_pairs",
    "edges_to_pairs",
]
