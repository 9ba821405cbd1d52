"""Canonical graph representation: an edge DataFrame + derived views.

Reference mapping: HOOVER stores every edge on *both* endpoints inside
per-vertex AVL trees (``src/hoover.cpp:487-492``,
``inc/hvr_irregular_matrix.h:14-20``) and every analytic reads that one
store. Here the single source of truth is ``edges(src: long, dst:
long)``, read through exactly two persisted hash(src)-partitioned
views: ``clean_edges()`` (deduped, no self-loops) and ``sym_edges()``
(both directions, derived from ``clean_edges()``). Every other view
(``canonical``, ``degrees``, CSR blocks) derives from those two, so
what a derived view costs never depends on which kernel ran first.
The per-partition CSR block (the reference's ``linearize``,
``src/hvr_irregular_matrix.cpp:67-70``) is built with
``groupBy(part).applyInPandas`` when a vectorized kernel wants
array-form adjacency.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from functools import reduce
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, functions as F, types as T

EDGE_SCHEMA = T.StructType(
    [
        T.StructField("src", T.LongType(), False),
        T.StructField("dst", T.LongType(), False),
    ]
)


@dataclass
class Graph:
    """A graph over 64-bit vertex ids, backed by an edge DataFrame.

    ``edges`` is treated as a *directed* edge list (deduped, no
    self-loops in :meth:`clean_edges`). Undirected algorithms use
    :meth:`sym_edges`; triangle counting uses :meth:`canonical`.
    """

    edges: DataFrame
    num_partitions: int = 32
    _cache: dict = field(default_factory=dict, repr=False)

    # ------------------------------------------------------------------
    # persisted, hash-partitioned edge views — the only edge readers.
    # The dedup/symmetrize shuffles run ONCE per graph, not once per
    # kernel call (pagerank + wcc + triangles on the same graph reuse
    # the same cached edge partitions — the reference's analogue is
    # that its adjacency store simply persists across analytics).
    # ------------------------------------------------------------------
    def clean_edges(self) -> DataFrame:
        """Deduped, self-loop-free directed edges, partitioned by
        hash(src) and persisted."""
        if "clean_part" not in self._cache:
            self._cache["clean_part"] = (
                self.edges.select("src", "dst")
                .where(F.col("src") != F.col("dst"))
                .dropDuplicates(["src", "dst"])
                .repartition(self.num_partitions, "src")
                .persist()
            )
        return self._cache["clean_part"]

    def sym_edges(self) -> DataFrame:
        """Both directions of :meth:`clean_edges`, deduped, partitioned
        by hash(src) and persisted — the reference's both-endpoint
        storage (``src/hoover.cpp:487-492``) as a view, not a copy kept
        in sync by hand."""
        if "sym_part" not in self._cache:
            e = self.clean_edges()
            self._cache["sym_part"] = (
                e.unionByName(
                    e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
                )
                .dropDuplicates(["src", "dst"])
                .repartition(self.num_partitions, "src")
                .persist()
            )
        return self._cache["sym_part"]

    def canonical(self) -> DataFrame:
        """Undirected edge set stored once with ``src < dst``."""
        return self.clean_edges().select(
            F.least("src", "dst").alias("src"), F.greatest("src", "dst").alias("dst")
        ).dropDuplicates(["src", "dst"])

    def vertices(self) -> DataFrame:
        """Distinct vertex ids appearing at either endpoint of the RAW
        edge list, so a vertex whose only incidence is a self-loop (it
        never reaches the cleaned views) is kept."""
        if "vertices" not in self._cache:
            e = self.edges
            self._cache["vertices"] = (
                e.select(F.col("src").alias("vid"))
                .unionByName(e.select(F.col("dst").alias("vid")))
                .distinct()
            )
        return self._cache["vertices"]

    def degrees(self) -> DataFrame:
        """(vid, degree) over the undirected (symmetric) view."""
        return self.sym_edges().groupBy(F.col("src").alias("vid")).agg(
            F.count(F.lit(1)).alias("degree")
        )

    # Iterative kernels join edges against a (small) frontier every
    # round and combine the per-view outputs with :func:`per_view`, so
    # a composite graph (persisted base + tiny delta, see
    # :class:`DeltaGraph`) keeps the base's hash-partitioning.
    def sym_edge_views(self) -> list[DataFrame]:
        return [self.sym_edges()]

    def clean_edge_views(self) -> list[DataFrame]:
        return [self.clean_edges()]

    def unpersist(self) -> None:
        """Release every cached/persisted derived view."""
        for key in ("clean_part", "sym_part", "vertices"):
            df = self._cache.pop(key, None)
            if df is not None:
                try:
                    df.unpersist()
                except Exception:
                    pass
        self._cache.clear()

    # ------------------------------------------------------------------
    # CSR blocks (reference: per-vertex AVL rows linearized to flat
    # arrays, src/hvr_irregular_matrix.cpp:67-70). One block per hash
    # partition; adjacency as numpy-style arrays for vectorized kernels.
    # ------------------------------------------------------------------
    def csr_blocks(self, num_parts: int | None = None) -> DataFrame:
        """(part, vids: array<long>, indptr: array<int>, indices: array<long>)

        Built with ``applyInPandas`` — one Arrow batch per partition,
        sorted adjacency (the AVL trees kept neighbors ordered; we sort
        once at build). Kernel code can zip ``vids[i]`` with
        ``indices[indptr[i]:indptr[i+1]]``.
        """
        num_parts = num_parts or self.num_partitions
        e = self.sym_edges().withColumn(
            "part", F.pmod(F.xxhash64("src"), F.lit(num_parts)).cast("int")
        )

        schema = T.StructType(
            [
                T.StructField("part", T.IntegerType(), False),
                T.StructField("vids", T.ArrayType(T.LongType()), False),
                T.StructField("indptr", T.ArrayType(T.IntegerType()), False),
                T.StructField("indices", T.ArrayType(T.LongType()), False),
            ]
        )

        def build(pdf: pd.DataFrame) -> pd.DataFrame:
            pdf = pdf.sort_values(["src", "dst"])
            part = int(pdf["part"].iloc[0])
            counts = pdf.groupby("src", sort=True).size()
            vids = counts.index.to_numpy()
            indptr = [0]
            total = 0
            for c in counts.to_numpy():
                total += int(c)
                indptr.append(total)
            return pd.DataFrame(
                {
                    "part": [part],
                    "vids": [vids.tolist()],
                    "indptr": [indptr],
                    "indices": [pdf["dst"].to_numpy().tolist()],
                }
            )

        return e.groupBy("part").applyInPandas(build, schema=schema)


class DeltaGraph(Graph):
    """A long-lived persisted ``base`` Graph plus a small edge delta.

    Its two view lists cost O(|delta|) on top of the base's
    already-persisted hash-partitioned views — the streaming ingest
    path builds one of these per micro-batch instead of re-scanning +
    re-shuffling the full durable store (the r3 scale-killer: a
    16-edge micro-batch paying one O(|E|) pass to re-materialize the
    symmetric view). The warm kernels it feeds read only those lists,
    ``edges.sparkSession`` and ``num_partitions``; the inherited
    whole-graph views would rebuild from the unioned raw edges.
    Reference analogue:
    ``update_edge_info`` touches only the mutated adjacency rows
    (``src/hoover.cpp:450-600``) while the store persists.

    ``delta``     — fresh DIRECTED edges, already deduped against the
                    base's directed store (disjoint by construction).
    ``delta_sym`` — the symmetric closure of ``delta`` MINUS pairs
                    already present in the base's symmetric view, so
                    ``base.sym_edges() ∪ delta_sym`` is exactly the
                    deduped symmetric view of ``base.edges ∪ delta``.

    Both deltas should be ``localCheckpoint``-ed by the caller (they
    are scanned once per kernel round).
    """

    def __init__(self, base: Graph, delta: DataFrame, delta_sym: DataFrame) -> None:
        super().__init__(
            edges=base.edges.unionByName(delta.select("src", "dst")),
            num_partitions=base.num_partitions,
        )
        self.base = base
        self.delta = delta.select("src", "dst")
        self.delta_sym = delta_sym.select("src", "dst")

    def sym_edge_views(self) -> list[DataFrame]:
        return [self.base.sym_edges(), self.delta_sym]

    def clean_edge_views(self) -> list[DataFrame]:
        return [self.base.clean_edges(), self.delta]

    def unpersist(self) -> None:
        """Release only this composite's own cache — the base's views
        are long-lived by design (the whole point is not rebuilding
        them per batch); compaction releases them explicitly."""
        self._cache.clear()


def per_view(
    views: list[DataFrame], fn: Callable[[DataFrame], DataFrame]
) -> DataFrame:
    """Union of ``fn(v)`` over the edge views ``v``.

    A kernel joins each view against its (small) frontier and unions
    the join OUTPUTS. A union of the views themselves would erase the
    base view's persisted hash-partitioning and re-shuffle the FULL
    edge side every round of every micro-batch (see
    :class:`DeltaGraph`).
    """
    return reduce(DataFrame.unionByName, map(fn, views))


def graph_from_pairs(spark, pairs, num_partitions: int = 8) -> Graph:
    """Tiny-fixture helper: build a Graph from python (src, dst) pairs."""
    df = spark.createDataFrame(
        [(int(s), int(d)) for s, d in pairs], schema=EDGE_SCHEMA
    )
    return Graph(df, num_partitions=num_partitions)


def degree_assortativity(graph: Graph) -> DataFrame:
    """One-row ``(m_edges, assortativity)`` — Newman (2002) degree
    assortativity of the undirected graph: the Pearson correlation of
    the endpoint degrees over all directed edges of the symmetric
    view. Positive = hubs link to hubs (social), negative = hubs link
    to leaves (web/tech graphs) — the standard one-number topology
    fingerprint a link-graph user reads before choosing skew handling
    (an assortative graph salts differently than a star-heavy one).

    Computed from exact int64 moment sums so any two engines agree
    bit-for-bit: over the symmetric edge list Sx = Sy and Sxx = Syy,
    hence

        r = (M·Sxy − Sx²) / (M·Sxx − Sx²)

    with M = |sym edges|, Sx = Σ deg(src), Sxy = Σ deg(src)·deg(dst),
    Sxx = Σ deg(src)² — three integer aggregates and ONE double
    division at the end. Plan: two hash joins of the edge list against
    the O(|V|) degree table (broadcast when small, sort-merge
    otherwise) and a single global agg with map-side partials — one
    pass over the edges, no iteration. Degenerate graphs (all degrees
    equal — zero variance) return 0.0. Bound: the int64 moments hold
    exactly while M·D² < 2⁶³ (D = max degree) — at 10¹² edges and
    D ≈ 10⁴ switch the moment sums to double (documented trade: ~1 ulp
    per 2⁵³, far below the 6-dp contract precision).
    """
    # persisted hash-partitioned view, like every other kernel: the
    # two degree joins below must not re-run the dedup/symmetrize
    # shuffles per join (exchange reuse is not guaranteed under AQE)
    sym = graph.sym_edges()
    deg = graph.degrees()
    e = (
        sym
        .join(
            deg.select(F.col("vid").alias("src"), F.col("degree").alias("ds")),
            on="src",
        )
        .join(
            deg.select(F.col("vid").alias("dst"), F.col("degree").alias("dd")),
            on="dst",
        )
    )
    sums = e.agg(
        F.count(F.lit(1)).alias("m"),
        F.sum("ds").alias("sx"),
        F.sum(F.col("ds") * F.col("dd")).alias("sxy"),
        F.sum(F.col("ds") * F.col("ds")).alias("sxx"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    return sums.select(
        F.col("m").cast("long").alias("m_edges"),
        F.when(den != 0, num.cast("double") / den.cast("double"))
        .otherwise(F.lit(0.0))
        .alias("assortativity"),
    )


def reciprocity(graph: Graph) -> DataFrame:
    """One-row ``(m_edges, reciprocal_edges, reciprocity)`` over the
    *directed* cleaned edge list: the fraction of edges (u→v) whose
    reverse (v→u) is also present — the standard directed-graph
    fingerprint (a web link graph sits near 0, a social graph near
    0.5+). The reference's edge store is inherently symmetric (both
    endpoints hold every edge, ``src/hoover.cpp:487-492``); this is
    the statistic that tells a user whether that symmetry is real or
    an artifact.

    Plan: one left self-join of the directed edge list on the reversed
    key pair + a global agg — a single shuffle on (src, dst), exact
    int64 counts, one double division, all lazy (ONE Spark job when
    the caller acts). At 10¹² edges the join is a plain sort-merge on
    the same key layout the canonicalization already shuffles by.
    """
    e = graph.clean_edges().select("src", "dst")
    rev = e.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    ).withColumn("has_rev", F.lit(1))
    sums = e.join(rev, on=["src", "dst"], how="left").agg(
        F.count(F.lit(1)).alias("m"),
        # outer coalesce: SUM over ZERO rows (empty cleaned set) is
        # NULL, which the per-row coalesce can't see
        F.coalesce(
            F.sum(F.coalesce("has_rev", F.lit(0))), F.lit(0)
        ).alias("rec"),
    )
    return sums.select(
        F.col("m").cast("long").alias("m_edges"),
        F.col("rec").cast("long").alias("reciprocal_edges"),
        F.when(
            F.col("m") > 0, F.col("rec").cast("double") / F.col("m").cast("double")
        )
        .otherwise(F.lit(0.0))
        .alias("reciprocity"),
    )


def degree_histogram(graph: Graph) -> DataFrame:
    """Log2-binned undirected degree histogram:
    ``(bucket, n_vertices, min_degree, max_degree)`` with
    ``bucket = floor(log2(degree))`` — the first thing a user plots on
    a new 10¹²-edge crawl to size skew handling (a straight line =
    power law = salt the top buckets).

    Cross-engine determinism note: the bucket is computed as
    ``floor(log2(degree + 0.5))`` — equal to ``floor(log2(d))`` for
    every positive integer d, but never evaluated AT a power of two,
    so a 1-ulp libm difference between engines can't flip the floor
    (``log2(8)`` may round to 2.9999… in one libm and 3.0 in another;
    ``log2(8.5)`` is safely interior for both).

    Plan: the degree agg (one shuffle the Graph's other callers share)
    + a ~60-bucket global agg with map-side partials — no sort, no
    window.
    """
    deg = graph.degrees()
    bucket = F.floor(F.log2(F.col("degree").cast("double") + F.lit(0.5)))
    return (
        deg.groupBy(bucket.cast("long").alias("bucket"))
        .agg(
            F.count(F.lit(1)).alias("n_vertices"),
            F.min("degree").cast("long").alias("min_degree"),
            F.max("degree").cast("long").alias("max_degree"),
        )
        .select("bucket", "n_vertices", "min_degree", "max_degree")
    )


def degree_quantiles(
    graph: Graph, probs: tuple[float, ...] = (0.25, 0.5, 0.75, 0.9, 0.99)
) -> DataFrame:
    """Exact degree-distribution quantiles: ONE row
    ``(n_vertices, p25, …, max_degree)`` via Spark's exact
    ``percentile`` aggregate (linear interpolation — verified to
    produce bit-identical doubles to DuckDB's ``quantile_cont``,
    rounded 6 dp for the contract).

    Scale note: exact ``percentile`` keeps a per-partition counts map
    of DISTINCT degree values — fine for degree data (≤ ~2⁴⁰ distinct
    values is impossible; real graphs have ≤ ~10⁵ distinct degrees so
    the partial state is tiny even at 10¹² edges). For arbitrary
    high-cardinality columns swap in ``approx_percentile`` (KLL
    sketch) — same one-row plan shape.
    """
    arr = ", ".join(f"{p}D" for p in probs)
    agg = graph.degrees().agg(
        F.count(F.lit(1)).alias("n_vertices"),
        F.expr(f"percentile(degree, array({arr}))").alias("p"),
        F.max("degree").cast("long").alias("max_degree"),
    )
    cols = [
        F.round(F.col("p")[i], 6).alias(f"p{round(p * 100)}")
        for i, p in enumerate(probs)
    ]
    return agg.select("n_vertices", *cols, "max_degree")
