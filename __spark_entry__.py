"""Driver contract for the spark-graft builder (PySpark target).

``queries()`` exposes every SQL-expressible operator slice of the
engine (SURVEY.md §2) over the driver's parquet tables; each has a
DuckDB twin in ``oracle_sql()`` that recomputes the same result with
plain ANSI SQL. Graph kernels run on graphs **derived
deterministically** from the driver tables with modular arithmetic
(both engines compute identical edge sets), so the iterative Spark
kernels (WCC / PageRank / label propagation / triangles) are checked
against closed-form SQL: recursive-CTE reachability for WCC, unrolled
iteration CTEs for PageRank and min-label, and plain join-counting for
triangles.

Doubles are rounded (6 dp) on BOTH sides before comparison; ranks are
ordered by the rounded value so row_number ties break identically.

Non-SQL-expressible entries (streaming incremental convergence, the
repos→edges flagship on the synthesized source table, ANN) are covered
by pytest oracles in tests/ instead.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from hoover_spark.functions.text import (
    HASH_P,
    LANG_MARKERS,
    STOPWORDS,
    lang_id,
    quality_metrics,
    quality_score,
    shingle_codes,
    shingle_codes_sql,
    subword_count,
    token_count,
    winnow_fingerprints,
)
from hoover_spark.operators.dedup import (
    exact_dedup,
    minhash_coeffs,
    minhash_lsh_pairs,
    minhash_signatures,
    ngram_jaccard,
    simhash,
)
from hoover_spark.operators.graph import Graph
from hoover_spark.operators.label_prop import min_label_propagation, mode_label_propagation
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.operators.triangles import (
    oriented_edges,
    per_vertex_triangles,
    triangles,
)
from hoover_spark.operators.wcc import wcc

N_HASHES = 12
BAND = 3
SHINGLE_K = 5
LSH_MAX_BUCKET = 1000


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# ---------------------------------------------------------------------------
# deterministic derived graphs (identical in Spark and DuckDB)
# ---------------------------------------------------------------------------

def _customer_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed graph on customer keys: x → (31x+17) mod N and
    x → (57x+23) mod N (self-loops dropped, deduped)."""
    cust = _t(spark, sf_dir, "customer")
    n = cust.count()
    k = F.col("c_custkey")
    e1 = cust.select(k.alias("src"), F.pmod(k * 31 + 17, F.lit(n)).alias("dst"))
    e2 = cust.select(k.alias("src"), F.pmod(k * 57 + 23, F.lit(n)).alias("dst"))
    return (
        e1.unionByName(e2).where(F.col("src") != F.col("dst")).distinct()
    )


_CUSTOMER_EDGES_SQL = """
  cn AS (SELECT count(*) AS n FROM customer),
  e0 AS (
    SELECT src, dst FROM (
      SELECT c_custkey AS src, (c_custkey*31+17) % (SELECT n FROM cn) AS dst FROM customer
      UNION
      SELECT c_custkey AS src, (c_custkey*57+23) % (SELECT n FROM cn) AS dst FROM customer
    ) WHERE src <> dst
  ),
  sym AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
  v AS (SELECT DISTINCT src AS vid FROM sym)
"""


def _events_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite-ish user graph: user_id → (7919·event_id + 13) mod U."""
    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().count()
    return (
        ev.select(
            F.col("user_id").alias("src"),
            F.pmod(F.col("event_id") * 7919 + 13, F.lit(u)).alias("dst"),
        )
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_EVENTS_EDGES_SQL = """
  un AS (SELECT count(DISTINCT user_id) AS u FROM events),
  e0 AS (
    SELECT DISTINCT user_id AS src, (event_id*7919+13) % (SELECT u FROM un) AS dst
    FROM events WHERE user_id <> (event_id*7919+13) % (SELECT u FROM un)
  ),
  sym AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
  v AS (SELECT DISTINCT src AS vid FROM sym)
"""


def _order_part_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bipartite customer → part graph from the order lines; parts are
    offset by 10^6 so the id spaces do not collide. Parts have no
    out-edges → dangling-mass exercise for PageRank."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("o_custkey").alias("src"),
            (F.col("l_partkey") + F.lit(1_000_000)).alias("dst"),
        )
        .distinct()
    )


_ORDER_PART_EDGES_SQL = """
  e0 AS (
    SELECT DISTINCT o_custkey AS src, l_partkey + 1000000 AS dst
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  ),
  v AS (SELECT src AS vid FROM e0 UNION SELECT dst AS vid FROM e0)
"""


def _circulant_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle-rich circulant graph on customer keys — x → (x+d) mod N
    for d ∈ {1,2,3} (undirected min support 2: every edge closes with
    its short-offset neighbors) plus sparse chords x → (x+7) mod N for
    x % 5 == 0, which sit in no triangle. The customer modular graph is
    triangle-free at the driver SFs, so truss peeling needs this one:
    the 4-truss keeps exactly the circulant and peels exactly the
    chords."""
    cust = _t(spark, sf_dir, "customer")
    n = cust.count()
    k = F.col("c_custkey")
    e = None
    for d in (1, 2, 3):
        part = cust.select(k.alias("src"), F.pmod(k + d, F.lit(n)).alias("dst"))
        e = part if e is None else e.unionByName(part)
    chords = cust.where(k % 5 == 0).select(
        k.alias("src"), F.pmod(k + 7, F.lit(n)).alias("dst")
    )
    return (
        e.unionByName(chords).where(F.col("src") != F.col("dst")).distinct()
    )


_CIRCULANT_EDGES_SQL = """
  cn AS (SELECT count(*) AS n FROM customer),
  e0 AS (
    SELECT src, dst FROM (
      SELECT c_custkey AS src, (c_custkey+1) % (SELECT n FROM cn) AS dst FROM customer
      UNION
      SELECT c_custkey AS src, (c_custkey+2) % (SELECT n FROM cn) AS dst FROM customer
      UNION
      SELECT c_custkey AS src, (c_custkey+3) % (SELECT n FROM cn) AS dst FROM customer
      UNION
      SELECT c_custkey AS src, (c_custkey+7) % (SELECT n FROM cn) AS dst FROM customer
      WHERE c_custkey % 5 = 0
    ) WHERE src <> dst
  ),
  canon AS (SELECT DISTINCT least(src,dst) AS src, greatest(src,dst) AS dst FROM e0)
"""


# ---------------------------------------------------------------------------
# Spark-side query callables
# ---------------------------------------------------------------------------

def q_edge_derivation(spark, sf_dir):
    return _customer_edges(spark, sf_dir)


def q_graph_degrees(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return g.degrees().select("vid", F.col("degree").cast("long").alias("degree"))


def q_wcc_components(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return wcc(g).select("vid", "label")


def q_wcc_two_phase(spark, sf_dir):
    """WCC in its two phases: hash-min rounds (phase one) until the next
    round's messages fit on the driver, then the driver union-find over
    their label pairs (phase two)."""
    g = Graph(_customer_edges(spark, sf_dir))
    return wcc(g).select("vid", "label")


def q_wcc_sizes(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return (
        wcc(g)
        .groupBy("label")
        .agg(F.count(F.lit(1)).alias("size"))
        .select(F.col("label").alias("component"), "size")
    )


def q_pagerank_3iter(spark, sf_dir):
    g = Graph(_order_part_edges(spark, sf_dir))
    pr = pagerank(g, n_iterations=3)
    return pr.select("vid", F.round("rank", 6).alias("rank"))


def q_minlabel_2iter(spark, sf_dir):
    g = Graph(_events_edges(spark, sf_dir))
    return min_label_propagation(g, n_iterations=2).select("vid", "label")


def q_mode_lp_1iter(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return mode_label_propagation(g, n_iterations=1).select("vid", "label")


def q_hits_2iter(spark, sf_dir):
    from hoover_spark.operators.hits import hits

    g = Graph(_order_part_edges(spark, sf_dir))
    out = hits(g, n_iterations=2)
    return out.select(
        "vid", F.round("hub", 6).alias("hub"), F.round("auth", 6).alias("auth")
    )


def q_kcore_3(spark, sf_dir):
    from hoover_spark.operators.kcore import kcore

    g = Graph(_customer_edges(spark, sf_dir))
    return kcore(g, k=3).select(
        "vid", F.col("core_degree").cast("long").alias("core_degree")
    )


def q_ppr_3iter(spark, sf_dir):
    g = Graph(_order_part_edges(spark, sf_dir))
    seeds = g.vertices().where(
        (F.col("vid") % 97 == 0) & (F.col("vid") < 1_000_000)
    )
    out = pagerank(g, seeds=seeds, n_iterations=3)
    return out.select("vid", F.round("rank", 6).alias("rank"))


def q_ktruss_4(spark, sf_dir):
    from hoover_spark.operators.ktruss import ktruss

    g = Graph(_circulant_edges(spark, sf_dir))
    return ktruss(g, k=4).select(
        "src", "dst", F.col("support").cast("long").alias("support")
    )


def q_tfidf_top3(spark, sf_dir):
    from hoover_spark.functions.text import tf_idf_top_terms

    docs = _t(spark, sf_dir, "documents")
    out = tf_idf_top_terms(docs, "doc_id", "text", top_k=3)
    return out.select(
        F.col("id").alias("doc_id"),
        "term",
        "score",
        F.col("rank").cast("long").alias("rank"),
    )


def q_triangle_total(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return triangles(oriented_edges(g)).agg(
        F.count(F.lit(1)).cast("long").alias("n_triangles")
    )


def q_triangles_per_vertex(spark, sf_dir):
    g = Graph(_customer_edges(spark, sf_dir))
    return per_vertex_triangles(g).select(
        "vid", F.col("triangles").cast("long").alias("triangles")
    )


def q_vertex_metrics(spark, sf_dir):
    """Composite per-vertex analytics table — degree, component label,
    component size, triangle count — the standard link-graph deliverable
    (one row per vertex, all kernels joined on vid). The kernels share
    one cached Graph, so the edge views materialize once."""
    g = Graph(_customer_edges(spark, sf_dir))
    deg = g.degrees().select("vid", F.col("degree").cast("long").alias("degree"))
    labels = wcc(g).select("vid", "label")
    sizes = labels.groupBy("label").agg(
        F.count(F.lit(1)).alias("component_size")
    )
    tri = per_vertex_triangles(g).select(
        "vid", F.col("triangles").cast("long").alias("triangles")
    )
    return (
        labels.join(deg, on="vid")
        .join(sizes, on="label")
        .join(tri, on="vid")
        .select("vid", "degree", "label", "component_size", "triangles")
    )


def q_clustering_coeff(spark, sf_dir):
    """Per-vertex local clustering coefficient — the per-vertex
    normalization of the reference's triangle statistic
    (``test/count_triangles.c:122-126``); integer tri/deg inputs, one
    double division, bit-exact vs the SQL oracle."""
    from hoover_spark.operators.triangles import clustering_coefficient

    g = Graph(_customer_edges(spark, sf_dir))
    return clustering_coefficient(g).select(
        "vid", "degree", "triangles", F.round("lcc", 6).alias("lcc")
    )


def q_assortativity(spark, sf_dir):
    """Newman degree assortativity of the customer graph — one row,
    computed from exact int64 moment sums (see
    ``operators/graph.py:degree_assortativity``)."""
    from hoover_spark.operators.graph import degree_assortativity

    g = Graph(_customer_edges(spark, sf_dir))
    return degree_assortativity(g).select(
        "m_edges", F.round("assortativity", 6).alias("assortativity")
    )


def q_dup_ngram_fraction(spark, sf_dir):
    """Sub-document dedup signal (Lee et al. 2022): per document, the
    fraction of its distinct char 9-grams shared with other documents
    — catches boilerplate/quoted spans whole-document dedup misses."""
    from hoover_spark.operators.dedup import dup_shingle_stats

    docs = _t(spark, sf_dir, "documents")
    return dup_shingle_stats(docs, "doc_id", "text", k=9).select(
        F.col("id").alias("doc_id"),
        "n_codes",
        "dup_codes",
        F.round("dup_fraction", 6).alias("dup_fraction"),
    )


def q_bfs_hops_3(spark, sf_dir):
    """Multi-source BFS to 3 hops from the vid%97==0 seed set —
    frontier-delta expansion (``operators/paths.py:bfs_hops``), checked
    against a 3-level unrolled min-hop SQL oracle."""
    from hoover_spark.operators.paths import bfs_hops

    g = Graph(_customer_edges(spark, sf_dir))
    seeds = g.vertices().where(F.col("vid") % 97 == 0)
    return bfs_hops(g, seeds, max_hops=3)


def q_link_predict_ra(spark, sf_dir):
    """Open-wedge link prediction with the Resource-Allocation index
    (Zhou, Lü & Zhang 2009) — non-adjacent pairs with ≥2 common
    neighbors; RA = Σ 1/deg(v) is transcendental-free so the SQL
    oracle reproduces it to the rounded 6 dp exactly."""
    from hoover_spark.operators.paths import link_predict

    g = Graph(_customer_edges(spark, sf_dir))
    return link_predict(g, min_common=2, scores=("ra",)).select(
        "u", "w", "common_neighbors", F.round("ra_score", 6).alias("ra_score")
    )


def q_reciprocity(spark, sf_dir):
    """Directed-edge reciprocity of the customer graph — one row,
    exact int64 counts + one division (``operators/graph.py``)."""
    from hoover_spark.operators.graph import reciprocity

    g = Graph(_customer_edges(spark, sf_dir))
    return reciprocity(g).select(
        "m_edges", "reciprocal_edges", F.round("reciprocity", 6).alias("reciprocity")
    )


def q_degree_histogram(spark, sf_dir):
    """Log2-binned degree histogram — bucket = floor(log2(deg + 0.5))
    so a 1-ulp libm divergence between engines can't flip a floor at
    an exact power of two (``operators/graph.py:degree_histogram``)."""
    from hoover_spark.operators.graph import degree_histogram

    g = Graph(_customer_edges(spark, sf_dir))
    return degree_histogram(g)


def _pii_augmented_docs(spark, sf_dir):
    """documents with deterministic PII-ish tokens appended (same
    derivation in the SQL oracle) so the extraction regexes are
    actually exercised — the raw synthetic corpus contains none."""
    d = F.col("doc_id")
    return _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(
                d % 3 == 0,
                F.concat(
                    F.lit(" contact user"), d.cast("string"), F.lit("@example.com")
                ),
            ).otherwise(F.lit("")),
            F.when(
                d % 4 == 0,
                F.concat(
                    F.lit(" origin 10.0."), (d % 256).cast("string"), F.lit(".7")
                ),
            ).otherwise(F.lit("")),
        ).alias("text"),
    )


def q_pii_scrub(spark, sf_dir):
    """PII detection counts (emails, IPv4) over deterministically
    augmented documents — map-only codegen'd regex scan
    (``functions/text.py:pii_stats``)."""
    from hoover_spark.functions.text import pii_stats

    docs = _pii_augmented_docs(spark, sf_dir)
    return pii_stats(docs, "doc_id", "text").select(
        F.col("id").alias("doc_id"), "n_emails", "n_ipv4", "has_pii"
    )


def q_segment_repetition(spark, sf_dir):
    """Gopher-style duplicate-segment quality features — split on '.',
    trim, drop empties; dup_fraction = 1 − distinct/segments
    (``functions/text.py:segment_repetition``)."""
    from hoover_spark.functions.text import segment_repetition

    docs = _t(spark, sf_dir, "documents")
    return segment_repetition(docs, "doc_id", "text", sep=".").select(
        F.col("id").alias("doc_id"),
        "n_segments",
        "n_distinct",
        F.round("dup_fraction", 6).alias("dup_fraction"),
        F.round("mean_seg_chars", 6).alias("mean_seg_chars"),
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination: training docs (doc_id%37≠0) sharing
    any char 12-gram with the benchmark slice (doc_id%37==0); the
    benchmark's distinct code set broadcasts, so the corpus-side pass
    is shuffle-free (``operators/dedup.py:decontaminate``)."""
    from hoover_spark.operators.dedup import decontaminate

    docs = _t(spark, sf_dir, "documents")
    train = docs.where(F.col("doc_id") % 37 != 0)
    bench = docs.where(F.col("doc_id") % 37 == 0)
    return decontaminate(train, bench, "doc_id", "text", k=12).select(
        F.col("id").alias("doc_id"), "n_codes", "n_hits", "contaminated"
    )


def q_random_walks_3(spark, sf_dir):
    """Deterministic DeepWalk-style walk corpus: 2 walks × 3 steps from
    the vid%29==0 starts; neighbor choice = LCG mix mod degree against
    the dst-sorted adjacency (``operators/paths.py:random_walks``), so
    a SQL oracle replays every step exactly."""
    from hoover_spark.operators.paths import random_walks

    g = Graph(_customer_edges(spark, sf_dir))
    starts = g.vertices().where(F.col("vid") % 29 == 0)
    return random_walks(g, starts, walk_length=3, walks_per_vertex=2)


def q_anf_2(spark, sf_dir):
    """Exact 2-hop neighborhood size per vertex (ANF point; Palmer et
    al. 2002) — the oracle-checkable small-h twin of the HyperBall
    sketch path (``operators/paths.py:neighborhood_function``)."""
    from hoover_spark.operators.paths import neighborhood_function

    g = Graph(_customer_edges(spark, sf_dir))
    return neighborhood_function(g, h=2)


def q_modularity_mod5(spark, sf_dir):
    """Newman modularity Q of the deterministic vid%5 partition —
    exact int64 aggregates + one division
    (``operators/communities.py:modularity``); the same metric a user
    runs over mode-LP / percolation labels to compare partitions."""
    from hoover_spark.operators.communities import modularity

    g = Graph(_customer_edges(spark, sf_dir))
    labels = g.vertices().select(
        "vid", F.pmod(F.col("vid"), F.lit(5)).alias("label")
    )
    return modularity(g, labels).select(
        "m_edges", "intra_edges", F.round("modularity", 6).alias("modularity")
    )


def q_four_cycles(spark, sf_dir):
    """Global 4-cycle (rectangle) count via the wedge-pair identity
    #C4 = Σ C(w(u,x),2)/2 (``operators/triangles.py:four_cycle_count``)
    — int64-exact, one wedge self-join + global sum."""
    from hoover_spark.operators.triangles import four_cycle_count

    g = Graph(_customer_edges(spark, sf_dir))
    return four_cycle_count(g)


def q_katz_3(spark, sf_dir):
    """Katz centrality, 3 bounded rounds (α=1/8, β=1) over the
    directed customer graph (``operators/centrality.py:katz``) —
    per-round 6 dp state rounding makes the unrolled twin hash-exact."""
    from hoover_spark.operators.centrality import katz

    g = Graph(_customer_edges(spark, sf_dir))
    return katz(g, n_iterations=3).select(
        F.col("vid").cast("long").alias("vid"), "katz"
    )


def q_wpagerank_2(spark, sf_dir):
    """Weighted PageRank, 2 bounded rounds, deterministic weights
    w = (src+dst)%5 + 1 — contributions ∝ weight over out-strength,
    dangling mass redistributed uniformly
    (``operators/centrality.py:weighted_pagerank``)."""
    from hoover_spark.operators.centrality import weighted_pagerank

    g = Graph(_customer_edges(spark, sf_dir))
    w = (F.col("src") + F.col("dst")) % 5 + 1
    return weighted_pagerank(g, w, n_iterations=2).select(
        F.col("vid").cast("long").alias("vid"), "rank"
    )


def q_degree_quantiles(spark, sf_dir):
    """Exact degree-distribution quantiles (Spark ``percentile`` vs
    DuckDB ``quantile_cont`` — identical linear interpolation, 6 dp
    rounding both sides; ``operators/graph.py:degree_quantiles``)."""
    from hoover_spark.operators.graph import degree_quantiles

    g = Graph(_customer_edges(spark, sf_dir))
    return degree_quantiles(g)


def q_louvain_move2(spark, sf_dir):
    """Louvain local-moving phase, 2 synchronous deterministic rounds
    (``operators/communities.py:louvain_move``): score = remove-then-
    insert modularity gain scaled by 2m² — int64-exact, ties to the
    smaller community label. The parallel round structure of
    distributed Louvain (Que et al. IPDPS'15)."""
    from hoover_spark.operators.communities import louvain_move

    g = Graph(_customer_edges(spark, sf_dir))
    return louvain_move(g, n_rounds=2).select(
        F.col("vid").cast("long").alias("vid"),
        F.col("label").cast("long").alias("community"),
    )


def q_louvain_2level(spark, sf_dir):
    """Multi-level Louvain (Blondel et al. 2008), 2 levels × 2
    synchronous weighted move rounds with community contraction between
    levels (``operators/communities.py:louvain_levels``) — int64-exact
    weighted scores, so the unrolled DuckDB twin is hash-exact."""
    from hoover_spark.operators.communities import louvain_levels

    g = Graph(_customer_edges(spark, sf_dir))
    return louvain_levels(g, n_levels=2, n_rounds=2).select(
        F.col("vid").cast("long").alias("vid"),
        F.col("community").cast("long").alias("community"),
    )


def q_harmonic_2hop(spark, sf_dir):
    """Bounded harmonic centrality hc = n1 + n2/2 over the customer
    graph (``operators/paths.py:harmonic_centrality_2hop``); exact
    int64 hop counts, one division."""
    from hoover_spark.operators.paths import harmonic_centrality_2hop

    g = Graph(_customer_edges(spark, sf_dir))
    return harmonic_centrality_2hop(g).select(
        "vid", "n1", "n2", F.round("hc", 6).alias("hc")
    )


def q_snapshot_diff(spark, sf_dir):
    """Temporal graph diff: the events-derived edge set in window A
    (event_id%4<2) vs window B (event_id%4>0) — added/removed/kept per
    edge via ONE full-outer join
    (``operators/paths.py:snapshot_diff``)."""
    from hoover_spark.operators.paths import snapshot_diff

    ev = _t(spark, sf_dir, "events")
    u = ev.select("user_id").distinct().count()

    def edges(cond):
        return (
            ev.where(cond)
            .select(
                F.col("user_id").alias("src"),
                F.pmod(F.col("event_id") * 7919 + 13, F.lit(u)).alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
        )

    return snapshot_diff(
        edges(F.col("event_id") % 4 < 2), edges(F.col("event_id") % 4 > 0)
    )


def _block_edges(spark, sf_dir):
    """Directed graph on customer keys with a rich SCC structure:
    vertices group into blocks of 100 (the last block partial); inside
    a block of size B, row r gets edges to (r+1)%B (ring — strong
    connectivity) and (2r+1)%B (doubling — small diameter); even
    blocks additionally send ONE-WAY edges x → x+100 from rows
    r%10==0. Every block is one SCC; the cross edges form a depth-1
    DAG between SCCs, so the coloring algorithm settles in exactly two
    outer rounds at any scale."""
    cust = _t(spark, sf_dir, "customer")
    n = cust.count()
    k = F.col("c_custkey")
    bs = k - (k % 100)
    bsz = F.least(F.lit(100), F.lit(n) - bs)
    r = k % 100
    e1 = cust.select(k.alias("src"), (bs + F.pmod(r + 1, bsz)).alias("dst"))
    e2 = cust.select(k.alias("src"), (bs + F.pmod(2 * r + 1, bsz)).alias("dst"))
    cross = cust.where(
        ((k - r) % 200 == 0) & (r % 10 == 0) & (k + 100 < n)
    ).select(k.alias("src"), (k + 100).alias("dst"))
    return (
        e1.unionByName(e2)
        .unionByName(cross)
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )


_BLOCK_EDGES_SQL = """
  cn AS (SELECT count(*) AS n FROM customer),
  base AS (
    SELECT c_custkey AS x, c_custkey % 100 AS r,
           c_custkey - (c_custkey % 100) AS bs,
           least(100, (SELECT n FROM cn) - (c_custkey - (c_custkey % 100))) AS bsz
    FROM customer
  ),
  e AS (
    SELECT DISTINCT src, dst FROM (
      SELECT x AS src, bs + ((r+1) % bsz) AS dst FROM base
      UNION
      SELECT x AS src, bs + ((2*r+1) % bsz) AS dst FROM base
      UNION
      SELECT x AS src, x + 100 AS dst FROM base
      WHERE (x - r) % 200 = 0 AND r % 10 = 0 AND x + 100 < (SELECT n FROM cn)
    ) WHERE src <> dst
  ),
  bv AS (SELECT src AS vid FROM e UNION SELECT dst AS vid FROM e)
"""


def q_scc(spark, sf_dir):
    """Strongly connected components via the coloring algorithm
    (``operators/scc.py:scc``) over the block graph — 15 SCCs of 100
    linked by a one-way DAG at sf0.01. Oracle: recursive-CTE
    transitive closure + mutual-reachability min (exact)."""
    from hoover_spark.operators.scc import scc

    g = Graph(_block_edges(spark, sf_dir))
    return scc(g).select("vid", "label")


def q_sssp_weighted(spark, sf_dir):
    """Multi-source weighted shortest paths (frontier Bellman–Ford,
    ``operators/paths.py:sssp``) over the directed customer graph with
    integer weights w = 1+(src+dst)%5 from the c_custkey%500==0 seed
    set; exact int64 distances vs a bounded recursive-CTE oracle (the
    bound 127 sits far above the measured max shortest distance, 43 at
    sf0.01, so no shortest path is pruned)."""
    from hoover_spark.operators.paths import sssp

    g = Graph(_customer_edges(spark, sf_dir))
    seeds = g.vertices().where(F.col("vid") % 500 == 0)
    w = F.lit(1) + F.pmod(F.col("src") + F.col("dst"), F.lit(5))
    return sssp(g, seeds, weight=w)


def q_mis(spark, sf_dir):
    """Luby's maximal independent set (``operators/mis.py:luby_mis``)
    over the symmetrized customer graph. The deterministic LCG
    priority is injective below 10^9+7, so the unrolled DuckDB oracle
    (:func:`_mis_sql`) can compare plain MIN(prio) where the kernel
    compares (prio, vid) structs — identical outcomes at any sf whose
    vids stay under the modulus."""
    from hoover_spark.operators.mis import luby_mis

    g = Graph(_customer_edges(spark, sf_dir))
    return luby_mis(g)


def q_matching(spark, sf_dir):
    """Luby-style maximal matching (``operators/matching.py``) over
    the canonical customer graph; the oracle replays the exact
    (prio, src, dst) tuple comparison, so collisions are handled
    identically on both engines (sf0.01 converges in 7 rounds; the
    oracle unrolls 16)."""
    from hoover_spark.operators.matching import luby_matching

    g = Graph(_customer_edges(spark, sf_dir))
    return luby_matching(g)


def q_coloring(spark, sf_dir):
    """Greedy parallel coloring by iterated local minima
    (``operators/mis.py:greedy_coloring``); color = winning round.
    sf0.01 colors in 10 rounds; the oracle unrolls 20 (rounds past
    the fixpoint are empty no-ops)."""
    from hoover_spark.operators.mis import greedy_coloring

    g = Graph(_customer_edges(spark, sf_dir))
    return greedy_coloring(g)


def q_edge_jaccard(spark, sf_dir):
    """Per-edge neighborhood Jaccard
    (``operators/triangles.py:edge_jaccard``): exact int64
    common/union counts, one double division rounded on both sides."""
    from hoover_spark.operators.triangles import edge_jaccard

    g = Graph(_customer_edges(spark, sf_dir))
    return edge_jaccard(g).select(
        "src", "dst", "common", "union_size",
        F.round("jaccard", 6).alias("jaccard"),
    )


def q_dedup_exact(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return exact_dedup(docs, "doc_id", "text").select(
        "id", "content_sha", "canonical_id", "is_duplicate"
    )


def q_minhash_signatures(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_signatures(docs, "doc_id", "text", n_hashes=N_HASHES, k=SHINGLE_K)


def q_minhash_lsh_pairs(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND,
        k=SHINGLE_K, max_bucket=LSH_MAX_BUCKET,
    )


def q_dedup_clusters(spark, sf_dir):
    """Near-dup clustering: LSH candidate pairs fed to the engine's own
    WCC kernel; cluster id = min doc id of the component, singletons
    keep their own id (dedup at corpus scale IS connected components)."""
    from hoover_spark.operators.dedup import dup_clusters

    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND,
        k=SHINGLE_K, max_bucket=LSH_MAX_BUCKET,
    )
    return dup_clusters(pairs, docs.select(F.col("doc_id").alias("id"))).select(
        "id", "cluster_id"
    )


def q_embedding_near_dup(spark, sf_dir):
    """Embedding-cosine near-dup pairs (hyperplane-LSH candidates +
    exact unit-vector rescore, threshold filter)."""
    from hoover_spark.operators.similarity import embedding_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dup_pairs(
        emb, threshold=0.2, n_planes=8, n_tables=4
    ).select("id_a", "id_b", F.round("cosine", 6).alias("cosine"))


def q_ngram_jaccard(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    pairs = minhash_lsh_pairs(
        docs, "doc_id", "text", n_hashes=N_HASHES, band_size=BAND,
        k=SHINGLE_K, max_bucket=LSH_MAX_BUCKET,
    )
    return ngram_jaccard(docs, pairs, "doc_id", "text", n=3).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def q_simhash(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return simhash(docs, "doc_id", "text", n_bits=16, k=SHINGLE_K)


def q_text_quality(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    qs = quality_score(quality_metrics(docs, "doc_id", "text"))
    return qs.select(
        "id",
        "n_chars",
        "n_tokens",
        F.round("avg_token_len", 6).alias("avg_token_len"),
        F.round("stopword_ratio", 6).alias("stopword_ratio"),
        F.round("uniq_ratio", 6).alias("uniq_ratio"),
        F.round("quality", 6).alias("quality"),
    )


def q_lang_id(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return lang_id(docs, "doc_id", "text")


def q_corpus_curate(spark, sf_dir):
    """Composite curation gate: quality score + language ID + near-dup
    clustering (LSH → the engine's own WCC) folded into one keep/drop
    decision table — the end-to-end training-data pipeline query."""
    from hoover_spark.operators.curation import curate_corpus

    docs = _t(spark, sf_dir, "documents")
    return curate_corpus(
        docs, "doc_id", "text", min_quality=0.65, keep_langs=("en",),
        n_hashes=N_HASHES, band_size=BAND, k=SHINGLE_K,
        max_bucket=LSH_MAX_BUCKET,
    )


def q_token_counts(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").alias("id"),
        token_count("text").cast("long").alias("n_tokens"),
        subword_count("text").cast("long").alias("n_subwords"),
    )


def q_winnow_fingerprints(spark, sf_dir):
    docs = _t(spark, sf_dir, "documents")
    return winnow_fingerprints(docs, "doc_id", "text", k=SHINGLE_K, window=4)


def q_embedding_norms(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x), F.lit(0.0), lambda a, b: a + b))
    return emb.select("vec_id", F.round(norm, 6).alias("norm"))


def q_cosine_topk(spark, sf_dir):
    emb = _t(spark, sf_dir, "embeddings")
    v = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    vecs = emb.select(F.col("vec_id"), v.alias("v"))
    queries = vecs.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), F.col("v").alias("q")
    )
    dot = lambda a, b: F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda a_, b_: a_ + b_)
    norm = lambda a: F.sqrt(dot(a, a))
    scored = (
        vecs.join(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            "vec_id",
            F.round(dot(F.col("q"), F.col("v")) / (norm(F.col("q")) * norm(F.col("v"))), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .where(F.col("rank") <= 5)
        .select("query_id", "vec_id", "cosine", "rank")
    )


def q_kmeans_assign(spark, sf_dir):
    """Deterministic Lloyd k-means over the embeddings table (init = k
    smallest ids; expanded-dot assignment score rounded 6 dp; 6 dp
    centroid rounding between rounds — see operators/clustering.py).
    Beyond-reference training-pipeline operator (build brief): the
    clustering that buckets SemDeDup's candidate generation."""
    from hoover_spark.operators.clustering import kmeans_assign

    emb = _t(spark, sf_dir, "embeddings")
    return kmeans_assign(emb, k=4, assign_rounds=2)


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup-style near-dup pairs (Abbas et al. 2023): pairwise
    cosine evaluated only WITHIN a k-means cluster — the candidate cap
    that replaces all-pairs at corpus scale."""
    from hoover_spark.operators.clustering import semantic_dedup_pairs

    emb = _t(spark, sf_dir, "embeddings")
    return semantic_dedup_pairs(emb, k=4, assign_rounds=2, tau=0.3)


def q_token_rarity(spark, sf_dir):
    """Two-pass unigram rarity signals (avg corpus frequency + rare-
    token fraction) — the transcendental-free perplexity-proxy quality
    filter (``functions/text.py:token_rarity``)."""
    from hoover_spark.functions.text import token_rarity

    docs = _t(spark, sf_dir, "documents")
    return token_rarity(docs, "doc_id", "text", rare_max_freq=2)


def q_cooccur_lift(spark, sf_dir):
    """Market-basket co-occurrence over lineitem order baskets with
    exact lift = n·c_ab/(c_a·c_b) (un-logged PMI, int64-exact until
    one division; ``operators/cooccur.py``)."""
    from hoover_spark.operators.cooccur import cooccurrence_lift

    li = _t(spark, sf_dir, "lineitem")
    return cooccurrence_lift(li, "l_orderkey", "l_partkey", min_pairs=2)


def q_event_hourly(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("hour", "ts").alias("hour"), F.col("event_type")
        )
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 4).alias("sum_value"))
        .select("hour", "event_type", "n", "sum_value")
    )


def q_midas_edge_freq(spark, sf_dir):
    """Streaming-frequency anomaly score (MIDAS-style recent/total
    divergence, reference ``test/midas.cpp:29-36``) as an exact
    windowed count — per (user_id, event_type) edge."""
    ev = _t(spark, sf_dir, "events")
    cutoff = F.lit("2024-01-24 00:00:00").cast("timestamp")
    return (
        ev.groupBy("user_id", "event_type")
        .agg(
            F.count(F.lit(1)).alias("total"),
            F.sum((F.col("ts") >= cutoff).cast("long")).alias("recent"),
        )
        .select(
            "user_id",
            "event_type",
            "total",
            "recent",
            F.round(F.col("recent") / F.col("total"), 6).alias("recent_ratio"),
        )
    )


def q_sessionize(spark, sf_dir):
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # ts is TIMESTAMP_NTZ; session tz is UTC, so ntz→ltz→epoch-seconds
    # matches DuckDB's epoch(naive ts) exactly.
    sec = F.col("ts").cast("timestamp").cast("long")
    gap = sec - F.lag(sec).over(w)
    brk = F.when(gap.isNull() | (gap > 1800), 1).otherwise(0)
    return (
        ev.select("user_id", brk.alias("brk"))
        .groupBy("user_id")
        .agg(F.sum("brk").cast("long").alias("n_sessions"), F.count(F.lit(1)).alias("n_events"))
    )


def _nation_clique_edges(spark, sf_dir):
    """Same-region nation pairs — each region is a clique."""
    nation = _t(spark, sf_dir, "nation")
    a = nation.select(F.col("n_nationkey").alias("src"), F.col("n_regionkey").alias("r"))
    b = nation.select(F.col("n_nationkey").alias("dst"), F.col("n_regionkey").alias("r"))
    return (
        a.join(b, on="r")
        .where(F.col("src") < F.col("dst"))
        .select(F.col("src").cast("long"), F.col("dst").cast("long"))
    )


def q_four_clique_count(spark, sf_dir):
    from hoover_spark.operators.communities import four_cliques

    g = Graph(_nation_clique_edges(spark, sf_dir), num_partitions=8)
    return four_cliques(g).agg(F.count(F.lit(1)).cast("long").alias("n_cliques"))


def q_clique_communities(spark, sf_dir):
    from hoover_spark.operators.communities import clique_percolation_communities

    g = Graph(_nation_clique_edges(spark, sf_dir), num_partitions=8)
    return clique_percolation_communities(g).select("vid", "community")


def q_cms_estimates(spark, sf_dir):
    from hoover_spark.operators.sketches import cms_build, cms_query

    ev = _t(spark, sf_dir, "events")
    sk = cms_build(ev, "user_id", depth=4, width=64, affine=True)
    keys = ev.select("user_id").distinct()
    return cms_query(sk, keys, "user_id", depth=4, width=64, affine=True)


def q_midas_scores(spark, sf_dir):
    from hoover_spark.operators.sketches import midas_scores

    ev = _t(spark, sf_dir, "events")
    res = midas_scores(ev, "user_id", "event_type", "ts", window="1 day", width=None)
    return res.select(
        "window_start", "user_id", "event_type", "a", "s", F.col("t").cast("long").alias("t"),
        F.round("score", 6).alias("score"),
    )


def q_spatial_join(spark, sf_dir):
    """Implicit-edge discovery (grid-pruned radius self-join) on
    deterministic 3-D points derived from customer keys. The DuckDB
    oracle brute-forces all pairs — an independent method, so this
    checks the pruning logic, not just the arithmetic."""
    from hoover_spark.operators.spatial import implicit_edges

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        k.alias("id"),
        (F.pmod(k * 37 + 11, F.lit(997)) / 997.0).alias("x"),
        (F.pmod(k * 53 + 29, F.lit(997)) / 997.0).alias("y"),
        (F.pmod(k * 71 + 41, F.lit(997)) / 997.0).alias("z"),
    )
    return implicit_edges(pts, "id", ["x", "y", "z"], 0.08).select(
        "id_a", "id_b", F.round("dist", 6).alias("dist")
    )


def q_gcn_aggregate(spark, sf_dir):
    """First component of the symmetric-normalized GCN aggregation
    Â·X over a modular graph on embedding ids (reference analogue:
    per-vertex A·X·W gather, ``test/gcn.cpp:63-70``)."""
    from hoover_spark.operators.gcn import aggregate_features

    emb = _t(spark, sf_dir, "embeddings")
    n = emb.count()
    k = F.col("vec_id")
    e = (
        emb.select(k.alias("src"), F.pmod(k * 31 + 17, F.lit(n)).alias("dst"))
        .unionByName(emb.select(k.alias("src"), F.pmod(k * 57 + 23, F.lit(n)).alias("dst")))
        .where(F.col("src") != F.col("dst"))
        .distinct()
    )
    g = Graph(e, num_partitions=16)
    feats = emb.select(
        F.col("vec_id").alias("vid"),
        F.transform("embedding", lambda x: x.cast("double")).alias("h"),
    )
    agg = aggregate_features(g, feats)
    return agg.select("vid", F.round(F.element_at("h", 1), 6).alias("h0"))


# -- formerly rows-only entries, now fully oracle-checked -------------------

#: the repos_wcc query materializes its derived edge table here so the
#: DuckDB oracle can recompute WCC over the *identical* bytes (the
#: generator itself uses xxhash64 vids, which SQL cannot recompute).
REPOS_EDGES_PATH = "/tmp/hoover_spark_oracle/repos_edges"
REPOS_TABLE_PATH = "/tmp/hoover_spark_oracle/repos_table"


def q_repos_wcc(spark, sf_dir):
    """Flagship integration: synthesize the repos source table, verify
    the per-row sha256 invariant, extract the reference graph, run WCC.
    The derived edge table is written to parquet and re-read, so the
    DuckDB twin runs recursive-CTE reachability over the same file.

    The repos table itself is materialized before verification — the
    north rule checks content sha256 of the table *as read*, and fusing
    generation + recompute into one codegen span overflows janino's
    64 KB method limit (interpreted fallback; correct but slow)."""
    from hoover_spark.sources.repos import ref_edges, repos_table, verify_content_sha256

    n_rows = 2000
    repos_table(spark, n_rows).write.mode("overwrite").parquet(REPOS_TABLE_PATH)
    repos = spark.read.parquet(REPOS_TABLE_PATH)
    assert verify_content_sha256(repos, n_rows).limit(1).count() == 0
    ref_edges(repos).write.mode("overwrite").parquet(REPOS_EDGES_PATH)
    g = Graph(spark.read.parquet(REPOS_EDGES_PATH), num_partitions=16)
    return wcc(g).select("vid", "label")


def q_lsh_ann_topk(spark, sf_dir):
    from hoover_spark.operators.similarity import lsh_ann_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    return lsh_ann_topk(emb, queries, k=5).select(
        "query_id", "vec_id", F.round("cosine", 6).alias("cosine"), F.col("rank").cast("long").alias("rank")
    )


def q_ivf_topk(spark, sf_dir):
    """IVF ANN (probe-then-rescore): centroid rank uses portable LCG
    arithmetic so the DuckDB twin recomputes the identical centroid
    choice, assignment, probes, and rescored top-k."""
    from hoover_spark.operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    rank = F.pmod(
        F.pmod(F.col("vec_id") * F.lit(1103515245) + F.lit(12345), F.lit(2147483647)),
        F.lit(997),
    )
    return ivf_topk(
        emb, queries, k=5, n_lists=16, n_probe=4, centroid_rank=rank
    ).select(
        "query_id",
        "vec_id",
        F.round("cosine", 6).alias("cosine"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_multimodal_features(spark, sf_dir):
    from hoover_spark.operators.multimodal import extract_features, synthetic_media

    media = synthetic_media(spark, 200)
    return extract_features(media, fake=True).select(
        "asset_id", "kind", "payload_bytes", F.element_at("feature", 1).cast("double").alias("f0")
    )


def _gbad_counts(spark, sf_dir):
    """GBAD pattern frequencies over the deterministic customer-key
    radius graph (same point derivation as ``spatial_join``)."""
    from hoover_spark.operators.gbad import pattern_counts
    from hoover_spark.operators.spatial import implicit_edges

    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    pts = cust.select(
        k.alias("id"),
        (F.pmod(k * 37 + 11, F.lit(997)) / 997.0).alias("x"),
        (F.pmod(k * 53 + 29, F.lit(997)) / 997.0).alias("y"),
        (F.pmod(k * 71 + 41, F.lit(997)) / 997.0).alias("z"),
    )
    # radius 0.12 (vs spatial_join's 0.08) so the graph holds real
    # structure: ~4.8k edges / 3.4k triangles at sf0.01 -> 6 distinct
    # patterns instead of 2
    pairs = implicit_edges(pts, "id", ["x", "y", "z"], 0.12).select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst")
    )
    sym = pairs.unionByName(
        pairs.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    )
    verts = pts.select(F.col("id").alias("vid"))
    # the DuckDB oracle enumerates uncapped; this geometric graph is
    # degree-bounded (max 9 at sf0.01, 77 at sf0.1) so opting out of
    # the library's default-on degree cap keeps both sides identical
    return pattern_counts(sym, verts, max_degree=None)


def q_gbad_patterns(spark, sf_dir):
    """Normative subgraph patterns: top-6 by count x n_edges (GBAD
    frequent-pattern stage, reference test/intrusion_detection.cpp
    :349, :408-410, :617-665)."""
    from hoover_spark.operators.gbad import frequent_patterns

    freq = frequent_patterns(_gbad_counts(spark, sf_dir), top_k=3)
    return freq.select(
        F.col("matrix").cast("long").alias("pattern"),
        F.col("count").cast("long").alias("count"),
        F.col("n_edges").cast("long").alias("n_edges"),
        F.col("score").cast("long").alias("score"),
        F.col("rank").cast("long").alias("rank"),
    )


def q_gbad_anomalies(spark, sf_dir):
    """GBAD anomalies: patterns within 1 matrix-bit of a normative
    pattern but not normative themselves (reference :795-874)."""
    from hoover_spark.operators.gbad import anomalies, frequent_patterns

    counts = _gbad_counts(spark, sf_dir)
    freq = frequent_patterns(counts, top_k=3)
    # matrices are symmetric, so XOR distance is always even and the
    # reference's MAX_DISTANCE_FOR_ANOMALY=1 can never fire; 2 = one
    # undirected edge of difference, the evident intent
    return anomalies(counts, freq, max_distance=2).select(
        F.col("matrix").cast("long").alias("pattern"),
        F.col("count").cast("long").alias("count"),
        F.col("nearest_frequent").cast("long").alias("nearest_frequent"),
        F.col("dist").cast("long").alias("dist"),
    )


SIR_STEPS = 6
SIR_RADIUS = 0.05


def _sir_actors(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        k.alias("actor_id"),
        (F.pmod(k * 37 + 11, F.lit(997)) / 997.0).alias("x0"),
        (F.pmod(k * 53 + 29, F.lit(997)) / 997.0).alias("y0"),
        (F.pmod(k * 61 + 7, F.lit(997)) / 997.0).alias("dst_x"),
        (F.pmod(k * 17 + 3, F.lit(997)) / 997.0).alias("dst_y"),
        (F.pmod(k, F.lit(97)) == 0).alias("infected0"),
    )


def q_sir_trace(spark, sf_dir):
    """Infection propagation over the time-unrolled layered graph
    (reference test/infectious_test.c — its only benchmarked workload):
    full (actor, t) infection trace, bit-deterministic trajectories."""
    from hoover_spark.operators.sir import sir_layers, sir_propagate

    layers = sir_layers(_sir_actors(spark, sf_dir), SIR_STEPS)
    trace = sir_propagate(layers, SIR_RADIUS, SIR_STEPS)
    return trace.select(
        F.col("actor_id").cast("long").alias("actor_id"),
        F.col("t").cast("long").alias("t"),
        "infected",
    )


def _sir_sql() -> str:
    """Unrolled DuckDB twin: the same trajectory arithmetic (IEEE ops
    in the same order -> identical bits) + per-layer infection joins."""
    ctes = ["""
s0 AS (
  SELECT c_custkey AS actor_id,
         ((c_custkey*37+11) % 997) / 997.0 AS x,
         ((c_custkey*53+29) % 997) / 997.0 AS y,
         ((c_custkey*37+11) % 997) / 997.0 AS ppx,
         ((c_custkey*53+29) % 997) / 997.0 AS ppy,
         ((c_custkey*61+7) % 997) / 997.0 AS dst_x,
         ((c_custkey*17+3) % 997) / 997.0 AS dst_y,
         c_custkey % 97 = 0 AS infected0
  FROM customer
)"""]
    for t in range(1, SIR_STEPS):
        ctes.append(f"""
s{t} AS (
  SELECT actor_id, dst_x, dst_y, infected0,
         x AS ppx, y AS ppy,
         CASE WHEN px + wx >= 1.0 THEN px + wx - 1.0
              WHEN px + wx < 0.0 THEN px + wx + 1.0
              ELSE px + wx END AS x,
         CASE WHEN py + wy >= 1.0 THEN py + wy - 1.0
              WHEN py + wy < 0.0 THEN py + wy + 1.0
              ELSE py + wy END AS y
  FROM (
    SELECT actor_id, dst_x, dst_y, infected0, x, y,
           (abs(x - dst_x) < 1e-9 OR abs(y - dst_y) < 1e-9) AS snap,
           CASE WHEN snap THEN dst_x ELSE x END AS px,
           CASE WHEN snap THEN dst_y ELSE y END AS py,
           dst_x - px AS vx,
           dst_y - py AS vy,
           5.0 * sqrt(vx*vx + vy*vy) AS mag,
           CASE WHEN mag = 0 THEN 0.0 ELSE vx / mag END AS nvx,
           CASE WHEN mag = 0 THEN 0.0 ELSE vy / mag END AS nvy,
           CASE WHEN abs(vx) > abs(nvx) THEN nvx ELSE vx END AS wx,
           CASE WHEN abs(vy) > abs(nvy) THEN nvy ELSE vy END AS wy
    FROM s{t-1})
)""")
    r2 = f"{SIR_RADIUS}*{SIR_RADIUS}"
    ctes.append("i0 AS (SELECT actor_id, infected0 AS infected FROM s0)")
    for t in range(1, SIR_STEPS):
        ctes.append(f"""
h{t} AS (
  SELECT DISTINCT c.actor_id
  FROM s{t} c, s{t-1} p JOIN i{t-1} ip ON p.actor_id = ip.actor_id
  WHERE ip.infected
    AND (c.ppx - p.ppx)*(c.ppx - p.ppx) + (c.ppy - p.ppy)*(c.ppy - p.ppy) <= {r2}
)""")
        ctes.append(f"""
i{t} AS (
  SELECT c.actor_id, (ip.infected OR h.actor_id IS NOT NULL) AS infected
  FROM s{t} c
  JOIN i{t-1} ip USING (actor_id)
  LEFT JOIN h{t} h USING (actor_id)
)""")
    selects = " UNION ALL ".join(
        f"SELECT CAST(actor_id AS BIGINT) AS actor_id, CAST({t} AS BIGINT) AS t, infected FROM i{t}"
        for t in range(SIR_STEPS)
    )
    return "WITH " + ",".join(ctes) + " " + selects


# ---------------------------------------------------------------------------
# pas: patch/agent SEIR over two coupled logical graphs (test/pas.cpp)
# ---------------------------------------------------------------------------

PAS_STEPS = 5
PAS_GRID = 8
PAS_SUBSTEPS = 2


def _pas_agents0(spark, sf_dir):
    cust = _t(spark, sf_dir, "customer")
    k = F.col("c_custkey")
    return cust.select(
        k.alias("agent_id"),
        F.pmod(k * 13 + 5, F.lit(PAS_GRID * PAS_GRID)).alias("home_patch"),
        F.pmod(k, F.lit(4)).alias("act"),
        # ~2% initially infectious (pas.cpp:44, :247-249)
        F.when(F.pmod(k, F.lit(50)) == 0, F.lit(2.0)).otherwise(F.lit(0.0)).alias("health"),
    )


_PAS_AGENTS0_SQL = (
    f"SELECT c_custkey AS agent_id, (c_custkey*13+5) % {PAS_GRID * PAS_GRID} AS home_patch, "
    "c_custkey % 4 AS act, "
    "CASE WHEN c_custkey % 50 = 0 THEN 2.0E0 ELSE 0.0E0 END AS health "
    "FROM customer"
)


# The two pas contract queries share one trace: the simulation's
# per-timestep states are localCheckpointed, so the (agents, patches)
# DataFrames stay valid for the whole session — run the 5-step
# two-graph simulation ONCE per (session, sf_dir) instead of once per
# gate query (r3 VERDICT #5: gate-wall hygiene).
_PAS_TRACE_CACHE: dict = {}


def _pas_trace(spark, sf_dir):
    key = (spark.sparkContext.applicationId, sf_dir)
    hit = _PAS_TRACE_CACHE.get(key)
    if hit is None:
        from hoover_spark.operators.pas import pas_simulate

        # one live trace at a time (bounded memory): evict BEFORE the
        # new simulation runs. Honest limit (r5 review): Dataset
        # .unpersist() cannot reach RDD-level localCheckpoint blocks,
        # so the calls below are best-effort (they clear CacheManager
        # entries only); the blocks themselves are reclaimed by
        # ContextCleaner once clear() drops the last Python refs. The
        # cache is capped at ONE entry, so the transient worst case is
        # two traces coexisting until the next GC cycle — bounded, and
        # the eviction-before-run ordering keeps that window shortest.
        for _, _, old_ckpts in _PAS_TRACE_CACHE.values():
            for part in old_ckpts:
                try:
                    part.unpersist()
                except Exception:
                    pass  # evicting a dead session's trace must not fail the new one
        _PAS_TRACE_CACHE.clear()
        ckpts: list = []
        a, p = pas_simulate(
            _pas_agents0(spark, sf_dir), PAS_STEPS, PAS_GRID, PAS_SUBSTEPS,
            spark=spark, checkpoints_out=ckpts,
        )
        hit = (a, p, ckpts)
        _PAS_TRACE_CACHE[key] = hit
    return hit[0], hit[1]


def q_pas_agents(spark, sf_dir):
    """AGENT_GRAPH trace of the coupled patch/agent SEIR model
    (reference test/pas.cpp — the only multi-graph application):
    per-(agent, t) health / patch / activity / stay."""
    a, _ = _pas_trace(spark, sf_dir)
    return a.select(
        F.col("agent_id").cast("long").alias("agent_id"),
        F.col("t").cast("long").alias("t"),
        F.col("patch").cast("long").alias("patch"),
        F.col("act").cast("long").alias("act"),
        F.round("stay", 6).alias("stay"),
        F.round("health", 6).alias("health"),
    )


def q_pas_patches(spark, sf_dir):
    """PATCH_GRAPH trace: the per-patch mosquito-population ODE
    (RK4, reference update_patch pas.cpp:452-491) driven by the agent
    census — the cross-graph coupling direction agents→patches."""
    _, p = _pas_trace(spark, sf_dir)
    return p.select(
        F.col("patch_id").cast("long").alias("patch_id"),
        F.col("t").cast("long").alias("t"),
        F.round("sv", 6).alias("sv"),
        F.round("ev", 6).alias("ev"),
        F.round("iv", 6).alias("iv"),
        F.round("nv", 6).alias("nv"),
        F.round("lh", 6).alias("lh"),
    )


def _pas_sql(output: str) -> str:
    from hoover_spark.operators.pas import duckdb_oracle_sql

    inner = duckdb_oracle_sql(
        _PAS_AGENTS0_SQL, PAS_STEPS, PAS_GRID, PAS_SUBSTEPS, output=output
    )
    if output == "agents":
        return (
            "SELECT CAST(agent_id AS BIGINT) AS agent_id, CAST(t AS BIGINT) AS t, "
            "CAST(patch AS BIGINT) AS patch, CAST(act AS BIGINT) AS act, "
            "round(stay, 6) AS stay, round(health, 6) AS health "
            f"FROM ({inner})"
        )
    return (
        "SELECT CAST(patch_id AS BIGINT) AS patch_id, CAST(t AS BIGINT) AS t, "
        "round(sv, 6) AS sv, round(ev, 6) AS ev, round(iv, 6) AS iv, "
        "round(nv, 6) AS nv, round(lh, 6) AS lh "
        f"FROM ({inner})"
    )


# ---------------------------------------------------------------------------
# nbody: time-unrolled n-body with velocity (test/simple_nbody_test.c)
# ---------------------------------------------------------------------------

NBODY_STEPS = 8


def _nbody_particles0(spark, sf_dir):
    sup = _t(spark, sf_dir, "supplier")
    k = F.col("s_suppkey")
    return sup.select(
        k.alias("pid"),
        (F.pmod(k * 37 + 11, F.lit(9973)) / F.lit(9973.0) * F.lit(100.0)).alias("x"),
        (F.pmod(k * 53 + 29, F.lit(9973)) / F.lit(9973.0) * F.lit(100.0)).alias("y"),
    )


_NBODY_P0_SQL = (
    "SELECT s_suppkey AS pid, "
    "((s_suppkey*37+11) % 9973) / 9973.0E0 * 100.0E0 AS x, "
    "((s_suppkey*53+29) % 9973) / 9973.0E0 * 100.0E0 AS y "
    "FROM supplier"
)


def q_nbody_trace(spark, sf_dir):
    """Time-unrolled n-body trajectory trace (reference
    test/simple_nbody_test.c): per-(particle, t) position + velocity,
    forces summed in deterministic neighbor-id order."""
    from hoover_spark.operators.nbody import nbody_simulate

    tr = nbody_simulate(_nbody_particles0(spark, sf_dir), NBODY_STEPS, spark=spark)
    # `+ 0.0` normalizes IEEE negative zero: DuckDB's round(-1e-9, 6)
    # yields -0.0 while Spark's BigDecimal rounding yields +0.0 — the
    # typed hash would differ on a value equality
    return tr.select(
        F.col("pid").cast("long").alias("pid"),
        F.col("t").cast("long").alias("t"),
        (F.round("x", 6) + F.lit(0.0)).alias("x"),
        (F.round("y", 6) + F.lit(0.0)).alias("y"),
        (F.round("vx", 6) + F.lit(0.0)).alias("vx"),
        (F.round("vy", 6) + F.lit(0.0)).alias("vy"),
    )


def _nbody_sql() -> str:
    from hoover_spark.operators.nbody import duckdb_oracle_sql

    inner = duckdb_oracle_sql(_NBODY_P0_SQL, NBODY_STEPS)
    # + 0.0E0: negative-zero normalization (see q_nbody_trace)
    return (
        "SELECT CAST(pid AS BIGINT) AS pid, CAST(t AS BIGINT) AS t, "
        "round(x, 6) + 0.0E0 AS x, round(y, 6) + 0.0E0 AS y, "
        "round(vx, 6) + 0.0E0 AS vx, round(vy, 6) + 0.0E0 AS vy "
        f"FROM ({inner})"
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001: the full engine slice —
    WCC component labels of the customer-key graph (edge derivation →
    symmetrize → hash-min with pointer jumping → converged labels)."""
    return q_wcc_components(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return {
        "edge_derivation": q_edge_derivation,
        "graph_degrees": q_graph_degrees,
        "wcc_components": q_wcc_components,
        "wcc_two_phase": q_wcc_two_phase,
        "wcc_sizes": q_wcc_sizes,
        "pagerank_3iter": q_pagerank_3iter,
        "minlabel_2iter": q_minlabel_2iter,
        "hits_2iter": q_hits_2iter,
        "kcore_3": q_kcore_3,
        "ppr_3iter": q_ppr_3iter,
        "ktruss_4": q_ktruss_4,
        "tfidf_top3": q_tfidf_top3,
        "mode_lp_1iter": q_mode_lp_1iter,
        "triangle_total": q_triangle_total,
        "triangles_per_vertex": q_triangles_per_vertex,
        "vertex_metrics": q_vertex_metrics,
        "clustering_coeff": q_clustering_coeff,
        "assortativity": q_assortativity,
        "bfs_hops_3": q_bfs_hops_3,
        "link_predict_ra": q_link_predict_ra,
        "reciprocity": q_reciprocity,
        "degree_histogram": q_degree_histogram,
        "dup_ngram_fraction": q_dup_ngram_fraction,
        "pii_scrub": q_pii_scrub,
        "segment_repetition": q_segment_repetition,
        "decontaminate": q_decontaminate,
        "random_walks_3": q_random_walks_3,
        "anf_2": q_anf_2,
        "modularity_mod5": q_modularity_mod5,
        "louvain_move2": q_louvain_move2,
        "degree_quantiles": q_degree_quantiles,
        "louvain_2level": q_louvain_2level,
        "katz_3": q_katz_3,
        "wpagerank_2": q_wpagerank_2,
        "four_cycles": q_four_cycles,
        "harmonic_2hop": q_harmonic_2hop,
        "snapshot_diff": q_snapshot_diff,
        "scc_labels": q_scc,
        "sssp_weighted": q_sssp_weighted,
        "mis_luby": q_mis,
        "matching_luby": q_matching,
        "coloring_greedy": q_coloring,
        "edge_jaccard": q_edge_jaccard,
        "dedup_exact": q_dedup_exact,
        "minhash_signatures": q_minhash_signatures,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "dedup_clusters": q_dedup_clusters,
        "embedding_near_dup": q_embedding_near_dup,
        "ngram_jaccard": q_ngram_jaccard,
        "simhash": q_simhash,
        "text_quality": q_text_quality,
        "lang_id": q_lang_id,
        "corpus_curate": q_corpus_curate,
        "token_counts": q_token_counts,
        "winnow_fingerprints": q_winnow_fingerprints,
        "embedding_norms": q_embedding_norms,
        "cosine_topk": q_cosine_topk,
        "kmeans_assign": q_kmeans_assign,
        "semantic_dedup": q_semantic_dedup,
        "token_rarity": q_token_rarity,
        "cooccur_lift": q_cooccur_lift,
        "event_hourly": q_event_hourly,
        "midas_edge_freq": q_midas_edge_freq,
        "sessionize": q_sessionize,
        "four_clique_count": q_four_clique_count,
        "clique_communities": q_clique_communities,
        "cms_estimates": q_cms_estimates,
        "midas_scores": q_midas_scores,
        "gcn_aggregate": q_gcn_aggregate,
        "spatial_join": q_spatial_join,
        "repos_wcc": q_repos_wcc,
        "lsh_ann_topk": q_lsh_ann_topk,
        "ivf_topk": q_ivf_topk,
        "multimodal_features": q_multimodal_features,
        "gbad_patterns": q_gbad_patterns,
        "gbad_anomalies": q_gbad_anomalies,
        "sir_trace": q_sir_trace,
        "pas_agents": q_pas_agents,
        "pas_patches": q_pas_patches,
        "nbody_trace": q_nbody_trace,
    }


# ---------------------------------------------------------------------------
# DuckDB oracle SQL
# ---------------------------------------------------------------------------

def _shingle_sql(table: str = "documents", id_col: str = "doc_id", text_col: str = "text", k: int = SHINGLE_K) -> str:
    # the 31^j multiplier must be a BIGINT literal: at k ≥ 6 the int32
    # product (255 * 31^5) overflows DuckDB's default INT32 arithmetic
    terms = " + ".join(
        f"(ascii(substr({text_col}, p + {j}, 1)) % 256) * CAST({31 ** j} AS BIGINT)"
        for j in range(k)
    )
    return (
        f"sh AS (SELECT {id_col} AS id, p AS pos, CAST({terms} AS BIGINT) AS code "
        f"FROM {table}, UNNEST(range(1, length({text_col}) - {k} + 2)) AS _u(p) "
        f"WHERE length({text_col}) >= {k})"
    )


def _minhash_sig_core_sql() -> str:
    """SELECT over the ``sh`` CTE producing the signature columns."""
    mins = ", ".join(
        f"min(({a}*code + {b}) % {HASH_P}) AS h{i}"
        for i, (a, b) in enumerate(minhash_coeffs(N_HASHES))
    )
    return f"SELECT id, {mins} FROM sh GROUP BY id"


def _minhash_sig_sql() -> str:
    return f"WITH {_shingle_sql()} {_minhash_sig_core_sql()}"


def _band_selects_sql() -> str:
    return " UNION ALL ".join(
        "SELECT id, {bnd} AS band, {key} AS key FROM sig".format(
            bnd=bnd,
            key=" || ':' || ".join(
                f"CAST(h{bnd * BAND + j} AS VARCHAR)" for j in range(BAND)
            ),
        )
        for bnd in range(N_HASHES // BAND)
    )


def _lsh_candidates_ctes() -> str:
    """CTE chain sh → sig → bands → sizes → ok → pairs."""
    return f"""{_shingle_sql()},
sig AS ({_minhash_sig_core_sql()}),
bands AS ({_band_selects_sql()}),
sizes AS (SELECT band, key, count(*) AS n FROM bands GROUP BY 1, 2),
ok AS (SELECT b.id, b.band, b.key FROM bands b JOIN sizes USING (band, key) WHERE n <= {LSH_MAX_BUCKET}),
pairs AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
          FROM ok a JOIN ok b ON a.band = b.band AND a.key = b.key AND a.id < b.id)"""


def _lsh_pairs_sql() -> str:
    return f"WITH {_lsh_candidates_ctes()} SELECT id_a, id_b FROM pairs"


def _pagerank_sql(alpha: float = 0.85) -> str:
    iters = []
    prev = "r0"
    for i in (1, 2, 3):
        iters.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {prev} LEFT JOIN deg USING (vid) WHERE od IS NULL),
c{i} AS (SELECT e0.dst AS vid, sum({prev}.rank / deg.od) AS s
         FROM e0 JOIN {prev} ON e0.src = {prev}.vid JOIN deg ON e0.src = deg.vid GROUP BY 1),
r{i} AS (SELECT v.vid,
         (1 - {alpha}) / (SELECT n FROM nn) +
         {alpha} * (coalesce(c{i}.s, 0) + (SELECT dm FROM d{i}) / (SELECT n FROM nn)) AS rank
         FROM v LEFT JOIN c{i} ON v.vid = c{i}.vid)""")
        prev = f"r{i}"
    return f"""
WITH {_ORDER_PART_EDGES_SQL},
nn AS (SELECT count(*) AS n FROM v),
deg AS (SELECT src AS vid, count(*) AS od FROM e0 GROUP BY 1),
r0 AS (SELECT vid, 1.0 / (SELECT n FROM nn) AS rank FROM v),
{','.join(iters)}
SELECT vid, round(rank, 6) AS rank FROM r3
"""


def _hits_sql(n_iterations: int = 2) -> str:
    """Unrolled Kleinberg HITS on the order→part graph (same fixed
    iteration count as :func:`q_hits_2iter`; L2 norm each half-step)."""
    ctes = ["h0 AS (SELECT vid, 1.0 AS hub FROM v)"]
    prev_h = "h0"
    for i in range(1, n_iterations + 1):
        ctes.append(f"""
a{i}s AS (SELECT e0.dst AS vid, sum({prev_h}.hub) AS s
          FROM e0 JOIN {prev_h} ON e0.src = {prev_h}.vid GROUP BY 1),
a{i}f AS (SELECT v.vid, coalesce(a{i}s.s, 0) AS auth FROM v LEFT JOIN a{i}s ON v.vid = a{i}s.vid),
a{i}n AS (SELECT sqrt(sum(auth * auth)) AS nrm FROM a{i}f),
a{i} AS (SELECT vid, CASE WHEN (SELECT nrm FROM a{i}n) > 0
                          THEN auth / (SELECT nrm FROM a{i}n) ELSE 0.0 END AS auth FROM a{i}f),
h{i}s AS (SELECT e0.src AS vid, sum(a{i}.auth) AS s
          FROM e0 JOIN a{i} ON e0.dst = a{i}.vid GROUP BY 1),
h{i}f AS (SELECT v.vid, coalesce(h{i}s.s, 0) AS hub FROM v LEFT JOIN h{i}s ON v.vid = h{i}s.vid),
h{i}n AS (SELECT sqrt(sum(hub * hub)) AS nrm FROM h{i}f),
h{i} AS (SELECT vid, CASE WHEN (SELECT nrm FROM h{i}n) > 0
                          THEN hub / (SELECT nrm FROM h{i}n) ELSE 0.0 END AS hub FROM h{i}f)""")
        prev_h = f"h{i}"
    k = n_iterations
    return f"""
WITH {_ORDER_PART_EDGES_SQL},
{','.join(ctes)}
SELECT h{k}.vid, round(h{k}.hub, 6) AS hub, round(a{k}.auth, 6) AS auth
FROM h{k} JOIN a{k} ON h{k}.vid = a{k}.vid
"""


def _kcore_sql(k: int = 3, rounds: int = 16) -> str:
    """Unrolled k-core peeling on the customer graph. Peeling is
    monotone, so unrolling past the fixpoint is a no-op: sf0.01
    converges in 3 rounds, ``rounds=16`` leaves >5x margin. (Peel
    depth is structure-dependent — a chain periphery peels one layer
    per round — so the margin is the guard against a larger sf
    needing more rounds than the oracle unrolls while the Spark
    kernel, which iterates to its own fixpoint, keeps going; r5
    review.)

    Each ``a{{r}}`` is referenced twice by round r+1; DuckDB inlines
    CTEs by default, so without MATERIALIZED the plan re-evaluates the
    whole chain 2^rounds times (measured: >5 min at sf0.01)."""
    ctes = ["a0 AS MATERIALIZED (SELECT vid FROM v)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""
d{r} AS (SELECT s.src AS vid, count(*) AS cd
         FROM sym s JOIN a{r - 1} x ON s.src = x.vid
                    JOIN a{r - 1} y ON s.dst = y.vid GROUP BY 1),
a{r} AS MATERIALIZED (SELECT vid, cd FROM d{r} WHERE cd >= {k})""")
    return f"""
WITH {_CUSTOMER_EDGES_SQL},
{','.join(ctes)}
SELECT vid, cd AS core_degree FROM a{rounds}
"""


def _ppr_sql(alpha: float = 0.85, n_iterations: int = 3) -> str:
    """Unrolled personalized PageRank on the order→part graph; seeds
    and dangling redistribution both use the restart vector ``p``
    (same fixed iteration count as :func:`q_ppr_3iter`)."""
    iters = []
    prev = "r0"
    for i in range(1, n_iterations + 1):
        iters.append(f"""
d{i} AS (SELECT coalesce(sum(rank), 0) AS dm FROM {prev} LEFT JOIN deg USING (vid) WHERE od IS NULL),
c{i} AS (SELECT e0.dst AS vid, sum({prev}.rank / deg.od) AS s
         FROM e0 JOIN {prev} ON e0.src = {prev}.vid JOIN deg ON e0.src = deg.vid GROUP BY 1),
r{i} AS (SELECT pv.vid,
         (1 - {alpha}) * pv.p +
         {alpha} * (coalesce(c{i}.s, 0) + (SELECT dm FROM d{i}) * pv.p) AS rank
         FROM pv LEFT JOIN c{i} ON pv.vid = c{i}.vid)""")
        prev = f"r{i}"
    return f"""
WITH {_ORDER_PART_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS od FROM e0 GROUP BY 1),
seeds AS (SELECT vid FROM v WHERE vid % 97 = 0 AND vid < 1000000),
sn AS (SELECT count(*) AS m FROM seeds),
pv AS (SELECT v.vid, CASE WHEN s.vid IS NOT NULL THEN 1.0 / (SELECT m FROM sn) ELSE 0.0 END AS p
       FROM v LEFT JOIN seeds s ON v.vid = s.vid),
r0 AS (SELECT vid, p AS rank FROM pv),
{','.join(iters)}
SELECT vid, round(rank, 6) AS rank FROM r{n_iterations}
"""


def _ktruss_sql(k: int = 4, rounds: int = 8) -> str:
    """Unrolled k-truss peeling on the circulant graph: each round
    recomputes per-edge triangle support within the alive set and
    drops edges under k-2. Monotone, so over-unrolling is a no-op
    (the circulant fixpoint lands in round 2; 8 leaves 4x margin —
    peel depth is structure-dependent, see :func:`_kcore_sql`).
    MATERIALIZED for the same 2^rounds re-inlining reason as
    :func:`_kcore_sql`."""
    ctes = ["a0 AS MATERIALIZED (SELECT src, dst FROM canon)"]
    for r in range(1, rounds + 1):
        ctes.append(f"""
s{r} AS (SELECT src, dst FROM a{r - 1} UNION ALL SELECT dst, src FROM a{r - 1}),
sup{r} AS (SELECT e.src, e.dst, count(*) AS sup
           FROM a{r - 1} e JOIN s{r} x ON x.src = e.src
                           JOIN s{r} y ON y.src = e.dst AND y.dst = x.dst
           GROUP BY 1, 2),
a{r} AS MATERIALIZED (SELECT src, dst, sup FROM sup{r} WHERE sup >= {k - 2})""")
    return f"""
WITH {_CIRCULANT_EDGES_SQL},
{','.join(ctes)}
SELECT src, dst, sup AS support FROM a{rounds}
"""


def _mis_sql(rounds: int = 12) -> str:
    """Unrolled Luby MIS on the customer graph. Each round: winners =
    active vertices whose LCG priority is strictly below every active
    neighbor's MIN priority (injective prio ⇒ identical to the
    kernel's (prio, vid) struct-min, see :func:`q_mis`); winners and
    their active neighbors leave. Rounds past the fixpoint are empty
    selects — no-ops — so over-unrolling is safe (sf0.01 converges in
    4 rounds; 12 leaves 3x margin). MATERIALIZED for the same
    2^rounds re-inlining reason as :func:`_kcore_sql`."""
    ctes = [
        "a0 AS MATERIALIZED (SELECT vid, (vid*40503 + 12345) % 1000000007"
        " AS prio FROM v)"
    ]
    finals = []
    for r in range(1, rounds + 1):
        ctes.append(f"""
n{r} AS (SELECT s.src AS vid, min(y.prio) AS mp
         FROM sym s JOIN a{r - 1} x ON s.src = x.vid
                    JOIN a{r - 1} y ON s.dst = y.vid GROUP BY 1),
w{r} AS MATERIALIZED (SELECT a.vid FROM a{r - 1} a LEFT JOIN n{r} ON a.vid = n{r}.vid
        WHERE n{r}.mp IS NULL OR a.prio < n{r}.mp),
r{r} AS (SELECT DISTINCT s.src AS vid FROM sym s JOIN w{r} ON s.dst = w{r}.vid),
a{r} AS MATERIALIZED (SELECT vid, prio FROM a{r - 1}
        WHERE vid NOT IN (SELECT vid FROM w{r})
          AND vid NOT IN (SELECT vid FROM r{r}))""")
        finals.append(
            f"SELECT vid, CAST({r} AS BIGINT) AS mis_round FROM w{r}"
        )
    return f"""
WITH {_CUSTOMER_EDGES_SQL},
{','.join(ctes)}
{' UNION ALL '.join(finals)}
"""


def _matching_sql(rounds: int = 16) -> str:
    """Unrolled Luby maximal matching on the canonical customer graph.
    Winner test = NOT EXISTS adjacent active edge with a smaller
    (prio, src, dst) tuple — row-value comparison, identical semantics
    to the kernel's struct-min-at-both-endpoints formulation (an edge
    is below every adjacent edge iff it is the min at both of its
    endpoints). Rounds past the fixpoint are empty no-ops (sf0.01
    converges in 7; 16 leaves >2x margin). MATERIALIZED for the
    2^rounds re-inlining reason of :func:`_kcore_sql`."""
    ctes = [
        "canon AS (SELECT DISTINCT least(src, dst) AS src,"
        " greatest(src, dst) AS dst FROM e0)",
        "a0 AS MATERIALIZED (SELECT src, dst,"
        " ((src*40503 + dst) % 1000000007 * 40503 + 12345) % 1000000007"
        " AS prio FROM canon)",
    ]
    finals = []
    for r in range(1, rounds + 1):
        ctes.append(f"""
w{r} AS MATERIALIZED (SELECT e.src, e.dst FROM a{r - 1} e
        WHERE NOT EXISTS (SELECT 1 FROM a{r - 1} f
          WHERE (f.src, f.dst) <> (e.src, e.dst)
            AND (f.src IN (e.src, e.dst) OR f.dst IN (e.src, e.dst))
            AND (f.prio, f.src, f.dst) < (e.prio, e.src, e.dst))),
mv{r} AS (SELECT src AS vid FROM w{r} UNION SELECT dst AS vid FROM w{r}),
a{r} AS MATERIALIZED (SELECT src, dst, prio FROM a{r - 1}
        WHERE src NOT IN (SELECT vid FROM mv{r})
          AND dst NOT IN (SELECT vid FROM mv{r}))""")
        finals.append(
            f"SELECT src, dst, CAST({r} AS BIGINT) AS match_round FROM w{r}"
        )
    return f"""
WITH {_CUSTOMER_EDGES_SQL},
{','.join(ctes)}
{' UNION ALL '.join(finals)}
"""


def _coloring_sql(rounds: int = 20) -> str:
    """Unrolled greedy parallel coloring on the customer graph — the
    :func:`_mis_sql` round shape minus the neighbor-removal step
    (winners leave alone; color = round index). sf0.01 converges in
    10 rounds; 20 leaves 2x margin, no-op past the fixpoint."""
    ctes = [
        "a0 AS MATERIALIZED (SELECT vid, (vid*40503 + 12345) % 1000000007"
        " AS prio FROM v)"
    ]
    finals = []
    for r in range(1, rounds + 1):
        ctes.append(f"""
n{r} AS (SELECT s.src AS vid, min(y.prio) AS mp
         FROM sym s JOIN a{r - 1} x ON s.src = x.vid
                    JOIN a{r - 1} y ON s.dst = y.vid GROUP BY 1),
w{r} AS MATERIALIZED (SELECT a.vid FROM a{r - 1} a LEFT JOIN n{r} ON a.vid = n{r}.vid
        WHERE n{r}.mp IS NULL OR a.prio < n{r}.mp),
a{r} AS MATERIALIZED (SELECT vid, prio FROM a{r - 1}
        WHERE vid NOT IN (SELECT vid FROM w{r}))""")
        finals.append(f"SELECT vid, CAST({r} AS BIGINT) AS color FROM w{r}")
    return f"""
WITH {_CUSTOMER_EDGES_SQL},
{','.join(ctes)}
{' UNION ALL '.join(finals)}
"""


_EDGE_JACCARD_SQL = """
canon AS (SELECT DISTINCT least(src, dst) AS src, greatest(src, dst) AS dst FROM e0),
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
cm AS (SELECT c.src, c.dst, count(*) AS common
       FROM canon c JOIN sym a ON a.src = c.src
                    JOIN sym b ON b.src = c.dst AND b.dst = a.dst
       GROUP BY 1, 2)
SELECT c.src, c.dst,
       CAST(coalesce(cm.common, 0) AS BIGINT) AS common,
       CAST(ds.degree + dd.degree - coalesce(cm.common, 0) AS BIGINT) AS union_size,
       round(CAST(coalesce(cm.common, 0) AS DOUBLE)
             / (ds.degree + dd.degree - coalesce(cm.common, 0)), 6) AS jaccard
FROM canon c JOIN deg ds ON ds.vid = c.src
             JOIN deg dd ON dd.vid = c.dst
             LEFT JOIN cm ON cm.src = c.src AND cm.dst = c.dst
"""


def _tfidf_oracle_sql() -> str:
    """DuckDB twin of :func:`q_tfidf_top3` (shared SQL generator lives
    beside the Spark implementation in ``functions/text.py``)."""
    from hoover_spark.functions.text import tf_idf_top_terms_sql

    inner = tf_idf_top_terms_sql("documents", "doc_id", "text", top_k=3)
    return f"SELECT id AS doc_id, term, score, rank FROM ({inner})"


def _cms_sql(depth: int = 4, width: int = 64) -> str:
    """DuckDB twin of the affine-bucket CMS on events.user_id."""
    from hoover_spark.operators.sketches import AFFINE_P

    def coeffs(r):
        a = (1_664_525 * (r + 1) + 1_013_904_223) % AFFINE_P | 1
        b = (22_695_477 * (r + 1) + 12_345) % AFFINE_P
        return a, b

    bucket_rows = " UNION ALL ".join(
        f"SELECT {r} AS r, (({a}*user_id + {b}) % {AFFINE_P}) % {width} AS bucket FROM events"
        for r, (a, b) in ((r, coeffs(r)) for r in range(depth))
    )
    probe_rows = " UNION ALL ".join(
        f"SELECT user_id, {r} AS r, (({a}*user_id + {b}) % {AFFINE_P}) % {width} AS bucket FROM ks"
        for r, (a, b) in ((r, coeffs(r)) for r in range(depth))
    )
    return f"""
WITH b AS ({bucket_rows}),
sk AS (SELECT r, bucket, count(*) AS cnt FROM b GROUP BY 1, 2),
ks AS (SELECT DISTINCT user_id FROM events),
probes AS ({probe_rows})
SELECT p.user_id, min(coalesce(sk.cnt, 0)) AS est
FROM probes p LEFT JOIN sk ON p.r = sk.r AND p.bucket = sk.bucket
GROUP BY 1
"""


#: lower-triangle mask of the 4x4 GBAD slot matrix (each undirected
#: edge counted once — mirrors gbad.n_edges_expr / the reference's
#: adjacency_matrix_n_edges).
_GBAD_LOWER_MASK = sum(1 << (i * 4 + j) for i in range(4) for j in range(i + 1))

_GBAD_IDX = (
    "CASE WHEN t.dst = t.v1 THEN 0 WHEN t.dst = t.v2 THEN 1 "
    "WHEN t.dst = t.v3 THEN 2 WHEN t.dst = t.v4 THEN 3 END"
)

#: shared CTE chain: customer points -> radius graph -> GBAD state walk
#: (recursive, multiplicity-preserving UNION ALL) -> pattern counts ->
#: scored frequent patterns. Verified state-for-state against the
#: recursive python mirror of explore_subgraphs in tests/test_gbad.py.
_GBAD_CTES = f"""
p AS (
  SELECT c_custkey AS id,
         ((c_custkey*37+11) % 997) / 997.0 AS x,
         ((c_custkey*53+29) % 997) / 997.0 AS y,
         ((c_custkey*71+41) % 997) / 997.0 AS z
  FROM customer
),
e0 AS (
  SELECT a.id AS src, b.id AS dst FROM p a JOIN p b ON a.id < b.id
  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 0.12*0.12
),
sym AS (SELECT src, dst FROM e0 UNION ALL SELECT dst, src FROM e0),
states(v1, v2, v3, v4, n, last, matrix) AS (
  SELECT CAST(id AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), CAST(NULL AS BIGINT), 1, 0, 0 FROM p
  UNION ALL
  SELECT
    t.v1,
    CASE WHEN t.k = 1 AND t.n = 1 THEN t.dst ELSE t.v2 END,
    CASE WHEN t.k = 1 AND t.n = 2 THEN t.dst ELSE t.v3 END,
    CASE WHEN t.k = 1 AND t.n = 3 THEN t.dst ELSE t.v4 END,
    CASE WHEN t.k = 1 THEN t.n + 1 ELSE t.n END,
    CASE WHEN t.k = 1 THEN t.n ELSE {_GBAD_IDX} END,
    CASE WHEN t.k = 1
         THEN t.matrix | (1 << (t.n * 4 + t.last)) | (1 << (t.last * 4 + t.n))
         ELSE t.matrix | (1 << (({_GBAD_IDX}) * 4 + t.last)) | (1 << (t.last * 4 + ({_GBAD_IDX}))) END
  FROM (
    SELECT s.*, sym.dst, b.k
    FROM states s
    JOIN sym ON sym.src = CASE s.last WHEN 0 THEN s.v1 WHEN 1 THEN s.v2 WHEN 2 THEN s.v3 ELSE s.v4 END
    CROSS JOIN (VALUES (0), (1)) b(k)
    WHERE s.n < 4
  ) t
  WHERE (t.k = 0 AND ({_GBAD_IDX}) IS NOT NULL AND (t.matrix >> (({_GBAD_IDX}) * 4 + t.last)) & 1 = 0)
     OR (t.k = 1 AND ({_GBAD_IDX}) IS NULL)
),
counts AS (SELECT matrix, count(*) AS cnt FROM states GROUP BY 1),
scored AS (
  SELECT matrix, cnt,
         bit_count(matrix & {_GBAD_LOWER_MASK}) AS n_edges,
         cnt * bit_count(matrix & {_GBAD_LOWER_MASK}) AS score
  FROM counts
),
freq AS (
  SELECT matrix, cnt, n_edges, score,
         row_number() OVER (ORDER BY score DESC, matrix ASC) AS rank
  FROM scored QUALIFY rank <= 3
)
"""


def _louvain_round_sql(prev: str, tag: str) -> str:
    """One synchronous Louvain move round (twin of
    ``communities.louvain_move``): needs CTEs ``sym``, ``deg``, ``m1``
    and the label CTE ``prev``; defines ``l{tag}``."""
    return f"""dc{tag} AS (SELECT l.label AS c, sum(d.degree) AS dc FROM {prev} l JOIN deg d USING (vid) GROUP BY 1),
nb{tag} AS (SELECT s.src AS vid, l.label AS c, count(*) AS w FROM sym s JOIN {prev} l ON l.vid = s.dst GROUP BY 1, 2),
cd{tag} AS (SELECT vid, c, max(w) AS w FROM (
  SELECT vid, c, w FROM nb{tag} UNION ALL SELECT vid, label AS c, 0 AS w FROM {prev}) GROUP BY 1, 2),
sc{tag} AS (SELECT cd.vid, cd.c,
  2*m1.m*cd.w - d.degree*(dc.dc - CASE WHEN cd.c = l.label THEN d.degree ELSE 0 END) AS score
  FROM cd{tag} cd JOIN {prev} l USING (vid) JOIN deg d USING (vid)
  JOIN dc{tag} dc ON dc.c = cd.c CROSS JOIN m1),
l{tag} AS (SELECT vid, c AS label FROM (
  SELECT vid, c, row_number() OVER (PARTITION BY vid ORDER BY score DESC, c) AS rn FROM sc{tag}) WHERE rn = 1)"""


def _wlouvain_level_sql(lv: int, wa_def: str, n_rounds: int = 2) -> str:
    """One weighted Louvain level (twin of
    ``communities.louvain_levels``): defines ``wa{lv}`` from
    ``wa_def``, weighted degrees ``k{lv}``, total ``s{lv}``, labels
    ``l{lv}_0`` … ``l{lv}_{n_rounds}``. Self-loops carry doubled
    weight and are excluded from move scores."""
    # MATERIALIZED: DuckDB inlines plain CTEs at every reference, and
    # the two-level unroll references wa/label CTEs enough times that
    # the inlined plan re-opens the parquet past the fd limit.
    parts = [
        f"wa{lv} AS MATERIALIZED ({wa_def})",
        f"k{lv} AS MATERIALIZED (SELECT src AS vid, sum(w) AS k FROM wa{lv} GROUP BY 1)",
        f"s{lv} AS (SELECT sum(k) AS S FROM k{lv})",
        f"l{lv}_0 AS (SELECT vid, vid AS label FROM k{lv})",
    ]
    for r in range(1, n_rounds + 1):
        prev = f"l{lv}_{r - 1}"
        parts.append(
            f"""dc{lv}_{r} AS (SELECT l.label AS c, sum(k.k) AS dc FROM {prev} l JOIN k{lv} k USING (vid) GROUP BY 1),
nb{lv}_{r} AS (SELECT w.src AS vid, l.label AS c, sum(w.w) AS wc
  FROM wa{lv} w JOIN {prev} l ON l.vid = w.dst WHERE w.src <> w.dst GROUP BY 1, 2),
cd{lv}_{r} AS (SELECT vid, c, max(wc) AS wc FROM (
  SELECT vid, c, wc FROM nb{lv}_{r} UNION ALL SELECT vid, label AS c, 0 AS wc FROM {prev}) GROUP BY 1, 2),
sc{lv}_{r} AS (SELECT cd.vid, cd.c,
  s{lv}.S*cd.wc - k.k*(dc.dc - CASE WHEN cd.c = l.label THEN k.k ELSE 0 END) AS score
  FROM cd{lv}_{r} cd JOIN {prev} l USING (vid) JOIN k{lv} k USING (vid)
  JOIN dc{lv}_{r} dc ON dc.c = cd.c CROSS JOIN s{lv}),
l{lv}_{r} AS MATERIALIZED (SELECT vid, c AS label FROM (
  SELECT vid, c, row_number() OVER (PARTITION BY vid ORDER BY score DESC, c) AS rn FROM sc{lv}_{r}) WHERE rn = 1)"""
        )
    return ",\n".join(parts)


def _kmeans_ctes(k: int = 4, dim: int = 64) -> str:
    """Unrolled 2-assignment-round Lloyd k-means over ``embeddings`` —
    the DuckDB twin of ``operators/clustering.py`` (init = k smallest
    vec_ids; expanded-dot score ``c·c − 2 v·c`` rounded 6 dp with
    min-cluster tie-break; 6 dp centroid rounding between rounds).
    Ends at CTE ``a2``: the final ``(vec_id, cluster)`` assignment."""

    def assign(s: int, cent: str) -> str:
        return f"""s{s} AS (
  SELECT e.vec_id, c.cluster,
         round(list_dot_product(c.c, c.c) - 2.0 * list_dot_product(e.v, c.c), 6) AS score
  FROM e CROSS JOIN {cent} c),
a{s} AS (
  SELECT vec_id, cluster FROM (
    SELECT vec_id, cluster,
           row_number() OVER (PARTITION BY vec_id ORDER BY score, cluster) AS rn
    FROM s{s}) WHERE rn = 1)"""

    return f"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster, v AS c
       FROM (SELECT vec_id, v FROM e ORDER BY vec_id LIMIT {k})),
{assign(1, 'c0')},
u1 AS (SELECT a1.cluster, t.i, round(avg(e.v[t.i + 1]), 6) AS m
       FROM a1 JOIN e USING (vec_id), UNNEST(range({dim})) AS t(i)
       GROUP BY 1, 2),
c1 AS (SELECT c0.cluster, COALESCE(lu.c, c0.c) AS c
       FROM c0 LEFT JOIN (SELECT cluster, list(m ORDER BY i) AS c FROM u1 GROUP BY cluster) lu USING (cluster)),
{assign(2, 'c1')}"""


def oracle_sql() -> dict[str, str]:
    stop_list = ", ".join(f"'{s}'" for s in STOPWORDS)

    # language-ID score expressions (same formula as the Spark side)
    lang_scores = {}
    for lang_code in sorted(LANG_MARKERS):
        parts = [
            f"(length(' ' || text || ' ') - length(regexp_replace(' ' || text || ' ', '\\b{m}\\b', '', 'g'))) / {len(m)}.0"
            for m in LANG_MARKERS[lang_code]
        ]
        lang_scores[lang_code] = "CAST(" + " + ".join(parts) + " AS BIGINT)"
    langs = sorted(LANG_MARKERS)
    score_cols = ", ".join(f"{lang_scores[l]} AS s_{l}" for l in langs)
    best = "greatest(" + ", ".join(f"s_{l}" for l in langs) + ")"
    pred_case = " ".join(f"WHEN s_{l} = best THEN '{l}'" for l in langs)

    simhash_a, simhash_b = 1_664_525, 1_013_904_223
    sim_sums = ", ".join(
        f"sum(CASE WHEN (mx >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS s{j}" for j in range(16)
    )
    sim_pack = " + ".join(f"CASE WHEN s{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))

    return {
        "edge_derivation": f"WITH {_CUSTOMER_EDGES_SQL} SELECT src, dst FROM e0",
        "graph_degrees": f"""
WITH {_CUSTOMER_EDGES_SQL}
SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1
""",
        "wcc_components": f"""
WITH RECURSIVE {_CUSTOMER_EDGES_SQL},
reach(vid, r) AS (
  SELECT vid, vid FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
)
SELECT vid, min(r) AS label FROM reach GROUP BY vid
""",
        "wcc_two_phase": f"""
WITH RECURSIVE {_CUSTOMER_EDGES_SQL},
reach(vid, r) AS (
  SELECT vid, vid FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
)
SELECT vid, min(r) AS label FROM reach GROUP BY vid
""",
        "wcc_sizes": f"""
WITH RECURSIVE {_CUSTOMER_EDGES_SQL},
reach(vid, r) AS (
  SELECT vid, vid FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
),
labels AS (SELECT vid, min(r) AS label FROM reach GROUP BY vid)
SELECT label AS component, count(*) AS size FROM labels GROUP BY 1
""",
        "pagerank_3iter": _pagerank_sql(),
        "hits_2iter": _hits_sql(),
        "kcore_3": _kcore_sql(),
        "ppr_3iter": _ppr_sql(),
        "ktruss_4": _ktruss_sql(),
        "tfidf_top3": _tfidf_oracle_sql(),
        "minlabel_2iter": f"""
WITH {_EVENTS_EDGES_SQL},
l0 AS (SELECT vid, vid AS label FROM v),
m1 AS (SELECT s.dst AS vid, min(l0.label) AS ml FROM sym s JOIN l0 ON s.src = l0.vid GROUP BY 1),
l1 AS (SELECT v.vid, least(v.vid, coalesce(m1.ml, v.vid)) AS label FROM v LEFT JOIN m1 ON v.vid = m1.vid),
m2 AS (SELECT s.dst AS vid, min(l1.label) AS ml FROM sym s JOIN l1 ON s.src = l1.vid GROUP BY 1),
l2 AS (SELECT l1.vid, least(l1.label, coalesce(m2.ml, l1.label)) AS label FROM l1 LEFT JOIN m2 ON l1.vid = m2.vid)
SELECT vid, label FROM l2
""",
        "mode_lp_1iter": f"""
WITH {_CUSTOMER_EDGES_SQL},
l0 AS (SELECT vid, vid AS label FROM v),
msgs AS (SELECT s.dst AS vid, l0.label FROM sym s JOIN l0 ON s.src = l0.vid),
cnt AS (SELECT vid, label, count(*) AS c FROM msgs GROUP BY 1, 2),
mx AS (SELECT vid, max(c) AS mc FROM cnt GROUP BY 1),
best AS (SELECT cnt.vid, min(cnt.label) AS new_label
         FROM cnt JOIN mx ON cnt.vid = mx.vid AND cnt.c = mx.mc GROUP BY 1)
SELECT v.vid, coalesce(best.new_label, v.vid) AS label FROM v LEFT JOIN best ON v.vid = best.vid
""",
        "triangle_total": f"""
WITH {_CUSTOMER_EDGES_SQL},
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0),
tris AS (
  SELECT a.s AS u, a.d AS v2, b.d AS w
  FROM canon a JOIN canon b ON b.s = a.d JOIN canon c ON c.s = a.s AND c.d = b.d
)
SELECT count(*) AS n_triangles FROM tris
""",
        "triangles_per_vertex": f"""
WITH {_CUSTOMER_EDGES_SQL},
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0),
tris AS (
  SELECT a.s AS u, a.d AS v2, b.d AS w
  FROM canon a JOIN canon b ON b.s = a.d JOIN canon c ON c.s = a.s AND c.d = b.d
),
corners AS (
  SELECT u AS vid FROM tris UNION ALL SELECT v2 FROM tris UNION ALL SELECT w FROM tris
),
cc AS (SELECT vid, count(*) AS c FROM corners GROUP BY 1)
SELECT v.vid, coalesce(cc.c, 0) AS triangles FROM v LEFT JOIN cc ON v.vid = cc.vid
""",
        "vertex_metrics": f"""
WITH RECURSIVE {_CUSTOMER_EDGES_SQL},
reach(vid, r) AS (
  SELECT vid, vid FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
),
labels AS (SELECT vid, min(r) AS label FROM reach GROUP BY vid),
sizes AS (SELECT label, count(*) AS component_size FROM labels GROUP BY 1),
-- count(DISTINCT …): under WITH RECURSIVE DuckDB compiles the sym
-- UNION as a recursive union and can leave duplicate rows (observed:
-- 4 dup edges at sf0.01) — distinct-neighbor degree is robust to it
deg AS (SELECT src AS vid, count(DISTINCT dst) AS degree FROM sym GROUP BY 1),
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0),
tris AS (
  SELECT a.s AS u, a.d AS v2, b.d AS w
  FROM canon a JOIN canon b ON b.s = a.d JOIN canon c ON c.s = a.s AND c.d = b.d
),
corners AS (
  SELECT u AS vid FROM tris UNION ALL SELECT v2 FROM tris UNION ALL SELECT w FROM tris
),
cc AS (SELECT vid, count(*) AS c FROM corners GROUP BY 1)
SELECT l.vid, deg.degree, l.label, sizes.component_size,
       coalesce(cc.c, 0) AS triangles
FROM labels l
JOIN deg ON deg.vid = l.vid
JOIN sizes ON sizes.label = l.label
LEFT JOIN cc ON cc.vid = l.vid
""",
        "clustering_coeff": f"""
WITH {_CUSTOMER_EDGES_SQL},
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0),
tris AS (
  SELECT a.s AS u, a.d AS v2, b.d AS w
  FROM canon a JOIN canon b ON b.s = a.d JOIN canon c ON c.s = a.s AND c.d = b.d
),
corners AS (
  SELECT u AS vid FROM tris UNION ALL SELECT v2 FROM tris UNION ALL SELECT w FROM tris
),
cc AS (SELECT vid, count(*) AS c FROM corners GROUP BY 1),
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1)
SELECT v.vid,
       CAST(coalesce(deg.degree, 0) AS BIGINT) AS degree,
       CAST(coalesce(cc.c, 0) AS BIGINT) AS triangles,
       CASE WHEN coalesce(deg.degree, 0) >= 2
            THEN round(2.0 * coalesce(cc.c, 0) / (deg.degree * (deg.degree - 1)), 6)
            ELSE 0.0 END AS lcc
FROM v LEFT JOIN deg ON v.vid = deg.vid LEFT JOIN cc ON v.vid = cc.vid
""",
        "assortativity": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
j AS (SELECT a.degree AS ds, b.degree AS dd
      FROM sym s JOIN deg a ON s.src = a.vid JOIN deg b ON s.dst = b.vid),
sums AS (SELECT count(*) AS m, sum(ds) AS sx, sum(ds * dd) AS sxy,
                sum(ds * ds) AS sxx FROM j)
SELECT CAST(m AS BIGINT) AS m_edges,
       CASE WHEN (m * sxx - sx * sx) <> 0
            THEN round(CAST(m * sxy - sx * sx AS DOUBLE)
                       / CAST(m * sxx - sx * sx AS DOUBLE), 6)
            ELSE 0.0 END AS assortativity
FROM sums
""",
        "bfs_hops_3": f"""
WITH {_CUSTOMER_EDGES_SQL},
d0 AS (SELECT vid FROM v WHERE vid % 97 = 0),
n1 AS (SELECT DISTINCT s.dst AS vid FROM sym s JOIN d0 ON s.src = d0.vid),
n2 AS (SELECT DISTINCT s.dst AS vid FROM sym s JOIN n1 ON s.src = n1.vid),
n3 AS (SELECT DISTINCT s.dst AS vid FROM sym s JOIN n2 ON s.src = n2.vid),
lv AS (SELECT vid, 0 AS hops FROM d0 UNION ALL SELECT vid, 1 FROM n1
       UNION ALL SELECT vid, 2 FROM n2 UNION ALL SELECT vid, 3 FROM n3)
SELECT vid, CAST(min(hops) AS BIGINT) AS hops FROM lv GROUP BY 1
""",
        "link_predict_ra": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
wj AS (SELECT a.src AS v, a.dst AS u, b.dst AS w2
       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst),
sc AS (SELECT u, w2, count(*) AS cn, sum(CAST(1 AS DOUBLE) / deg.degree) AS ra
       FROM wj JOIN deg ON wj.v = deg.vid GROUP BY 1, 2),
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0)
SELECT u, w2 AS w, CAST(cn AS BIGINT) AS common_neighbors, round(ra, 6) AS ra_score
FROM sc LEFT JOIN canon ON canon.s = sc.u AND canon.d = sc.w2
WHERE cn >= 2 AND canon.s IS NULL
""",
        "reciprocity": f"""
WITH {_CUSTOMER_EDGES_SQL},
r AS (SELECT count(*) AS m, count(b.src) AS rec
      FROM e0 a LEFT JOIN e0 b ON b.src = a.dst AND b.dst = a.src)
SELECT CAST(m AS BIGINT) AS m_edges, CAST(rec AS BIGINT) AS reciprocal_edges,
       CASE WHEN m > 0 THEN round(CAST(rec AS DOUBLE) / m, 6) ELSE 0.0 END AS reciprocity
FROM r
""",
        "degree_histogram": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1)
SELECT CAST(floor(log2(CAST(degree AS DOUBLE) + 0.5)) AS BIGINT) AS bucket,
       count(*) AS n_vertices,
       CAST(min(degree) AS BIGINT) AS min_degree,
       CAST(max(degree) AS BIGINT) AS max_degree
FROM deg GROUP BY 1
""",
        "pii_scrub": r"""
WITH aug AS (
  SELECT doc_id,
         text ||
         CASE WHEN doc_id % 3 = 0
              THEN ' contact user' || CAST(doc_id AS VARCHAR) || '@example.com'
              ELSE '' END ||
         CASE WHEN doc_id % 4 = 0
              THEN ' origin 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7'
              ELSE '' END AS text
  FROM documents
),
c AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS ne,
         len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS ni
  FROM aug
)
SELECT doc_id, CAST(ne AS BIGINT) AS n_emails, CAST(ni AS BIGINT) AS n_ipv4,
       (ne > 0 OR ni > 0) AS has_pii
FROM c
""",
        "segment_repetition": """
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, '.'), x -> trim(x)),
                     x -> x <> '') AS segs
  FROM documents
)
SELECT doc_id,
       CAST(len(segs) AS BIGINT) AS n_segments,
       CAST(len(list_distinct(segs)) AS BIGINT) AS n_distinct,
       CASE WHEN len(segs) > 0
            THEN round(1.0 - CAST(len(list_distinct(segs)) AS DOUBLE) / len(segs), 6)
            ELSE 0.0 END AS dup_fraction,
       CASE WHEN len(segs) > 0
            THEN round(CAST(list_aggregate(list_transform(segs, x -> length(x)), 'sum')
                            AS DOUBLE) / len(segs), 6)
            ELSE 0.0 END AS mean_seg_chars
FROM s
""",
        "decontaminate": f"""
WITH tr AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 <> 0),
bm AS (SELECT doc_id, text FROM documents WHERE doc_id % 37 = 0),
tc AS (SELECT DISTINCT id, code FROM ({shingle_codes_sql('tr', 'doc_id', 'text', 12)})),
bc AS (SELECT DISTINCT code FROM ({shingle_codes_sql('bm', 'doc_id', 'text', 12)})),
pd AS (SELECT id, count(*) AS n_codes FROM tc GROUP BY 1),
ht AS (SELECT id, count(*) AS n_hits FROM tc JOIN bc USING (code) GROUP BY 1)
SELECT t.doc_id AS doc_id,
       CAST(coalesce(pd.n_codes, 0) AS BIGINT) AS n_codes,
       CAST(coalesce(ht.n_hits, 0) AS BIGINT) AS n_hits,
       coalesce(ht.n_hits, 0) > 0 AS contaminated
FROM tr t LEFT JOIN pd ON t.doc_id = pd.id LEFT JOIN ht ON t.doc_id = ht.id
""",
        "random_walks_3": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
adj AS (SELECT src, dst,
               row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS idx
        FROM sym),
st AS (SELECT vid FROM v WHERE vid % 29 = 0),
w0 AS (SELECT vid * 2 + r AS walk_id, vid AS v
       FROM st, UNNEST(range(2)) AS _r(r)),
w1 AS (SELECT w.walk_id, a.dst AS v
       FROM w0 w JOIN deg d ON w.v = d.vid JOIN adj a ON a.src = w.v
        AND a.idx = (((w.walk_id % 1000000007) * 40503
                      + (w.v % 1000000007) * 69069 + 12352) % 1000000007) % d.degree),
w2 AS (SELECT w.walk_id, a.dst AS v
       FROM w1 w JOIN deg d ON w.v = d.vid JOIN adj a ON a.src = w.v
        AND a.idx = (((w.walk_id % 1000000007) * 40503
                      + (w.v % 1000000007) * 69069 + 24697) % 1000000007) % d.degree),
w3 AS (SELECT w.walk_id, a.dst AS v
       FROM w2 w JOIN deg d ON w.v = d.vid JOIN adj a ON a.src = w.v
        AND a.idx = (((w.walk_id % 1000000007) * 40503
                      + (w.v % 1000000007) * 69069 + 37042) % 1000000007) % d.degree)
SELECT walk_id, CAST(0 AS BIGINT) AS step, v AS vid FROM w0
UNION ALL SELECT walk_id, CAST(1 AS BIGINT), v FROM w1
UNION ALL SELECT walk_id, CAST(2 AS BIGINT), v FROM w2
UNION ALL SELECT walk_id, CAST(3 AS BIGINT), v FROM w3
""",
        "modularity_mod5": f"""
WITH {_CUSTOMER_EDGES_SQL},
canon AS (SELECT DISTINCT least(src, dst) AS s, greatest(src, dst) AS d FROM e0),
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
es AS (SELECT count(*) AS m,
              sum(CASE WHEN s % 5 = d % 5 THEN 1 ELSE 0 END) AS intra
       FROM canon),
dc AS (SELECT vid % 5 AS label, sum(degree) AS dcs FROM deg GROUP BY 1),
d2 AS (SELECT sum(dcs * dcs) AS sum_dc2 FROM dc)
SELECT CAST(m AS BIGINT) AS m_edges, CAST(intra AS BIGINT) AS intra_edges,
       CASE WHEN m > 0
            THEN round(CAST(4 * m * intra - sum_dc2 AS DOUBLE) / (4 * m * m), 6)
            ELSE 0.0 END AS modularity
FROM es, d2
""",
        "harmonic_2hop": f"""
WITH {_CUSTOMER_EDGES_SQL},
one AS (SELECT src AS vid, dst AS w FROM sym),
two AS (
  SELECT DISTINCT a.src AS vid, b.dst AS w
  FROM sym a JOIN sym b ON a.dst = b.src
  WHERE a.src <> b.dst
  EXCEPT SELECT vid, w FROM one
),
c1 AS (SELECT vid, count(*) AS n1 FROM one GROUP BY 1),
c2 AS (SELECT vid, count(*) AS n2 FROM two GROUP BY 1)
SELECT v.vid,
       CAST(coalesce(c1.n1, 0) AS BIGINT) AS n1,
       CAST(coalesce(c2.n2, 0) AS BIGINT) AS n2,
       round(coalesce(c1.n1, 0) + CAST(coalesce(c2.n2, 0) AS DOUBLE) / 2, 6) AS hc
FROM v LEFT JOIN c1 ON v.vid = c1.vid LEFT JOIN c2 ON v.vid = c2.vid
""",
        "snapshot_diff": """
WITH un AS (SELECT count(DISTINCT user_id) AS u FROM events),
ea AS (SELECT DISTINCT user_id AS src,
              (event_id*7919+13) % (SELECT u FROM un) AS dst
       FROM events WHERE event_id % 4 < 2
         AND user_id <> (event_id*7919+13) % (SELECT u FROM un)),
eb AS (SELECT DISTINCT user_id AS src,
              (event_id*7919+13) % (SELECT u FROM un) AS dst
       FROM events WHERE event_id % 4 > 0
         AND user_id <> (event_id*7919+13) % (SELECT u FROM un)),
j AS (SELECT coalesce(ea.src, eb.src) AS src, coalesce(ea.dst, eb.dst) AS dst,
             CASE WHEN ea.src IS NULL THEN 'added'
                  WHEN eb.src IS NULL THEN 'removed'
                  ELSE 'kept' END AS status
      FROM ea FULL OUTER JOIN eb ON ea.src = eb.src AND ea.dst = eb.dst)
SELECT src, dst, status FROM j
""",
        "scc_labels": f"""
WITH RECURSIVE {_BLOCK_EDGES_SQL},
reach(src, dst) AS (
  SELECT src, dst FROM e
  UNION
  SELECT r.src, e2.dst FROM reach r JOIN e e2 ON e2.src = r.dst
),
mutual AS (
  SELECT a.src AS v2, a.dst AS w
  FROM reach a JOIN reach b ON a.src = b.dst AND a.dst = b.src
)
SELECT bv.vid, CAST(least(bv.vid, coalesce(min(m.w), bv.vid)) AS BIGINT) AS label
FROM bv LEFT JOIN mutual m ON m.v2 = bv.vid
GROUP BY bv.vid
""",
        "sssp_weighted": f"""
WITH RECURSIVE {_CUSTOMER_EDGES_SQL},
ew AS (SELECT src, dst, 1 + (src + dst) % 5 AS w FROM e0),
p(vid, d) AS (
  SELECT vid, 0 AS d FROM v WHERE vid % 500 = 0
  UNION
  SELECT e.dst, p.d + e.w FROM p JOIN ew e ON e.src = p.vid
  WHERE p.d + e.w <= 127
)
SELECT vid, CAST(min(d) AS BIGINT) AS dist FROM p GROUP BY 1
""",
        "mis_luby": _mis_sql(),
        "matching_luby": _matching_sql(),
        "coloring_greedy": _coloring_sql(),
        "edge_jaccard": f"WITH {_CUSTOMER_EDGES_SQL},\n{_EDGE_JACCARD_SQL}",
        "anf_2": f"""
WITH {_CUSTOMER_EDGES_SQL},
p AS (SELECT vid AS src, vid AS dst FROM v
      UNION SELECT src, dst FROM sym
      UNION SELECT a.src, b.dst FROM sym a JOIN sym b ON a.dst = b.src)
SELECT src AS vid, count(*) AS nf FROM p GROUP BY 1
""",
        "dup_ngram_fraction": f"""
WITH {_shingle_sql(k=9)},
sc AS (SELECT DISTINCT id, code FROM sh),
cd AS (SELECT code, count(*) AS n_docs FROM sc GROUP BY 1),
pd AS (SELECT id, count(*) AS n_codes,
              sum(CASE WHEN cd.n_docs >= 2 THEN 1 ELSE 0 END) AS dup_codes
       FROM sc JOIN cd USING (code) GROUP BY 1)
SELECT d.doc_id AS doc_id,
       CAST(coalesce(pd.n_codes, 0) AS BIGINT) AS n_codes,
       CAST(coalesce(pd.dup_codes, 0) AS BIGINT) AS dup_codes,
       CASE WHEN coalesce(pd.n_codes, 0) > 0
            THEN round(CAST(pd.dup_codes AS DOUBLE) / CAST(pd.n_codes AS DOUBLE), 6)
            ELSE 0.0 END AS dup_fraction
FROM documents d LEFT JOIN pd ON d.doc_id = pd.id
""",
        "dedup_exact": """
WITH h AS (SELECT doc_id AS id, sha256(text) AS content_sha FROM documents),
c AS (SELECT content_sha, min(id) AS canonical_id FROM h GROUP BY 1)
SELECT id, h.content_sha, canonical_id, id <> canonical_id AS is_duplicate
FROM h JOIN c ON h.content_sha = c.content_sha
""",
        "minhash_signatures": _minhash_sig_sql(),
        "minhash_lsh_pairs": _lsh_pairs_sql(),
        "dedup_clusters": f"""
WITH RECURSIVE {_lsh_candidates_ctes()},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS vid, doc_id AS r FROM documents
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
)
SELECT vid AS id, min(r) AS cluster_id FROM reach GROUP BY vid
""",
        "embedding_near_dup": """
WITH w AS (
  SELECT t.range AS t, p.range AS p, d.range AS d,
         CAST(((1103515245*(t.range*1000003 + p.range*64 + d.range) + 12345) % 2147483647) % 2001 - 1000 AS DOUBLE) AS wt
  FROM range(4) t, range(8) p, range(64) d
),
vd AS (SELECT vec_id, CAST(u.d AS INT) AS d, CAST(embedding[u.d + 1] AS DOUBLE) AS val
       FROM embeddings, UNNEST(range(64)) AS u(d)),
dots AS (SELECT vec_id, w.t, w.p, sum(w.wt * vd.val) AS dot
         FROM vd JOIN w ON w.d = vd.d GROUP BY 1, 2, 3),
buckets AS (SELECT vec_id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
            FROM dots GROUP BY 1, 2),
cand AS (SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
         FROM buckets a JOIN buckets b USING (t, bucket) WHERE a.vec_id < b.vec_id),
ve AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
vn AS (SELECT vec_id, list_transform(vv, x -> x / sqrt(list_dot_product(vv, vv))) AS u FROM ve),
scored AS (SELECT c.id_a, c.id_b, list_dot_product(ua.u, ub.u) AS cos_raw
           FROM cand c JOIN vn ua ON ua.vec_id = c.id_a JOIN vn ub ON ub.vec_id = c.id_b)
SELECT id_a, id_b, round(cos_raw, 6) AS cosine FROM scored WHERE cos_raw >= 0.2
""",
        "simhash": f"""
WITH {_shingle_sql()},
m AS (SELECT id, ({simhash_a}*code + {simhash_b}) % {HASH_P} AS mx FROM sh),
sums AS (SELECT id, {sim_sums} FROM m GROUP BY id)
SELECT id, CAST({sim_pack} AS BIGINT) AS simhash FROM sums
""",
        "ngram_jaccard": f"""
WITH {_lsh_candidates_ctes()},
toks AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
grams AS (SELECT DISTINCT id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS gram
          FROM toks, UNNEST(range(1, len(t) - 1)) AS _u(i) WHERE len(t) >= 3),
counts AS (SELECT id, count(*) AS n_grams FROM grams GROUP BY 1),
inter AS (SELECT p.id_a, p.id_b, count(*) AS n_inter
          FROM pairs p JOIN grams ga ON ga.id = p.id_a JOIN grams gb ON gb.id = p.id_b AND gb.gram = ga.gram
          GROUP BY 1, 2),
zero AS (SELECT doc_id AS id, sha256(text) AS sha FROM documents
         WHERE len(regexp_split_to_array(trim(text), '\\s+')) < 3)
SELECT p.id_a, p.id_b,
       round(CASE WHEN coalesce(ca.n_grams, 0) + coalesce(cb.n_grams, 0) = 0
                  THEN CASE WHEN za.sha = zb.sha THEN 1.0 ELSE 0.0 END
                  ELSE coalesce(i.n_inter, 0) * 1.0
                       / (coalesce(ca.n_grams, 0) + coalesce(cb.n_grams, 0) - coalesce(i.n_inter, 0))
             END, 6) AS jaccard
FROM pairs p
LEFT JOIN inter i ON p.id_a = i.id_a AND p.id_b = i.id_b
LEFT JOIN counts ca ON ca.id = p.id_a
LEFT JOIN counts cb ON cb.id = p.id_b
LEFT JOIN zero za ON za.id = p.id_a
LEFT JOIN zero zb ON zb.id = p.id_b
""",
        "text_quality": f"""
WITH t AS (
  SELECT doc_id AS id, length(text) AS n_chars,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
  FROM documents
),
m AS (
  SELECT id, n_chars, len(toks) AS n_tokens,
         (n_chars - (len(toks) - 1)) * 1.0 / len(toks) AS avg_token_len,
         len(list_filter(toks, x -> x IN ({stop_list}))) * 1.0 / len(toks) AS stopword_ratio,
         len(list_distinct(toks)) * 1.0 / len(toks) AS uniq_ratio,
         punct * 1.0 / n_chars AS punct_ratio
  FROM t
)
SELECT id, n_chars, n_tokens,
       round(avg_token_len, 6) AS avg_token_len,
       round(stopword_ratio, 6) AS stopword_ratio,
       round(uniq_ratio, 6) AS uniq_ratio,
       round(
         greatest(0.0, least(1.0, n_tokens / 64.0)) * 0.4 +
         greatest(0.0, least(1.0, uniq_ratio)) * 0.4 +
         greatest(0.0, least(1.0, 1.0 - punct_ratio * 10.0)) * 0.2, 6) AS quality
FROM m
""",
        "lang_id": f"""
WITH s AS (SELECT doc_id AS id, {score_cols} FROM documents),
b AS (SELECT id, {', '.join(f's_{l}' for l in langs)}, {best} AS best FROM s)
SELECT id, CASE WHEN best <= 0 THEN 'und' ELSE CASE {pred_case} END END AS pred_lang FROM b
""",
        "corpus_curate": f"""
WITH RECURSIVE {_lsh_candidates_ctes()},
sym AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
reach AS (
  SELECT doc_id AS vid, doc_id AS r FROM documents
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
),
clus AS (SELECT vid AS id, min(r) AS cluster_id FROM reach GROUP BY vid),
qt AS (
  SELECT doc_id AS id, length(text) AS n_chars,
         regexp_split_to_array(trim(text), '\\s+') AS toks,
         length(text) - length(regexp_replace(text, '[^\\w\\s]', '', 'g')) AS punct
  FROM documents
),
qm AS (
  SELECT id,
         round(
           greatest(0.0, least(1.0, len(toks) / 64.0)) * 0.4 +
           greatest(0.0, least(1.0, len(list_distinct(toks)) * 1.0 / len(toks))) * 0.4 +
           greatest(0.0, least(1.0, 1.0 - (punct * 1.0 / n_chars) * 10.0)) * 0.2, 6) AS quality
  FROM qt
),
ls AS (SELECT doc_id AS id, {score_cols} FROM documents),
lb AS (SELECT id, {', '.join(f's_{l}' for l in langs)}, {best} AS best FROM ls),
lg AS (SELECT id, CASE WHEN best <= 0 THEN 'und' ELSE CASE {pred_case} END END AS pred_lang FROM lb)
SELECT qm.id, qm.quality, lg.pred_lang, clus.cluster_id,
       (qm.quality >= 0.65 AND qm.id = clus.cluster_id AND lg.pred_lang IN ('en')) AS keep,
       CASE WHEN qm.quality < 0.65 THEN 'low_quality'
            WHEN qm.id <> clus.cluster_id THEN 'near_duplicate'
            WHEN lg.pred_lang NOT IN ('en') THEN 'lang'
       END AS drop_reason
FROM qm JOIN lg ON lg.id = qm.id JOIN clus ON clus.id = qm.id
""",
        "token_counts": """
WITH t AS (SELECT doc_id AS id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents)
SELECT id, len(toks) AS n_tokens,
       CAST(list_sum(list_transform(toks, x -> CAST(ceil(length(x) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
FROM t
""",
        "winnow_fingerprints": f"""
WITH {_shingle_sql()},
h AS (SELECT id, pos, (1103515245 * code + 12345) % {HASH_P} AS h FROM sh),
w AS (SELECT id, min(h) OVER (PARTITION BY id ORDER BY pos ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS fp FROM h)
SELECT DISTINCT id, fp FROM w
""",
        "embedding_norms": """
SELECT vec_id, round(sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))), 6) AS norm
FROM embeddings
""",
        "cosine_topk": """
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id % 50 = 0),
v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
s AS (
  SELECT query_id, vec_id,
         round(list_dot_product(qv, vv) / (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(vv, vv))), 6) AS cosine
  FROM q CROSS JOIN v WHERE vec_id <> query_id
),
r AS (SELECT query_id, vec_id, cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, vec_id) AS rank
      FROM s)
SELECT query_id, vec_id, cosine, rank FROM r WHERE rank <= 5
""",
        "four_cycles": f"""
WITH {_CUSTOMER_EDGES_SQL},
wp AS (SELECT a.dst AS u1, b.dst AS u2, count(*) AS w
       FROM sym a JOIN sym b ON a.src = b.src AND a.dst < b.dst
       GROUP BY 1, 2)
SELECT CAST(COALESCE(sum(w * (w - 1)), 0) / 4 AS BIGINT) AS n_four_cycles FROM wp
""",
        "katz_3": f"""
WITH {_CUSTOMER_EDGES_SQL},
x0 AS (SELECT vid, CAST(1.0 AS DOUBLE) AS x FROM v),
m1x AS (SELECT e.dst AS vid, sum(x.x) AS s FROM e0 e JOIN x0 x ON x.vid = e.src GROUP BY 1),
x1 AS (SELECT v.vid, round(0.125 * COALESCE(m.s, CAST(0.0 AS DOUBLE)) + 1.0, 6) AS x FROM v LEFT JOIN m1x m ON m.vid = v.vid),
m2x AS (SELECT e.dst AS vid, sum(x.x) AS s FROM e0 e JOIN x1 x ON x.vid = e.src GROUP BY 1),
x2 AS (SELECT v.vid, round(0.125 * COALESCE(m.s, CAST(0.0 AS DOUBLE)) + 1.0, 6) AS x FROM v LEFT JOIN m2x m ON m.vid = v.vid),
m3x AS (SELECT e.dst AS vid, sum(x.x) AS s FROM e0 e JOIN x2 x ON x.vid = e.src GROUP BY 1),
x3 AS (SELECT v.vid, round(0.125 * COALESCE(m.s, CAST(0.0 AS DOUBLE)) + 1.0, 6) AS x FROM v LEFT JOIN m3x m ON m.vid = v.vid)
SELECT CAST(vid AS BIGINT) AS vid, x AS katz FROM x3
""",
        "wpagerank_2": f"""
WITH {_CUSTOMER_EDGES_SQL},
wts AS (SELECT src, dst, (src + dst) % 5 + 1 AS wt FROM e0),
st AS (SELECT src, sum(wt) AS s FROM wts GROUP BY 1),
tr AS (SELECT w.src, w.dst, CAST(w.wt AS DOUBLE) / st.s AS p FROM wts w JOIN st USING (src)),
n1 AS (SELECT count(*) AS n FROM v),
r0 AS (SELECT vid, round(1.0 / n1.n, 6) AS rank FROM v CROSS JOIN n1),
mw1 AS (SELECT t.dst AS vid, sum(r.rank * t.p) AS m FROM tr t JOIN r0 r ON r.vid = t.src GROUP BY 1),
dg1 AS (SELECT COALESCE(sum(r.rank), 0.0) AS dm FROM r0 r WHERE NOT EXISTS (SELECT 1 FROM st WHERE st.src = r.vid)),
r1 AS (SELECT v.vid, round((1.0 - 0.85) / n1.n + 0.85 * (COALESCE(m.m, 0.0) + dg.dm / n1.n), 6) AS rank
       FROM v LEFT JOIN mw1 m ON m.vid = v.vid CROSS JOIN n1 CROSS JOIN dg1 dg),
mw2 AS (SELECT t.dst AS vid, sum(r.rank * t.p) AS m FROM tr t JOIN r1 r ON r.vid = t.src GROUP BY 1),
dg2 AS (SELECT COALESCE(sum(r.rank), 0.0) AS dm FROM r1 r WHERE NOT EXISTS (SELECT 1 FROM st WHERE st.src = r.vid)),
r2 AS (SELECT v.vid, round((1.0 - 0.85) / n1.n + 0.85 * (COALESCE(m.m, 0.0) + dg.dm / n1.n), 6) AS rank
       FROM v LEFT JOIN mw2 m ON m.vid = v.vid CROSS JOIN n1 CROSS JOIN dg2 dg)
SELECT CAST(vid AS BIGINT) AS vid, rank FROM r2
""",
        "degree_quantiles": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
q AS (SELECT count(*) AS n_vertices,
             quantile_cont(degree, [0.25, 0.5, 0.75, 0.9, 0.99]) AS p,
             max(degree) AS max_degree
      FROM deg)
SELECT n_vertices, round(p[1], 6) AS p25, round(p[2], 6) AS p50,
       round(p[3], 6) AS p75, round(p[4], 6) AS p90, round(p[5], 6) AS p99,
       CAST(max_degree AS BIGINT) AS max_degree
FROM q
""",
        "louvain_move2": f"""
WITH {_CUSTOMER_EDGES_SQL},
deg AS (SELECT src AS vid, count(*) AS degree FROM sym GROUP BY 1),
m1 AS (SELECT count(*) AS m FROM sym WHERE src < dst),
l0 AS (SELECT vid, vid AS label FROM v),
{_louvain_round_sql('l0', '1')},
{_louvain_round_sql('l1', '2')}
SELECT CAST(vid AS BIGINT) AS vid, CAST(label AS BIGINT) AS community FROM l2
""",
        "louvain_2level": f"""
WITH {_CUSTOMER_EDGES_SQL},
{_wlouvain_level_sql(1, "SELECT src, dst, CAST(1 AS BIGINT) AS w FROM sym")},
{_wlouvain_level_sql(2, "SELECT la.label AS src, lb.label AS dst, sum(w.w) AS w FROM wa1 w JOIN l1_2 la ON la.vid = w.src JOIN l1_2 lb ON lb.vid = w.dst GROUP BY 1, 2")}
SELECT CAST(m0.vid AS BIGINT) AS vid, CAST(m1.label AS BIGINT) AS community
FROM l1_2 m0 JOIN l2_2 m1 ON m1.vid = m0.label
""",
        "kmeans_assign": f"""
WITH {_kmeans_ctes()}
SELECT vec_id, cluster FROM a2
""",
        "semantic_dedup": f"""
WITH {_kmeans_ctes()},
vn AS (SELECT vec_id, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS u FROM e),
p AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b, a2a.cluster,
         round(list_dot_product(na.u, nb.u), 6) AS cosine
  FROM a2 a2a JOIN a2 a2b ON a2a.cluster = a2b.cluster AND a2a.vec_id < a2b.vec_id
  JOIN e a ON a.vec_id = a2a.vec_id JOIN e b ON b.vec_id = a2b.vec_id
  JOIN vn na ON na.vec_id = a2a.vec_id JOIN vn nb ON nb.vec_id = a2b.vec_id
)
SELECT id_a, id_b, cluster, cosine FROM p WHERE cosine >= 0.3
""",
        "token_rarity": """
WITH toks AS (SELECT id, tok FROM (
    SELECT doc_id AS id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok FROM documents)
  WHERE tok <> ''),
freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
per AS (SELECT t.id, count(*) AS n_tokens, sum(f.freq) AS fsum,
               sum(CASE WHEN f.freq <= 2 THEN 1 ELSE 0 END) AS rare
        FROM toks t JOIN freq f USING (tok) GROUP BY 1)
SELECT d.doc_id AS id,
       CAST(COALESCE(p.n_tokens, 0) AS BIGINT) AS n_tokens,
       COALESCE(round(CAST(p.fsum AS DOUBLE) / p.n_tokens, 6), 0.0) AS avg_freq,
       COALESCE(round(CAST(p.rare AS DOUBLE) / p.n_tokens, 6), 0.0) AS rare_frac
FROM documents d LEFT JOIN per p ON p.id = d.doc_id
""",
        "cooccur_lift": """
WITH bi AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS item FROM lineitem),
n1 AS (SELECT count(DISTINCT b) AS n FROM bi),
ic AS (SELECT item, count(*) AS c FROM bi GROUP BY 1),
pairs AS (SELECT a.item AS item_a, b.item AS item_b, count(*) AS n_pairs
          FROM bi a JOIN bi b ON a.b = b.b AND a.item < b.item
          GROUP BY 1, 2 HAVING count(*) >= 2)
SELECT p.item_a, p.item_b, p.n_pairs,
       round(CAST(n1.n * p.n_pairs AS DOUBLE) / CAST(ca.c * cb.c AS DOUBLE), 6) AS lift
FROM pairs p JOIN ic ca ON ca.item = p.item_a JOIN ic cb ON cb.item = p.item_b CROSS JOIN n1
""",
        "event_hourly": """
SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, round(sum(value), 4) AS sum_value
FROM events GROUP BY 1, 2
""",
        "midas_edge_freq": """
SELECT user_id, event_type, count(*) AS total,
       CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 ELSE 0 END) AS BIGINT) AS recent,
       round(sum(CASE WHEN ts >= TIMESTAMP '2024-01-24 00:00:00' THEN 1 ELSE 0 END) * 1.0 / count(*), 6) AS recent_ratio
FROM events GROUP BY 1, 2
""",
        "four_clique_count": """
SELECT CAST(sum(c*(c-1)*(c-2)*(c-3)/24) AS BIGINT) AS n_cliques
FROM (SELECT count(*) AS c FROM nation GROUP BY n_regionkey)
""",
        "clique_communities": """
WITH rc AS (SELECT n_regionkey, count(*) AS c, min(n_nationkey) AS mn FROM nation GROUP BY 1)
SELECT CAST(n.n_nationkey AS BIGINT) AS vid, CAST(rc.mn AS BIGINT) AS community
FROM nation n JOIN rc ON n.n_regionkey = rc.n_regionkey
WHERE rc.c >= 4
""",
        "cms_estimates": _cms_sql(),
        "midas_scores": """
WITH w0 AS (SELECT user_id, event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start FROM events),
est AS (SELECT user_id, event_type, window_start, count(*) AS a FROM w0 GROUP BY 1, 2, 3),
cum AS (SELECT *, CAST(sum(a) OVER (PARTITION BY user_id, event_type ORDER BY window_start) AS BIGINT) AS s FROM est),
mn AS (SELECT min(window_start) AS first_w FROM est),
ticked AS (
  SELECT c.*, CAST(floor((epoch(c.window_start) - epoch(mn.first_w)) / 86400) AS BIGINT) + 1 AS t
  FROM cum c CROSS JOIN mn
)
SELECT window_start, user_id, event_type, a, s, t,
       round(CASE WHEN t > 1 AND s > 0
                  THEN pow(a - s * 1.0 / t, 2) * t * t / (s * (t - 1))
                  ELSE 0.0 END, 6) AS score
FROM ticked
""",
        "spatial_join": """
WITH p AS (
  SELECT c_custkey AS id,
         ((c_custkey*37+11) % 997) / 997.0 AS x,
         ((c_custkey*53+29) % 997) / 997.0 AS y,
         ((c_custkey*71+41) % 997) / 997.0 AS z
  FROM customer
)
SELECT a.id AS id_a, b.id AS id_b,
       round(sqrt((a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z)), 6) AS dist
FROM p a JOIN p b ON a.id < b.id
WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) + (a.z-b.z)*(a.z-b.z) <= 0.08*0.08
""",
        "gcn_aggregate": """
WITH en AS (SELECT count(*) AS n FROM embeddings),
e0 AS (
  SELECT src, dst FROM (
    SELECT vec_id AS src, (vec_id*31+17) % (SELECT n FROM en) AS dst FROM embeddings
    UNION
    SELECT vec_id AS src, (vec_id*57+23) % (SELECT n FROM en) AS dst FROM embeddings
  ) WHERE src <> dst
),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
deg AS (SELECT src AS vid, count(*) AS d FROM sym GROUP BY 1),
x AS (SELECT vec_id AS vid, CAST(embedding[1] AS DOUBLE) AS x0 FROM embeddings),
nx AS (SELECT x.vid, x.x0 / sqrt(deg.d + 1) AS hn, deg.d FROM x JOIN deg ON x.vid = deg.vid),
msgs AS (
  SELECT sym.dst AS vid, nx.hn FROM sym JOIN nx ON sym.src = nx.vid
  UNION ALL
  SELECT vid, hn FROM nx
),
s AS (SELECT vid, sum(hn) AS hsum FROM msgs GROUP BY 1)
SELECT s.vid, round(s.hsum / sqrt(deg.d + 1), 6) AS h0
FROM s JOIN deg ON s.vid = deg.vid
""",
        "repos_wcc": f"""
WITH RECURSIVE e0 AS (SELECT src, dst FROM '{REPOS_EDGES_PATH}/*.parquet'),
sym AS (SELECT src, dst FROM e0 UNION SELECT dst AS src, src AS dst FROM e0),
v AS (SELECT DISTINCT src AS vid FROM sym),
reach(vid, r) AS (
  SELECT vid, vid FROM v
  UNION
  SELECT s.dst, reach.r FROM reach JOIN sym s ON s.src = reach.vid
)
SELECT vid, min(r) AS label FROM reach GROUP BY vid
""",
        "lsh_ann_topk": """
WITH w AS (
  SELECT t.range AS t, p.range AS p, d.range AS d,
         CAST(((1103515245*(t.range*1000003 + p.range*64 + d.range) + 12345) % 2147483647) % 2001 - 1000 AS DOUBLE) AS wt
  FROM range(2) t, range(8) p, range(64) d
),
vd AS (SELECT vec_id, CAST(u.d AS INT) AS d, CAST(embedding[u.d + 1] AS DOUBLE) AS val
       FROM embeddings, UNNEST(range(64)) AS u(d)),
dots AS (SELECT vec_id, w.t, w.p, sum(w.wt * vd.val) AS dot
         FROM vd JOIN w ON w.d = vd.d GROUP BY 1, 2, 3),
buckets AS (SELECT vec_id, t, CAST(sum(CASE WHEN dot > 0 THEN 1 << p ELSE 0 END) AS BIGINT) AS bucket
            FROM dots GROUP BY 1, 2),
qb AS (SELECT vec_id AS query_id, t, bucket FROM buckets WHERE vec_id % 50 = 0),
cand AS (SELECT DISTINCT qb.query_id, b.vec_id
         FROM qb JOIN buckets b USING (t, bucket) WHERE b.vec_id <> qb.query_id),
vn AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
scored AS (SELECT c.query_id, c.vec_id,
                  list_dot_product(q.v, v.v) / (sqrt(list_dot_product(q.v, q.v)) * sqrt(list_dot_product(v.v, v.v))) AS cos_raw
           FROM cand c JOIN vn v ON v.vec_id = c.vec_id JOIN vn q ON q.vec_id = c.query_id),
r AS (SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
             row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
      FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank FROM r WHERE rank <= 5
""",
        "ivf_topk": """
WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS vv FROM embeddings),
vn AS (SELECT vec_id, list_transform(vv, x -> x / sqrt(list_dot_product(vv, vv))) AS u FROM v),
cents AS (
  SELECT vn.vec_id AS list_id, vn.u AS c
  FROM v JOIN vn USING (vec_id)
  ORDER BY ((v.vec_id * 1103515245 + 12345) % 2147483647) % 997, v.vec_id
  LIMIT 16
),
asg AS (
  SELECT vec_id, list_id, u,
         row_number() OVER (
           PARTITION BY vec_id
           ORDER BY list_dot_product(u, c) DESC, list_id ASC) AS rn
  FROM vn CROSS JOIN cents
),
assigned AS (SELECT vec_id, list_id, u FROM asg WHERE rn = 1),
q AS (SELECT vec_id AS query_id, u AS qu FROM vn WHERE vec_id % 50 = 0),
probes AS (
  SELECT query_id, list_id, qu,
         row_number() OVER (
           PARTITION BY query_id
           ORDER BY list_dot_product(qu, c) DESC, list_id ASC) AS rn
  FROM q CROSS JOIN cents
),
pr AS (SELECT query_id, list_id, qu FROM probes WHERE rn <= 4),
scored AS (
  SELECT pr.query_id, a.vec_id, list_dot_product(pr.qu, a.u) AS cos_raw
  FROM pr JOIN assigned a USING (list_id)
  WHERE a.vec_id <> pr.query_id
),
rk AS (SELECT query_id, vec_id, round(cos_raw, 6) AS cosine,
              row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, vec_id) AS rank
       FROM scored)
SELECT query_id, vec_id, cosine, CAST(rank AS BIGINT) AS rank FROM rk WHERE rank <= 5
""",
        "multimodal_features": """
WITH ids AS (SELECT u.i AS id FROM UNNEST(range(200)) AS u(i)),
base AS (
  SELECT id,
         CASE id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
         sha256(CAST(id AS VARCHAR)) AS hx,
         least((id * 13) % 1080 + 1, 8) AS h,
         least((id * 7) % 1920 + 1, 8) AS w,
         least(id % 300 + 1, 4) AS nf
  FROM ids
),
sz AS (
  SELECT id, kind, hx,
         CASE kind WHEN 'image' THEN h * w * 3
                   WHEN 'audio' THEN 1024
                   ELSE nf * 8 * 8 * 3 END AS total
  FROM base
),
samples AS (
  SELECT id, kind, ascii(substr(hx, CAST(u.j % 32 AS INT) + 1, 1)) AS v
  FROM sz, UNNEST(range(0, total, 16)) AS u(j)
)
SELECT id AS asset_id, kind, CAST(256 AS BIGINT) AS payload_bytes,
       CAST(sum(v) AS DOUBLE) / count(*) AS f0
FROM samples GROUP BY 1, 2
""",
        "gbad_patterns": f"""
WITH RECURSIVE {_GBAD_CTES}
SELECT CAST(matrix AS BIGINT) AS pattern, CAST(cnt AS BIGINT) AS count,
       CAST(n_edges AS BIGINT) AS n_edges, CAST(score AS BIGINT) AS score,
       CAST(rank AS BIGINT) AS rank
FROM freq
""",
        "gbad_anomalies": f"""
WITH RECURSIVE {_GBAD_CTES},
paired AS (
  SELECT c.matrix, c.cnt, f.matrix AS fmatrix, f.rank AS frank,
         bit_count(xor(c.matrix, f.matrix)) AS dist
  FROM counts c CROSS JOIN freq f
),
flags AS (
  SELECT matrix, cnt,
         max(CASE WHEN dist = 0 THEN 1 ELSE 0 END) AS is_freq,
         min(CASE WHEN dist > 0 AND dist <= 2 THEN frank END) AS best_rank
  FROM paired GROUP BY 1, 2
)
SELECT CAST(fl.matrix AS BIGINT) AS pattern, CAST(fl.cnt AS BIGINT) AS count,
       CAST(f.matrix AS BIGINT) AS nearest_frequent,
       CAST(bit_count(xor(fl.matrix, f.matrix)) AS BIGINT) AS dist
FROM flags fl JOIN freq f ON f.rank = fl.best_rank
WHERE fl.is_freq = 0 AND fl.best_rank IS NOT NULL
""",
        "sir_trace": _sir_sql(),
        "pas_agents": _pas_sql("agents"),
        "pas_patches": _pas_sql("patches"),
        "nbody_trace": _nbody_sql(),
        "sessionize": """
WITH o AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
  FROM events
)
SELECT user_id,
       CAST(sum(CASE WHEN gap IS NULL OR gap > 1800 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
       count(*) AS n_events
FROM o GROUP BY 1
""",
    }
