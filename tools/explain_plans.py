"""Dump .explain('formatted') plans for the engine's core operators and
grep them for the scale-critical properties:

- parquet scans show PushedFilters / pruned ReadSchema,
- small dimension sides broadcast (BroadcastHashJoin),
- aggregations are partial+final (HashAggregate x2),
- iterative joins reuse the pre-shuffled edge partitioning
  (no extra Exchange on the persisted side),
- whole-stage codegen covers the hot expressions.

Usage: python tools/explain_plans.py [out_md]
"""

from __future__ import annotations

import io
import sys
from contextlib import redirect_stdout

sys.path.insert(0, ".")


def plan_of(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    out_path = sys.argv[1] if len(sys.argv) > 1 else None
    from pyspark.sql import functions as F

    from hoover_spark.operators.dedup import minhash_signatures
    from hoover_spark.operators.graph import Graph
    from hoover_spark.operators.similarity import cosine_topk
    from hoover_spark.operators.triangles import oriented_edges
    from hoover_spark.session import get_spark
    from hoover_spark.sources.repos import ref_edges, repos_table

    spark = get_spark("explain")
    sf = "/root/testdata/sf0.01"

    sections: list[tuple[str, str]] = []

    # 1. edge extraction: regexp scan → dictionary join
    repos = repos_table(spark, 20_000)
    sections.append(("edge_extraction (ref_edges)", plan_of(ref_edges(repos))))

    # persisted edges and their vertices, read by the graph sections below
    edges = ref_edges(repos).repartition(16, "src").persist()
    edges.count()
    verts = Graph(edges).vertices()

    # 2. filter/projection pushdown on a parquet scan
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    pushed = docs.where(F.col("lang") == "en").select("doc_id", "n_chars")
    sections.append(("parquet pushdown (filter+prune)", plan_of(pushed)))

    # 3. triangle orientation (degree join) + wedge join
    g = Graph(edges)
    sections.append(("oriented_edges (degree rank)", plan_of(oriented_edges(g))))

    # 4. minhash signatures — r4 fused Arrow kernel: ONE MapInPandas
    # over the pruned (id, text) scan, zero exchanges (the shingle
    # rows never exist JVM-side; minima are segmented numpy reductions
    # inside the kernel)
    sections.append(("minhash_signatures", plan_of(minhash_signatures(docs, "doc_id", "text"))))

    # 5. cosine top-k (broadcast of the query side)
    emb = spark.read.parquet(f"{sf}/embeddings.parquet")
    queries = emb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )
    sections.append(("cosine_topk (broadcast queries)", plan_of(cosine_topk(emb, queries))))

    # 6. GCN neighborhood aggregation — must NOT materialize whole
    # neighborhoods per row (no ObjectHashAggregate/collect_list in the
    # message-sum path; posexplode → partial/final SUM per (vid, pos))
    from hoover_spark.operators.gcn import aggregate_features

    feats = verts.select(
        "vid", F.array(*[(F.col("vid") * (j + 1) % 97).cast("double") for j in range(4)]).alias("h")
    )
    sections.append(("gcn_aggregate (posexplode partial/final sum)", plan_of(aggregate_features(g, feats))))

    # 7. IVF list assignment — argmax-sim via max_by partial/final agg
    # (no row_number window over |corpus| x n_lists rows)
    from hoover_spark.operators.similarity import ivf_topk

    sections.append(("ivf_topk (max_by assignment, broadcast centroids)", plan_of(ivf_topk(emb, queries))))

    # 8. corpus_curate decision join — per-row feature projections share
    # one pruned documents scan; only light id-keyed columns shuffle
    # (the WCC clustering inside runs eagerly and lands as a
    # checkpointed labels table in this plan)
    from hoover_spark.operators.curation import curate_corpus

    sections.append(("corpus_curate (decision join over id-keyed features)", plan_of(curate_corpus(docs))))

    # 9. pas per-timestep plans — the two cross-graph couplings: the
    # agent census groupBy (agents→patches) and the λ_h join
    # (patches→agents); state inputs are localCheckpointed like inside
    # pas_simulate, so these are exactly the per-step runtime plans
    from hoover_spark.operators import pas as paso

    cust = spark.read.parquet(f"{sf}/customer.parquet")
    agents = cust.select(
        F.col("c_custkey").alias("agent_id"),
        F.pmod(F.col("c_custkey") * 13 + 5, F.lit(64)).alias("home_patch"),
    ).select(
        "agent_id", "home_patch",
        F.col("home_patch").alias("patch"),
        F.pmod(F.col("agent_id"), F.lit(4)).cast("long").alias("act"),
        F.lit(0.0).alias("stay"),
        F.lit(0.0).alias("health"),
    ).localCheckpoint()
    patches = paso.initial_patches(spark, 8).localCheckpoint()
    sections.append(
        ("pas_patch_step (agent census groupBy + RK4 + lambda_h)",
         plan_of(paso.patch_step(patches, agents, 2)))
    )
    sections.append(
        ("pas_agent_step (lambda_h join + shared transition exprs)",
         plan_of(paso.agent_step(agents, patches, 1, 8)))
    )

    # 10. nbody per-timestep plan — grid-pruned 3x3 cell join + sorted
    # force fold (no all-pairs, no UDF)
    from hoover_spark.operators import nbody as nb

    sup = spark.read.parquet(f"{sf}/supplier.parquet")
    st0 = sup.select(
        F.col("s_suppkey").alias("pid"),
        (F.pmod(F.col("s_suppkey") * 37 + 11, F.lit(9973)) / 9973.0 * 100.0)
        .cast("double").alias("x"),
        (F.pmod(F.col("s_suppkey") * 53 + 29, F.lit(9973)) / 9973.0 * 100.0)
        .cast("double").alias("y"),
    ).select(
        "pid", "x", "y",
        F.lit(0.0).alias("vx"), F.lit(0.0).alias("vy"),
        F.col("x").alias("ppx"), F.col("y").alias("ppy"),
    ).localCheckpoint()
    sections.append(
        ("nbody_step (grid-pruned cell join + sorted force fold)",
         plan_of(nb.nbody_step(st0)))
    )

    # 11. wcc's driver finish: the distinct label pairs of the next
    # round's messages after round 1 (frontier ⋈ sym edges ⋈ state,
    # small enough to collect)
    from hoover_spark.operators.wcc import finish_pairs, hash_min_rounds
    from hoover_spark.plans.iteration import IterationLoop

    sym = Graph(edges).sym_edge_views()
    round1, _, _ = hash_min_rounds(
        sym, verts.select("vid", F.col("vid").alias("label")),
        IterationLoop(spark, kernel="wcc"), 16, rounds=1,
    )
    sections.append(
        ("wcc_finish_pairs (round-1 frontier messages → label pairs)",
         plan_of(finish_pairs(sym, round1)))
    )

    # 12. r5 link kernels — one representative round each. kcore/ktruss
    # peel rounds and the hits/personalized-pagerank iterations must
    # stay one-shuffle-per-gather shapes over the persisted edge side
    # (no Exchange on the cached big side; per-vertex sides
    # broadcastable by AQE).
    from hoover_spark.functions.text import tf_idf_top_terms
    from hoover_spark.operators.hits import hits
    from hoover_spark.operators.kcore import kcore
    from hoover_spark.operators.pagerank import pagerank
    from hoover_spark.operators.triangles import edge_support

    sections.append(("hits (2 iterations, L2 norm in-plan)", plan_of(hits(g, n_iterations=2))))
    sections.append(("kcore k=3 (result after peel fixpoint)", plan_of(kcore(g, k=3))))
    sections.append(
        ("ktruss support round (oriented wedge + 3-edge explode)",
         plan_of(edge_support(g.canonical())))
    )
    seeds = verts.where(F.col("vid") % 11 == 0)
    sections.append(
        ("pagerank with seeds (1 iteration, seed-biased restart + dangling)",
         plan_of(pagerank(g, seeds=seeds, n_iterations=1)))
    )
    sections.append(
        ("tfidf_top_terms (explode + two-level agg + window)",
         plan_of(tf_idf_top_terms(docs, "doc_id", "text")))
    )

    # 13. r5 graph/corpus metrics — clustering coefficient must reuse
    # the triangle wedge-join shape plus ONE O(|V|) join; assortativity
    # is one pass over the edges (two degree joins + a single global
    # agg with map-side partials — no window, no iteration);
    # dup_shingle_stats is the fused shingle kernel + three bucketed
    # hash aggs (code/id keyed), no Python after the kernel.
    from hoover_spark.operators.dedup import dup_shingle_stats
    from hoover_spark.operators.graph import degree_assortativity
    from hoover_spark.operators.triangles import clustering_coefficient

    sections.append(
        ("clustering_coefficient (wedge join + one O(|V|) join)",
         plan_of(clustering_coefficient(g)))
    )
    sections.append(
        ("degree_assortativity (two degree joins + global moment agg)",
         plan_of(degree_assortativity(g)))
    )
    sections.append(
        ("dup_shingle_stats (fused shingle kernel + bucketed aggs)",
         plan_of(dup_shingle_stats(docs, "doc_id", "text", k=9)))
    )

    # 14. r5b path/link-prediction + corpus-gate ops — BFS rounds must
    # touch only frontier-adjacent edges (join frontier→sym, anti-join
    # visited); link_predict is ONE wedge self-join + agg + anti-join;
    # decontaminate's benchmark side must broadcast so the corpus pass
    # has no shuffle; pii/segment metrics are map-only codegen scans.
    from hoover_spark.functions.text import pii_stats, segment_repetition
    from hoover_spark.operators.dedup import decontaminate
    from hoover_spark.operators.graph import degree_histogram, reciprocity
    from hoover_spark.operators.paths import link_predict

    frontier = verts.where(F.col("vid") % 97 == 0)
    one_round = (
        g.sym_edges()
        .join(frontier.select(F.col("vid").alias("src")), on="src")
        .select(F.col("dst").alias("vid"))
        .distinct()
        .join(frontier.select("vid"), on="vid", how="left_anti")
    )
    sections.append(("bfs round (frontier join + anti-join visited)", plan_of(one_round)))
    sections.append(
        ("link_predict (wedge self-join + RA agg + anti-join edges)",
         plan_of(link_predict(g, min_common=2)))
    )
    sections.append(("reciprocity (reversed-key self-join, one job)", plan_of(reciprocity(g))))
    sections.append(("degree_histogram (degree agg + bucket agg)", plan_of(degree_histogram(g))))
    bench_docs = docs.where(F.col("doc_id") % 37 == 0)
    train_docs = docs.where(F.col("doc_id") % 37 != 0)
    sections.append(
        ("decontaminate (broadcast benchmark code set)",
         plan_of(decontaminate(train_docs, bench_docs, "doc_id", "text", k=12)))
    )
    sections.append(("pii_stats (map-only regex scan)", plan_of(pii_stats(docs, "doc_id", "text"))))
    sections.append(
        ("segment_repetition (map-only array exprs)",
         plan_of(segment_repetition(docs, "doc_id", "text")))
    )

    # 15. r5c path/centrality wave — walks: each step must be a
    # frontier-sized probe of the indexed adjacency (never O(|E|));
    # betweenness forward round: one edge join + (s,vid) agg;
    # harmonic/anf: the pair materialization is the documented small-h
    # form (hyperball is the sketch path); modularity: two label joins
    # + global agg; snapshot_diff: ONE full-outer join.
    from hoover_spark.operators.communities import modularity
    from hoover_spark.operators.paths import (
        harmonic_centrality_2hop,
        hyperball,
        neighborhood_function,
        random_walks,
        snapshot_diff,
    )

    starts = verts.where(F.col("vid") % 29 == 0)
    sections.append(
        ("random_walks (frontier probe joins per step)",
         plan_of(random_walks(g, starts, walk_length=2)))
    )
    sections.append(
        ("neighborhood_function h=2 (exact pair set, small-h form)",
         plan_of(neighborhood_function(g, 2)))
    )
    sections.append(
        ("hyperball h=1 (estimate over the held hll_union_agg sketches — the at-scale ANF)",
         plan_of(hyperball(g, 1)))
    )
    sections.append(
        ("modularity (two label joins + exact moment agg)",
         plan_of(modularity(g, verts.select("vid", F.pmod(F.col("vid"), F.lit(5)).alias("label")))))
    )
    sections.append(
        ("harmonic_centrality_2hop (1-hop agg + strict 2-hop anti-join)",
         plan_of(harmonic_centrality_2hop(g)))
    )
    sections.append(
        ("snapshot_diff (single full-outer join)",
         plan_of(snapshot_diff(edges.limit(100000), edges)))
    )

    # 16. r5d directed kernels — an sssp round joins only the improved
    # frontier against the persisted edge table, then min-combines.
    from hoover_spark.operators.paths import sssp

    sections.append(
        ("sssp (frontier relax rounds, min-combine)",
         plan_of(sssp(g, verts.where(F.col("vid") % 500 == 0), max_rounds=2)))
    )

    # 17. r5e independence kernels — a mis/coloring round is two
    # frontier joins against the persisted symmetric table + one
    # struct-min groupBy; matching's round is an endpoint-exploded
    # struct-min agg joined back twice; jaccard is the oriented
    # k-truss support join + two degree joins.
    from hoover_spark.operators.matching import luby_matching
    from hoover_spark.operators.mis import greedy_coloring, luby_mis
    from hoover_spark.operators.triangles import edge_jaccard

    sections.append(
        ("luby_mis (2 rounds: frontier x sym struct-min)",
         plan_of(luby_mis(g, max_rounds=2)))
    )
    sections.append(
        ("luby_matching (2 rounds: endpoint-exploded struct-min)",
         plan_of(luby_matching(g, max_rounds=2)))
    )
    sections.append(
        ("greedy_coloring (2 rounds: local-min peel)",
         plan_of(greedy_coloring(g, max_rounds=2)))
    )
    sections.append(
        ("edge_jaccard (oriented support + degree joins)",
         plan_of(edge_jaccard(g)))
    )

    # 18. r5f clustering/community wave — kmeans assignment must be a
    # map-only broadcast nested loop over k centroids (no shuffle of
    # the vector side); its update combines posexplode rows map-side
    # (HashAggregate x2 on (cluster, pos)); semantic_dedup's pair join
    # keys on the cluster id (equi-join, AQE-splittable), never
    # all-pairs; a louvain move round is three label/degree joins + an
    # argmax groupBy; degree_quantiles is one global percentile agg
    # with partials. Louvain's and k-means' rounds run on
    # IterationLoop.run, so their dumps show the plan over the held
    # round state.
    from hoover_spark.operators.clustering import kmeans_assign, semantic_dedup_pairs
    from hoover_spark.operators.communities import louvain_levels, louvain_move
    from hoover_spark.operators.graph import degree_quantiles

    sections.append(
        ("kmeans_assign (broadcast centroids, map-only scoring)",
         plan_of(kmeans_assign(emb, k=4, assign_rounds=2)))
    )
    sections.append(
        ("semantic_dedup (cluster-bucketed pair join)",
         plan_of(semantic_dedup_pairs(emb, k=4, assign_rounds=2, tau=0.3)))
    )
    sections.append(
        ("louvain_move (held label state after 1 round)",
         plan_of(louvain_move(g, n_rounds=1)))
    )
    sections.append(
        ("louvain_levels (2 weighted levels + contraction, held per level)",
         plan_of(louvain_levels(g, n_levels=2, n_rounds=1)))
    )
    sections.append(
        ("degree_quantiles (single percentile agg)",
         plan_of(degree_quantiles(g)))
    )

    # 19. r5g centrality/rarity/co-occurrence — katz & weighted
    # pagerank rounds must match the pagerank shape (one src join, one
    # dst-keyed partial/final sum, left join back; weight normalization
    # folded into the edge side ONCE); token_rarity is explode →
    # freq groupBy → tok equi-join → id groupBy (all hash aggregates);
    # cooccurrence pairs join on the BASKET key (bounded by basket
    # size, not item popularity). Katz and weighted pagerank run their
    # rounds on IterationLoop.run, so their dumps show the held state.
    from hoover_spark.functions.text import token_rarity
    from hoover_spark.operators.centrality import katz, weighted_pagerank
    from hoover_spark.operators.cooccur import cooccurrence_lift

    sections.append(
        ("katz (held state after 1 round)",
         plan_of(katz(g, n_iterations=1)))
    )
    sections.append(
        ("weighted_pagerank (held state after 1 round)",
         plan_of(weighted_pagerank(g, F.pmod(F.col("dst"), F.lit(5)) + 1, n_iterations=1)))
    )
    sections.append(
        ("token_rarity (freq groupBy + tok join + id groupBy)",
         plan_of(token_rarity(docs, "doc_id", "text")))
    )
    li = spark.read.parquet(f"{sf}/lineitem.parquet")
    sections.append(
        ("cooccurrence_lift (basket-keyed pair join)",
         plan_of(cooccurrence_lift(li, "l_orderkey", "l_partkey", min_pairs=2)))
    )

    report = []
    for title, plan in sections:
        checks = {
            "BroadcastHashJoin": "BroadcastHashJoin" in plan,
            # formatted mode marks codegen'd operators with `[codegen id : N]`
            "codegen_ops": plan.count("[codegen id"),
            "PushedFilters": "PushedFilters: [" in plan,
            "partial+final agg": plan.count("HashAggregate") >= 2,
            "uses_cached_edges": "InMemoryTableScan" in plan,
            # final-plan exchanges only (the dump repeats Initial Plan trees)
            "exchanges": plan.count("Exchange"),
        }
        report.append((title, checks, plan))
        print(f"\n===== {title} =====")
        print({k: v for k, v in checks.items()})

    if out_path:
        with open(out_path, "w") as f:
            f.write("# Physical plans of core operators (`.explain('formatted')`)\n\n")
            f.write(
                "Generated by `tools/explain_plans.py` on sf0.01-scale inputs.\n"
                "Reviewed properties per plan are listed above each dump.\n\n"
                "Review notes (what the checks mean / artifacts to ignore):\n\n"
                "- `codegen_ops = 0` on a not-yet-executed `AdaptiveSparkPlan` is an\n"
                "  explain artifact — AQE prints `[codegen id]` only for materialized\n"
                "  query stages. Plans over cached inputs (oriented_edges) show\n"
                "  the real codegen spans.\n"
                "- `exchanges` counts every `Exchange` *string* in the dump, which\n"
                "  includes the repeated `== Initial Plan ==` trees and the cached\n"
                "  relation's stored build plan. The runtime structure is what\n"
                "  matters. The round plans of pagerank, wcc and mode-LP are\n"
                "  pinned by `tests/test_iteration.py` and reported per round by\n"
                "  `tools/round_table.py`, not dumped here.\n"
                "- cosine_topk uses a keyless (cartesian) join by construction, so\n"
                "  the broadcast shows up as BroadcastNestedLoopJoin, not BHJ.\n"
                "- edge_extraction reads `spark.range` (generated source), hence no\n"
                "  PushedFilters; the dictionary side is broadcast as intended.\n"
                "- gcn_aggregate: the message sum is posexplode → partial/final\n"
                "  `HashAggregate(sum)` per (vid, pos) — a 10^6-degree hub shuffles\n"
                "  at most n_map_partitions × dim partial rows. The ONE remaining\n"
                "  `collect_list` (ObjectHashAggregate 121/123) is the array\n"
                "  *reassembly* after that sum: it aggregates exactly `dim` rows per\n"
                "  vertex (one per array position, already reduced), bounded by the\n"
                "  feature dimension — never by neighborhood size.\n"
                "- ivf_topk: list assignment is `partial_max_by(struct(list_id, v),\n"
                "  struct(sim, -list_id))` — one partial+final agg over the corpus,\n"
                "  no row_number window over |corpus| × n_lists rows; centroids\n"
                "  broadcast.\n"
                "- pas_patch_step (per-timestep): the agent census is a partial\n"
                "  HashAggregate → ONE tiny Exchange (≤ n_patches rows) → final\n"
                "  HashAggregate, then **Broadcast**HashJoin LeftOuter onto the\n"
                "  patch state — patches NEVER shuffle and the RK4 substeps are a\n"
                "  pure Project chain (scalar exprs, no Python). Per step the only\n"
                "  data moved is the census, O(n_patches) ≪ O(n_agents).\n"
                "- pas_agent_step: a single BroadcastHashJoin (the per-patch λ_h\n"
                "  table broadcasts — it is n_patches rows) + a Project chain for\n"
                "  the transition/movement exprs. ZERO shuffles of the agent graph\n"
                "  per timestep; at cluster scale the agent state stays put and\n"
                "  only the tiny patch table moves.\n"
                "- nbody_step: the interaction join is grid-pruned (Generate =\n"
                "  the 3×3 cell explode, then an equi-join on (gx, gy) — never\n"
                "  all-pairs); the force fold is partial+final ObjectHashAggregate\n"
                "  over per-pid neighbor structs, bounded by the interaction\n"
                "  radius, sorted before summation for order-determinism (no\n"
                "  UDF). At this fixture size AQE broadcasts the cell-expanded\n"
                "  side (BroadcastHashJoin); at scale it degrades gracefully to a\n"
                "  shuffle on the cell key — the pruning, not the join strategy,\n"
                "  is what bounds the pair count.\n"
                "- minhash_signatures: a single MapInPandas over the pruned\n"
                "  (id, text) parquet scan with ZERO exchanges — the fused Arrow\n"
                "  kernel computes shingles and all n minima in numpy, so no\n"
                "  per-shingle rows exist JVM-side and nothing shuffles; output\n"
                "  is one row per document.\n"
                "- wcc_seed: the 3-level iterated star contraction is one lazy\n"
                "  tree — per level an ArrowEvalPython (the vectorized union-find\n"
                "  mapInPandas over pre-partitioned edge blocks; zero per-row\n"
                "  Python), a distinct, a groupBy(vid).min, and the compose join;\n"
                "  the persisted sym-edge side is read once with NO extra\n"
                "  Exchange. The whole pyramid executes inside hash-min round 1's\n"
                "  single job; levels shuffle O(|V|) mapping rows, never edges.\n"
                "- hits: each half-step is InMemoryTableScan(edges) → join with\n"
                "  the per-vertex score side → partial/final HashAggregate — the\n"
                "  pagerank shape; the L2 norm is a 1-row aggregate crossJoined\n"
                "  back (BroadcastNestedLoopJoin of one row), never collected.\n"
                "- kcore / pagerank with seeds: the dumped result plans collapse\n"
                "  to a scan of the last round's localCheckpointed RDD (exchanges:\n"
                "  0 is the artifact of dumping AFTER the rounds); per round the\n"
                "  alive/state side joins the persisted edge side, one Exchange\n"
                "  per gather.\n"
                "- ktruss support round: degree rank join → oriented wedge\n"
                "  self-join → closing left_semi → 3-way corner union →\n"
                "  partial/final count per canonical edge. The high `exchanges`\n"
                "  string count is the Initial-Plan duplication artifact; at\n"
                "  runtime each round runs over the previous round's\n"
                "  localCheckpointed alive set, so lineage never compounds.\n"
                "- tfidf_top_terms: tokenize+explode is map-side (Generate\n"
                "  inside codegen); tf is one partial/final HashAggregate on\n"
                "  (id, term); idf re-aggregates the tf side by term (already\n"
                "  distinct per (id,term) — no countDistinct expand); the idf\n"
                "  join broadcasts the vocabulary at this scale; top-k is one\n"
                "  window over id.\n"
            )
            for title, checks, plan in report:
                f.write(f"\n## {title}\n\nchecks: `{checks}`\n\n```\n{plan}\n```\n")
        print(f"\nwrote {out_path}")


if __name__ == "__main__":
    main()
