"""Benchmark harness (driver contract).

Runs the engine's headline operators at ``$SPARK_GRAFT_SF_DIR``
(default /root/testdata/sf0.1) on ``local[$SPARK_GRAFT_CPUS]`` and
prints ONE JSON line:

    {"metric": "total_wall", "value": N, "unit": "sec",
     "queries": {...}, "sf": ..., "pagerank_edges_per_sec": ...}

North-rule headline: PageRank edges/sec to 1e-6 convergence + WCC
wall-time on the repo-reference edge table (synthesized at a row count
scaled to the sf dir), plus the corpus-pipeline operators (MinHash LSH
dedup, cosine top-k) on the driver's documents/embeddings tables.

Noise defense (round-2 lesson): this sandbox's hypervisor exhibits
intermittent CPU steal — byte-identical runs measured 2-8x apart, and
the round-2 single-shot artifact printed 91.7 s for code whose stable
wall is ~61 s. So the bench runs every query as INTERLEAVED repetitions
inside one JVM — cycles of (edge_extract, pagerank, wcc, ...) repeated
``1 warm + 5 timed`` times (override via $SPARK_GRAFT_BENCH_WARM /
$SPARK_GRAFT_BENCH_REPS) — and reports the per-query MEDIAN. The warm
cycle also absorbs the C2 JIT compilation storm. Interleaving means a
steal window hits one cycle of every query rather than every rep of one
query, so the median stays representative. Raw walls are emitted
alongside the medians for transparency.

Self-annotation (round-3 lesson — the official artifact must be able to
distinguish "code got slower" from "window was stolen" about ITSELF):

- every rep carries telemetry sampled around it by
  ``perfbench.host.HostNoise``: the guest-visible hypervisor steal%%
  from ``/proc/stat`` (cpu line, field 8) and a single-thread sha256
  throughput probe (~0.1 s) before and after the rep. The probe is the
  stronger signal on this sandbox: round-2 measurements showed
  contention storms slowing queries 5-20x while guest steal stayed
  under 9%% — a slowed probe catches what the steal counter misses.
- per-query MIN is reported alongside the median: interference only
  ever ADDS time, so the min is the honest lower bound the median can
  be checked against. median ≫ min with depressed probes ⇒ stolen
  window, not a regression.

Artifact interface (round-4 lesson — the driver captures a bounded
stdout TAIL, and round 4's single line carrying 30 per-rep telemetry
dicts outgrew it, so the official record got ``"parsed": null``): the
printed line is now COMPACT — medians, mins, totals, extras, plus a
per-query max-steal%% / min-probe summary so the line stays
self-defending — and it is the FINAL stdout line. The full
``raw_walls`` and ``rep_telemetry`` go to a sidecar file
(``bench_telemetry.json`` next to this script, path echoed in the
printed line) written BEFORE the headline prints.

``value`` = sum of per-query medians. Each edge_extract rep rebuilds
the Graph from the regexp scan (the cost r1/r2 charged it); the last
rep's persisted edge views are what the kernel queries iterate on —
the steady-state regime a long-lived cluster job lives in.
"""

from __future__ import annotations

import json
import os
import statistics
import time

from pyspark.sql import functions as F

from perfbench.host import HostNoise


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    n_warm = int(os.environ.get("SPARK_GRAFT_BENCH_WARM", "1"))
    n_timed = int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "5"))

    from hoover_spark.operators.dedup import minhash_lsh_pairs
    from hoover_spark.operators.graph import Graph
    from hoover_spark.operators.pagerank import pagerank
    from hoover_spark.operators.similarity import cosine_topk
    from hoover_spark.operators.triangles import triangle_count
    from hoover_spark.operators.wcc import wcc
    from hoover_spark.plans.iteration import IterationLoop
    from hoover_spark.sources.repos import ref_edges, repos_table
    from hoover_spark.session import get_spark

    spark = get_spark("hoover_spark_bench", cores=cpus)

    # size the synthetic repos corpus off the sf dir (≈20 files/customer)
    n_customers = spark.read.parquet(f"{sf_dir}/customer.parquet").count()
    n_repo_rows = max(n_customers * 20, 2000)
    sf = {150: 0.001, 1500: 0.01, 15000: 0.1}.get(n_customers, n_customers / 150_000)

    repos = repos_table(spark, n_repo_rows).persist()
    repos.count()
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").persist()
    docs.count()
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet").persist()
    emb.count()
    emb_queries = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("query_id"), "embedding"
    )

    state: dict = {}
    extras: dict = {"n_repo_rows": n_repo_rows}

    def q_edge_extract():
        # full derivation: regexp reference scan + dedup/symmetrize
        # shuffles + persist (same charge as rounds 1-2); the fresh
        # graph replaces the previous rep's persisted views
        if "graph" in state:
            state["graph"].unpersist()
        g = Graph(ref_edges(repos), num_partitions=max(2 * cpus, 16))
        extras["n_edges"] = g.clean_edges().count()
        g.sym_edges().count()
        state["graph"] = g

    def q_pagerank():
        # one Spark job per iteration; chaining several iterations per
        # job measured slower at this scale (BENCH.md r5)
        loop = IterationLoop(spark, kernel="pagerank", max_iterations=200)
        pagerank(state["graph"], tol=1e-6, loop=loop).count()
        extras["pagerank_iters"] = len(loop.metrics)

    def q_wcc():
        # hash-min rounds until the next round's messages fit on the
        # driver, then one driver union-find round. On
        # repos_table(300000) (901,550 symmetric edges, 16 partitions,
        # local[4]): round 1 + finish over 273,766 label pairs, 4.6 s
        # median, vs 17.4 s / 21 rounds without the finish and 15.4 s /
        # 5 rounds seeded by a 3-level star contraction.
        loop = IterationLoop(spark, kernel="wcc", max_iterations=100)
        wcc(state["graph"], loop=loop).count()
        extras["wcc_iters"] = len(loop.metrics)

    def q_triangles():
        extras["n_triangles"] = triangle_count(state["graph"])

    def q_minhash_lsh():
        extras["lsh_pairs"] = minhash_lsh_pairs(docs, "doc_id", "text").count()

    def q_cosine_topk():
        cosine_topk(emb, emb_queries, k=10).count()

    queries = [
        ("edge_extract", q_edge_extract),
        ("pagerank", q_pagerank),
        ("wcc", q_wcc),
        ("triangles", q_triangles),
        ("minhash_lsh", q_minhash_lsh),
        ("cosine_topk", q_cosine_topk),
    ]

    walls: dict[str, list[float]] = {name: [] for name, _ in queries}
    telemetry: dict[str, list[dict]] = {name: [] for name, _ in queries}
    for cycle in range(n_warm + n_timed):
        for name, fn in queries:
            noise = HostNoise()
            t0 = time.perf_counter()
            fn()
            wall = round(time.perf_counter() - t0, 3)
            host = noise.finish()
            if cycle >= n_warm:
                walls[name].append(wall)
                telemetry[name].append({"wall": wall, **host})

    medians = {name: round(statistics.median(w), 3) for name, w in walls.items()}
    mins = {name: round(min(w), 3) for name, w in walls.items()}
    total = round(sum(medians.values()), 3)
    total_min = round(sum(mins.values()), 3)
    extras["pagerank_edges_per_sec"] = round(
        extras["pagerank_iters"] * extras["n_edges"] / medians["pagerank"], 1
    )

    repos.unpersist()
    docs.unpersist()
    emb.unpersist()
    state["graph"].unpersist()

    # Compact self-defense summary: worst steal% and slowest probe seen
    # around any timed rep of each query. A query whose median exceeds
    # its min with high max_steal / low min_probe was hit by a stolen
    # window, not a code regression — readable from the headline alone.
    steal_summary = {
        name: {
            "max_steal_pct": max((t["steal_pct"] for t in reps), default=0.0),
            "min_probe_mb_s": min(
                (min(t["probe_mb_s_before"], t["probe_mb_s_after"]) for t in reps),
                default=0.0,
            ),
        }
        for name, reps in telemetry.items()
    }

    # Full per-rep telemetry goes to a sidecar (round-4 lesson: it must
    # NOT ride the printed line — the driver's stdout tail capture is
    # bounded and the headline has to be the final, parseable line).
    sidecar = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "bench_telemetry.json")
    try:
        with open(sidecar, "w") as f:
            json.dump({"raw_walls": walls, "rep_telemetry": telemetry}, f)
    except OSError:
        sidecar = None

    print(
        json.dumps(
            {
                "metric": "total_wall",
                "value": total,
                "unit": "sec",
                "queries": medians,
                "queries_min": mins,
                "total_min": total_min,
                "sf": sf,
                "cpus": cpus,
                "warm_cycles": n_warm,
                "timed_cycles": n_timed,
                "steal_summary": steal_summary,
                "telemetry_sidecar": sidecar,
                **extras,
            }
        )
    )


if __name__ == "__main__":
    main()
