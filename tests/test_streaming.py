"""Streaming micro-batch ingestion: batch-vs-incremental equivalence.

Reference analogue: the same edge stream fed through start_time_step
micro-batches must converge to the same state as a one-shot run
(trace-diff methodology, tools/compare_traces.py)."""

import json
import math
import os

from hoover_spark.operators.graph import Graph
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.operators.wcc import wcc
from hoover_spark.sources.synthetic import rmat_graph
from hoover_spark.streaming.ingest import run_stream


def _write_drops(spark, g: Graph, drops_dir: str, k: int):
    """Split a graph's edges deterministically into k ordered drops."""
    from pyspark.sql import functions as F

    e = g.clean_edges().withColumn("b", F.pmod(F.xxhash64("src", "dst"), F.lit(k)))
    for b in range(k):
        e.where(F.col("b") == b).select("src", "dst").coalesce(1).write.parquet(
            os.path.join(drops_dir, f"drop_{b:03d}")
        )
    # parquet readStream wants a flat dir of files: move files up
    import glob
    import shutil

    for b in range(k):
        d = os.path.join(drops_dir, f"drop_{b:03d}")
        for i, f in enumerate(sorted(glob.glob(os.path.join(d, "*.parquet")))):
            shutil.move(f, os.path.join(drops_dir, f"batch_{b:03d}_{i}.parquet"))
        shutil.rmtree(d)


def test_wcc_stream_equals_batch(spark, tmp_path):
    g = rmat_graph(spark, scale=7, edge_factor=4)
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    _write_drops(spark, g, drops, k=4)

    state = run_stream(
        spark, drops, str(tmp_path / "work"), kernel="wcc", num_partitions=8
    )
    got = {r["vid"]: r["label"] for r in state.state().collect()}
    want = {r["vid"]: r["label"] for r in wcc(g).collect()}
    assert got == want
    assert state.batches_applied == 4


def test_duplicate_batches_idempotent(spark, tmp_path):
    """Re-delivering the same edges must not change state (at-least-once
    safety)."""
    import shutil

    g = rmat_graph(spark, scale=6, edge_factor=4)
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    _write_drops(spark, g, drops, k=2)
    # duplicate every file
    for f in list(os.listdir(drops)):
        shutil.copy(os.path.join(drops, f), os.path.join(drops, "dup_" + f))

    state = run_stream(
        spark, drops, str(tmp_path / "work"), kernel="wcc", num_partitions=8
    )
    got = {r["vid"]: r["label"] for r in state.state().collect()}
    want = {r["vid"]: r["label"] for r in wcc(g).collect()}
    assert got == want
    # durable edge store holds each edge exactly once
    n_store = spark.read.parquet(os.path.join(str(tmp_path / "work"), "edges")).count()
    assert n_store == g.clean_edges().count()


def test_pagerank_stream_equals_batch(spark, tmp_path):
    g = rmat_graph(spark, scale=6, edge_factor=4)
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    _write_drops(spark, g, drops, k=3)

    state = run_stream(
        spark,
        drops,
        str(tmp_path / "work"),
        kernel="pagerank",
        num_partitions=8,
        kernel_kwargs={"tol": 1e-9},
    )
    got = {r["vid"]: r["rank"] for r in state.state().collect()}
    want = {r["vid"]: r["rank"] for r in pagerank(g, tol=1e-9).collect()}
    assert got.keys() == want.keys()
    for v in got:
        assert math.isclose(got[v], want[v], abs_tol=1e-6)


def test_stream_resume_after_restart(spark, tmp_path):
    """Stop after the first drop, then deliver the rest with a fresh
    run_stream over the same work dir — must reach the batch answer,
    for wcc and for pagerank."""
    g = rmat_graph(spark, scale=6, edge_factor=4)
    drops1 = str(tmp_path / "d1")
    drops2 = str(tmp_path / "d2")
    os.makedirs(drops1)
    os.makedirs(drops2)
    from pyspark.sql import functions as F

    e = g.clean_edges().withColumn("b", F.pmod(F.xxhash64("src", "dst"), F.lit(2)))
    e.where("b = 0").select("src", "dst").coalesce(1).write.parquet(drops1 + "/p")
    e.where("b = 1").select("src", "dst").coalesce(1).write.parquet(drops2 + "/p")
    import glob
    import shutil

    for d in (drops1, drops2):
        for i, f in enumerate(glob.glob(d + "/p/*.parquet")):
            shutil.move(f, os.path.join(d, f"b{i}.parquet"))
        shutil.rmtree(d + "/p")

    def resumed(kernel, **kw):
        work = str(tmp_path / f"work_{kernel}")
        run_stream(spark, drops1, work, kernel=kernel, num_partitions=8, **kw)
        # second delivery into the same store (fresh stream checkpoint dir)
        shutil.rmtree(os.path.join(work, "stream_ck"))
        return run_stream(spark, drops2, work, kernel=kernel, num_partitions=8, **kw)

    state = resumed("wcc")
    got = {r["vid"]: r["label"] for r in state.state().collect()}
    want = {r["vid"]: r["label"] for r in wcc(g).collect()}
    assert got == want

    # pagerank resumes its vertex count and rank sum from state_meta.json
    state = resumed("pagerank", kernel_kwargs={"tol": 1e-9})
    got = {r["vid"]: r["rank"] for r in state.state().collect()}
    want = {r["vid"]: r["rank"] for r in pagerank(g, tol=1e-9).collect()}
    assert got.keys() == want.keys()
    for v in got:
        assert math.isclose(got[v], want[v], abs_tol=1e-6)


def test_dedup_antijoin_is_bucket_pruned(spark, tmp_path):
    """The per-batch dedup anti-join must scan only the bucket
    directories the micro-batch's own edges hash into — NOT the whole
    accumulated store (reference analogue test/update_rates.cpp:30-55:
    16-edge micro-batches against an ever-growing edge store)."""
    from pyspark.sql import functions as F

    from hoover_spark.streaming.ingest import IncrementalGraphState

    state = IncrementalGraphState(
        spark, str(tmp_path / "work"), kernel="wcc", num_partitions=8,
        n_buckets=32,
    )
    # seed batch: spread the store across (almost) all buckets
    big = rmat_graph(spark, scale=8, edge_factor=4).clean_edges()
    state.apply_batch(big, 0)
    assert state.last_scan["bucket_dirs_total"] == 0  # store was empty

    # tiny micro-batch: 4 edges -> at most 4 bucket dirs scanned (wcc
    # builds no symmetric-view delta, so only the forward orientation's
    # buckets: exactly the ones the batch hashes into)
    small = spark.createDataFrame(
        [(1, 2), (3, 4), (5, 6), (900001, 900002)], schema="src long, dst long"
    )
    own = small.select(F.pmod(F.xxhash64("src", "dst"), F.lit(32))).distinct().count()
    state.apply_batch(small, 1)
    scan = state.last_scan
    assert scan["bucket_dirs_total"] >= 16          # store is spread out
    assert scan["buckets_in_batch"] == own          # pruned to the batch
    assert scan["bucket_dirs_scanned"] <= 4
    assert scan["bucket_dirs_scanned"] < scan["bucket_dirs_total"]

    # ...and pruned dedup is still exact: re-delivering an already-
    # stored edge adds nothing
    n_before = spark.read.parquet(str(tmp_path / "work" / "edges")).count()
    dup = big.limit(3).select("src", "dst")
    state.apply_batch(dup, 2)
    n_after = spark.read.parquet(str(tmp_path / "work" / "edges")).count()
    assert n_after == n_before


def _sssp_dists(spark, work, seed_vids):
    """Batch oracle: sssp over the full durable edge store."""
    from hoover_spark.operators.paths import sssp

    full = spark.read.parquet(os.path.join(work, "edges")).select("src", "dst")
    seeds = spark.createDataFrame([(v,) for v in seed_vids], "vid long")
    return {r["vid"]: r["dist"] for r in sssp(Graph(full, num_partitions=8), seeds).collect()}


def test_per_batch_graph_is_base_plus_delta(spark, tmp_path):
    """The r3 scale-killer: every micro-batch re-scanned + re-shuffled
    the FULL durable store to rebuild the symmetric edge view. Now the
    persisted base is built ONCE per state lifetime and each batch
    composes it with an O(|batch|) delta — evidenced by the build
    counter staying at 1 across many batches — while the converged
    state still matches a cold batch run over the full store."""
    from hoover_spark.streaming.ingest import IncrementalGraphState

    work = str(tmp_path / "work")
    big = rmat_graph(spark, scale=8, edge_factor=4).clean_edges()
    vids = sorted(r["vid"] for r in Graph(big).vertices().collect())[:12]
    seed_vids = [vids[0]]
    state = IncrementalGraphState(
        spark, work, kernel="sssp", num_partitions=8, n_buckets=32,
        kernel_kwargs={"seed_vids": seed_vids},
    )
    state.apply_batch(big, 0)
    assert state.base_builds == 1

    # chain-link micro-batches: shortcut existing vertices + new vertices
    for i in range(5):
        small = spark.createDataFrame(
            [
                (vids[2 * i], vids[2 * i + 1]),          # may shorten paths
                (vids[2 * i], 10_000_000 + i),            # brand-new vertex
            ],
            schema="src long, dst long",
        )
        state.apply_batch(small, i + 1)

    assert state.base_builds == 1        # base NEVER rebuilt per batch
    assert state.compactions == 0        # deltas stayed under threshold
    assert state.last_scan["bucket_dirs_scanned"] <= 4  # 2 edges x 2 dirs

    # correctness: incremental == cold run over the full durable store
    got = {r["vid"]: r["dist"] for r in state.state().collect()}
    assert got == _sssp_dists(spark, work, seed_vids)

    # reverse-direction delivery: (b,a) for a stored (a,b) must not
    # duplicate the symmetric view (delta_sym excludes it), and the
    # directed distances still match the batch oracle
    one = big.limit(1).collect()[0]
    rev = spark.createDataFrame(
        [(one["dst"], one["src"])], schema="src long, dst long"
    )
    before = state._delta_rows
    state.apply_batch(rev, 99)
    assert state._delta_rows == before  # sym view gained nothing
    got2 = {r["vid"]: r["dist"] for r in state.state().collect()}
    assert got2 == _sssp_dists(spark, work, seed_vids)


def test_compaction_folds_delta_into_base(spark, tmp_path, monkeypatch):
    """Once the delta outgrows the threshold, ONE amortized rebuild
    folds it into a fresh persisted base (and results stay exact)."""
    from pyspark.sql import functions as F

    from hoover_spark.streaming import ingest
    from hoover_spark.streaming.ingest import IncrementalGraphState

    monkeypatch.setattr(ingest, "COMPACT_DELTA_FRAC", 0.01)
    work = str(tmp_path / "work")
    g1 = rmat_graph(spark, scale=7, edge_factor=4).clean_edges()
    # one seed in g1 and one in the shifted g2 below, so both halves
    # of the final store carry distances
    s1 = min(r["vid"] for r in Graph(g1).vertices().collect())
    seed_vids = [s1, s1 + 50_000_000]
    state = IncrementalGraphState(
        spark, work, kernel="sssp", num_partitions=8, n_buckets=16,
        kernel_kwargs={"seed_vids": seed_vids},
    )
    state.apply_batch(g1, 0)
    assert state.base_builds == 1
    # a second large batch overflows the 1% threshold (floor 4096 rows
    # is above these sizes, so pre-floor: use enough edges) — deliver
    # a big disjoint graph shifted into a new id range
    g2 = (
        rmat_graph(spark, scale=9, edge_factor=8)
        .clean_edges()
        .select(
            (F.col("src") + 50_000_000).alias("src"),
            (F.col("dst") + 50_000_000).alias("dst"),
        )
    )
    state.apply_batch(g2, 1)
    assert state.compactions == 1
    assert state.base_builds == 2  # rebuilt once, by compaction
    assert state._delta_rows == 0  # the delta was folded into the base

    got = {r["vid"]: r["dist"] for r in state.state().collect()}
    assert got == _sssp_dists(spark, work, seed_vids)


def test_store_layout_validation(spark, tmp_path):
    """n_buckets is pinned in store_meta.json (changing it silently
    remaps bucket ids → broken dedup); a legacy flat store and a
    bucketed store without store_meta.json are rejected loudly (r3
    ADVICE medium), and so is an unknown kernel."""
    import pytest

    from hoover_spark.streaming.ingest import IncrementalGraphState

    work = str(tmp_path / "w1")
    s1 = IncrementalGraphState(spark, work, kernel="wcc", n_buckets=16)
    s1.apply_batch(
        spark.createDataFrame([(1, 2), (3, 4)], "src long, dst long"), 0
    )
    with pytest.raises(ValueError, match="n_buckets"):
        IncrementalGraphState(spark, work, kernel="wcc", n_buckets=32)
    # same value is fine (restart path)
    IncrementalGraphState(spark, work, kernel="wcc", n_buckets=16)

    # legacy flat layout: parquet files directly in edges/, no bucket=
    work2 = str(tmp_path / "w2")
    flat = os.path.join(work2, "edges")
    spark.createDataFrame([(1, 2)], "src long, dst long").coalesce(1).write.parquet(flat)
    with pytest.raises(ValueError, match="non-bucketed"):
        IncrementalGraphState(spark, work2, kernel="wcc", n_buckets=16)

    # pre-metadata bucketed layout: bucket= dirs but no store_meta.json
    os.remove(os.path.join(work, "store_meta.json"))
    with pytest.raises(ValueError, match="store_meta.json"):
        IncrementalGraphState(spark, work, kernel="wcc", n_buckets=16)

    # an unknown kernel fails in the constructor, before the work dir
    work3 = tmp_path / "w3"
    with pytest.raises(ValueError, match="unknown kernel"):
        IncrementalGraphState(spark, str(work3), kernel="bfs")
    assert not work3.exists()


def test_state_write_is_o_changed(spark, tmp_path):
    """The r4 scale item: per-batch durable state writes must be
    O(changed rows), not a full O(|V|) state rewrite (reference ships
    only needs_send vertices, inc/hvr_vertex.h:79-86). Evidence: the
    write-mode/row counters track the batch's changed-vertex count,
    and snapshot+delta replay reproduces the in-memory state."""
    import json as _json

    from hoover_spark.streaming.ingest import IncrementalGraphState

    work = str(tmp_path / "work")
    state = IncrementalGraphState(
        spark, work, kernel="wcc", num_partitions=8, n_buckets=32
    )
    big = rmat_graph(spark, scale=8, edge_factor=4).clean_edges()
    state.apply_batch(big, 0)
    assert state.state_snapshot_writes == 1          # cold start: full write
    n_v = state._n_state_rows
    assert n_v > 50

    # tiny micro-batches: each merges two existing components and adds
    # one new vertex — the changed set is a few component relabels
    vids = sorted(r["vid"] for r in Graph(big).vertices().limit(12).collect())
    for i in range(4):
        small = spark.createDataFrame(
            [(vids[2 * i], vids[2 * i + 1]), (vids[2 * i], 20_000_000 + i)],
            schema="src long, dst long",
        )
        state.apply_batch(small, i + 1)
        w = state.last_state_write
        assert w["mode"] == "delta", w
        # changed rows ≤ size of the merged components + new vertex —
        # certainly far below |V| (an O(|V|) rewrite would equal it)
        assert w["rows"] < n_v / 2, (w, n_v)
    assert state.state_snapshot_writes == 1          # never re-snapshotted
    assert state.state_delta_writes == 4

    # the per-batch metrics record the write evidence
    lines = [
        _json.loads(l)
        for l in open(os.path.join(work, "batch_metrics.jsonl"))
    ]
    assert lines[-1]["state_write"]["mode"] == "delta"

    # resume: snapshot + delta replay reproduces the live state exactly
    resumed = IncrementalGraphState(
        spark, work, kernel="wcc", num_partitions=8, n_buckets=32
    )
    got = {r["vid"]: r["label"] for r in resumed.state().collect()}
    want = {r["vid"]: r["label"] for r in state.state().collect()}
    assert got == want


def test_state_snapshot_rotation(spark, tmp_path, monkeypatch):
    """Once accumulated deltas cross SNAPSHOT_FRAC of the state, one
    full snapshot folds them in (bounded resume/replay cost)."""
    from hoover_spark.streaming import ingest
    from hoover_spark.streaming.ingest import IncrementalGraphState

    monkeypatch.setattr(ingest, "SNAPSHOT_FRAC", 0.01)
    monkeypatch.setattr(ingest, "SNAPSHOT_FLOOR", 4)
    work = str(tmp_path / "work")
    state = IncrementalGraphState(
        spark, work, kernel="wcc", num_partitions=8, n_buckets=16
    )
    big = rmat_graph(spark, scale=7, edge_factor=4).clean_edges()
    state.apply_batch(big, 0)
    assert state.state_snapshot_writes == 1

    anchor = min(r["vid"] for r in Graph(big).vertices().collect())
    # each batch attaches 3 brand-new vertices to the anchor: 3 changed
    # state rows per batch → the second batch crosses the floor of 4
    # and triggers a rotation
    for i in range(3):
        small = spark.createDataFrame(
            [(anchor, 30_000_000 + 10 * i + j) for j in range(3)],
            schema="src long, dst long",
        )
        state.apply_batch(small, i + 1)
    assert state.state_snapshot_writes >= 2          # rotated
    assert state._state_delta_rows < 4               # cleared at rotation

    # and the composed resume still matches the live state
    from hoover_spark.streaming.ingest import IncrementalGraphState as S

    resumed = S(spark, work, kernel="wcc", num_partitions=8, n_buckets=16)
    got = {r["vid"]: r["label"] for r in resumed.state().collect()}
    want = {r["vid"]: r["label"] for r in state.state().collect()}
    assert got == want


def test_triangles_stream_equals_batch(spark, tmp_path):
    """Incremental triangle maintenance (reference streams its triangle
    benchmark: test/count_triangles.c:64-88 inserts 1,000 edges/iter/PE
    while counting): the stream-accumulated total and per-vertex counts
    must equal a cold batch count over the same final edge set."""
    from hoover_spark.operators.triangles import (
        per_vertex_triangles,
        triangle_count,
    )

    g = rmat_graph(spark, scale=7, edge_factor=6)
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    _write_drops(spark, g, drops, k=4)

    work = str(tmp_path / "work")
    state = run_stream(spark, drops, work, kernel="triangles", num_partitions=8)
    assert state.batches_applied == 4

    full = Graph(
        spark.read.parquet(os.path.join(work, "edges")).select("src", "dst"),
        num_partitions=8,
    )
    want_total = triangle_count(full)
    assert state.triangle_total == want_total

    got = {r["vid"]: r["tri"] for r in state.state().collect()}
    want = {
        r["vid"]: r["triangles"]
        for r in per_vertex_triangles(full).collect()
        if r["triangles"] > 0
    }
    assert got == want

    # per-batch evidence: dedup stayed bucket-pruned and the metrics
    # carry the triangle delta per batch (last_scan style)
    import json as _json

    lines = [
        _json.loads(l) for l in open(os.path.join(work, "batch_metrics.jsonl"))
    ]
    assert sum(l["triangle_delta"] for l in lines) == want_total
    assert lines[-1]["dedup_scan"]["bucket_dirs_scanned"] <= lines[-1][
        "dedup_scan"
    ]["bucket_dirs_total"]


def test_triangles_stream_resume(spark, tmp_path):
    """Triangle state (per-vertex counts + running total) survives a
    restart: a fresh IncrementalGraphState over the same work dir
    continues from the persisted snapshot/deltas + meta."""
    from hoover_spark.operators.triangles import triangle_count
    from hoover_spark.streaming.ingest import IncrementalGraphState

    g = rmat_graph(spark, scale=6, edge_factor=6)
    e = g.clean_edges().persist()
    half1 = e.limit(e.count() // 2)
    work = str(tmp_path / "work")
    s1 = IncrementalGraphState(
        spark, work, kernel="triangles", num_partitions=8, n_buckets=16
    )
    s1.apply_batch(half1, 0)

    s2 = IncrementalGraphState(
        spark, work, kernel="triangles", num_partitions=8, n_buckets=16
    )
    assert s2.triangle_total == s1.triangle_total
    s2.apply_batch(e, 1)  # remainder (dedup drops the re-delivered half)

    full = Graph(
        spark.read.parquet(os.path.join(work, "edges")).select("src", "dst"),
        num_partitions=8,
    )
    assert s2.triangle_total == triangle_count(full)
    e.unpersist()


def test_sssp_stream_equals_batch(spark, tmp_path):
    """Incremental SSSP: edge insertions only ever LOWER shortest
    distances, so each batch warm-starts relaxation from the converged
    distance table with the fresh-edge sources as frontier — the
    stream-converged state must equal a cold batch run over the same
    final edge set."""
    from hoover_spark.operators.paths import sssp

    g = rmat_graph(spark, scale=7, edge_factor=4)
    vs = sorted(r["vid"] for r in g.vertices().collect())
    seed_vids = [vs[0], vs[-1]]
    drops = str(tmp_path / "drops")
    os.makedirs(drops)
    _write_drops(spark, g, drops, k=4)

    state = run_stream(
        spark, drops, str(tmp_path / "work"), kernel="sssp",
        num_partitions=8, kernel_kwargs={"seed_vids": seed_vids},
    )
    assert state.batches_applied == 4
    seeds = spark.createDataFrame([(v,) for v in seed_vids], "vid long")
    got = {r["vid"]: r["dist"] for r in state.state().collect()}
    want = {r["vid"]: r["dist"] for r in sssp(g, seeds).collect()}
    assert got == want


def test_sssp_state_write_o_changed_and_resume(spark, tmp_path):
    """Per-batch durable SSSP writes are O(improved rows): a batch whose
    fresh edges open no shorter path skips the write entirely; a
    shortcut edge writes only the vertices whose distance dropped; and
    snapshot + delta replay reproduces the live state after restart."""
    from hoover_spark.operators.paths import sssp
    from hoover_spark.streaming.ingest import IncrementalGraphState

    big = rmat_graph(spark, scale=7, edge_factor=4).clean_edges()
    seed = min(r["vid"] for r in Graph(big).vertices().collect())
    work = str(tmp_path / "work")
    st = IncrementalGraphState(
        spark, work, kernel="sssp", num_partitions=8, n_buckets=16,
        kernel_kwargs={"seed_vids": [seed]},
    )
    st.apply_batch(big, 0)
    assert st.state_snapshot_writes == 1             # cold start: full write
    n_reached = st._n_state_rows
    assert n_reached > 10
    dist0 = {r["vid"]: r["dist"] for r in st.state().collect()}
    assert max(dist0.values()) >= 2                  # shortcut below must help

    # a brand-new unreached island: no distance improves → the durable
    # write is skipped entirely (mode: none)
    iso = spark.createDataFrame(
        [(40_000_000, 40_000_001)], "src long, dst long"
    )
    st.apply_batch(iso, 1)
    assert st.last_state_write == {"mode": "none", "rows": 0}
    assert st.state_delta_writes == 0

    # a seed→far shortcut: only the vertices whose distance actually
    # dropped are written (far below an O(|reached|) rewrite)
    far = max((d, v) for v, d in dist0.items())[1]
    st.apply_batch(
        spark.createDataFrame([(seed, far)], "src long, dst long"), 2
    )
    w = st.last_state_write
    assert w["mode"] == "delta", w
    assert 1 <= w["rows"] < n_reached / 2, (w, n_reached)
    dist1 = {r["vid"]: r["dist"] for r in st.state().collect()}
    assert dist1[far] == 1

    # resume: snapshot + sequenced-delta replay reproduces live state
    resumed = IncrementalGraphState(
        spark, work, kernel="sssp", num_partitions=8, n_buckets=16,
        kernel_kwargs={"seed_vids": [seed]},
    )
    got = {r["vid"]: r["dist"] for r in resumed.state().collect()}
    assert got == dist1

    # and the stream-accumulated answer equals a cold batch run over
    # the final durable edge store
    full = Graph(
        spark.read.parquet(os.path.join(work, "edges")).select("src", "dst"),
        num_partitions=8,
    )
    seeds = spark.createDataFrame([(seed,)], "vid long")
    want = {r["vid"]: r["dist"] for r in sssp(full, seeds).collect()}
    assert dist1 == want


def test_wcc_stream_rejects_retired_kwargs(spark, tmp_path):
    """kernel_kwargs naming a switch wcc() no longer takes is refused
    when the state is built, before its work dir exists."""
    import pytest

    from hoover_spark.streaming.ingest import IncrementalGraphState

    for kw in ({"pre_contract": True}, {"pointer_jumping": False}):
        work = tmp_path / "work"
        with pytest.raises(ValueError, match=next(iter(kw))):
            IncrementalGraphState(spark, str(work), kernel="wcc", kernel_kwargs=kw)
        assert not work.exists()


def test_wcc_stream_union_find_relabel(spark, tmp_path, monkeypatch):
    """A warm wcc batch relabels by union-find over its endpoints'
    labels: no hash-min rounds and no graph view after the cold start.
    Per batch the labels equal the union-find oracle over every edge so
    far, and the durable delta holds exactly the relabelled vids plus
    the new ones; a batch inside one component writes nothing. No warm
    batch builds a frame from Python rows or from an empty pandas
    frame: pyspark plans both as pickled rows, a stage that starts
    Python workers."""
    import pandas as pd
    from pyspark.sql import SparkSession

    from hoover_spark.streaming.ingest import IncrementalGraphState
    from tests.oracles import union_find_components

    work = str(tmp_path / "work")
    st = IncrementalGraphState(spark, work, kernel="wcc", num_partitions=4, n_buckets=8)
    # four components: {1,2,3}, {10,11,12}, {20,21}, {30,31}
    pairs = [(1, 2), (2, 3), (10, 11), (11, 12), (20, 21), (30, 31)]
    st.apply_batch(spark.createDataFrame(pairs, "src long, dst long"), 0)
    assert st.base_builds == 1 and st._base is None and st._delta is None

    create = SparkSession.createDataFrame
    built = []

    def recording(self, data, *args, **kwargs):
        built.append(data)
        return create(self, data, *args, **kwargs)

    def apply(batch, batch_id):
        before = {r["vid"]: r["label"] for r in st.state().collect()}
        pairs.extend(batch)
        batch_df = spark.createDataFrame(batch, "src long, dst long")
        with monkeypatch.context() as m:
            m.setattr(SparkSession, "createDataFrame", recording)
            st.apply_batch(batch_df, batch_id)
        assert all(isinstance(d, pd.DataFrame) and len(d) for d in built), built
        got = {r["vid"]: r["label"] for r in st.state().collect()}
        assert got == union_find_components(pairs)
        return {v: l for v, l in got.items() if before.get(v) != l}

    def written():
        path = os.path.join(work, "state_deltas", f"seq={st._seq}")
        rows = pd.read_parquet(path)
        return dict(zip(rows["vid"].tolist(), rows["label"].tolist()))

    # chains {1,2,3} - {10,11,12} - {20,21} transitively: both larger
    # components take label 1, {30,31} stays
    want = apply([(3, 10), (12, 20)], 1)
    assert set(want) == {10, 11, 12, 20, 21}
    assert written() == want
    assert st.last_state_write == {"mode": "delta", "rows": 5}

    # new vertices only: a fresh component, all rows written
    want = apply([(100, 101), (101, 102)], 2)
    assert want == {100: 100, 101: 100, 102: 100}
    assert written() == want
    assert st.last_state_write == {"mode": "delta", "rows": 3}

    # an edge inside one component: no relabel job (the held state is
    # kept as is), no write
    seq, held = st._seq, st.state()
    assert apply([(1, 21)], 3) == {}
    assert st.state() is held
    assert st.last_state_write == {"mode": "none", "rows": 0}
    assert not os.path.exists(os.path.join(work, "state_deltas", f"seq={seq + 1}"))

    # a merge and a new vertex in one batch: {30,31} joins label 1 and
    # 200 arrives with it
    want = apply([(31, 1), (31, 200)], 4)
    assert want == {30: 1, 31: 1, 200: 1}
    assert written() == want
    assert st.last_state_write == {"mode": "delta", "rows": 3}

    # warm batches ran no rounds and never rebuilt the view; each built
    # only the relabel and new-vertex frames it needed
    assert st.base_builds == 1 and st._base is None and st._delta_rows == 0
    with open(os.path.join(work, "batch_metrics.jsonl")) as f:
        lines = [json.loads(line) for line in f]
    assert [l["reconverge_iters"] for l in lines[1:]] == [0, 0, 0, 0]
    assert [len(d) for d in built] == [2, 3, 1, 1]
