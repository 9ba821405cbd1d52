"""Streaming edge ingestion with incremental re-convergence.

Reference semantics: HOOVER's graph mutates *while* analytics converge —
``start_time_step`` inserts a bounded batch of edges each iteration
(``test/connected_components.c:62-86``: 10,000 edges/iter/PE;
``test/update_rates.cpp:30-55``: micro-batches of 16 from real graph
files), and the delta machinery re-converges only what changed.

Spark mapping (SURVEY.md §3.2): ``readStream`` over an edge-drop
directory → ``foreachBatch``:

1. append the micro-batch to the durable edge store (parquet; the
   Iceberg-ready seam is :mod:`hoover_spark.sources.io`),
2. re-converge from the previous converged state: ``wcc`` relabels
   whole components by the driver-side union-find and broadcast
   relabel that finish its cold start, over the fresh edges' endpoint
   labels (insert-only edges merge components, never split one);
   ``sssp`` and ``pagerank`` warm-start their rounds, ``sssp``
   from the fresh edges' sources only (the reference's
   ``mark_for_processing`` on edge insert); ``triangles`` adds the
   batch's Δ,
3. persist the changed state rows + per-batch metrics.

Idempotency: edges are deduped against the store per batch, so replayed
/ duplicate micro-batches are no-ops (reference analogue:
``update_edge_info`` no-ops on unchanged edges, ``src/hoover.cpp:485``)
— required because foreachBatch is at-least-once on failure recovery.

Scale: the durable store is hive-partitioned by
``bucket = pmod(xxhash64(src, dst), n_buckets)`` and the per-batch
dedup anti-join reads ONLY the bucket directories the micro-batch's own
edges hash into (and, for the kernels with a symmetric-view delta, the
reverse orientation's) — per-batch cost is O(|batch| / n_buckets · |E|),
not O(|E|). With Iceberg packaged the same seam becomes a ``MERGE INTO`` on
the bucket-partitioned table.

The GRAPH VIEW of ``sssp``, ``pagerank`` and ``triangles`` is
long-lived too: the first batch of a state's lifetime materializes a
persisted hash-partitioned base Graph ONCE; every later batch composes
it with an O(|batch|) checkpointed delta
(:class:`hoover_spark.operators.graph.DeltaGraph`) — kernels join each
view separately, so the base keeps its partitioning. When the
accumulated delta crosses ``COMPACT_DELTA_FRAC`` of the base (and at
least ``COMPACT_FLOOR`` rows), one amortized rebuild folds it in
(reference analogue: ``update_edge_info`` touches only mutated
adjacency rows, ``src/hoover.cpp:450-600``). ``wcc`` reads the view
only for its cold start (hash-min rounds, then the union-find finish)
and then releases it: its warm batches read the state alone, so a
resumed ``wcc`` stream never builds a base.

A warm batch starts no Python worker and makes no per-value JVM call:
every frame it builds on the driver (``wcc``'s relabel map and new
vertices, ``sssp``'s seeds, built once per state) comes from a
non-empty pandas frame, which pyspark ships through Arrow — an empty or
row-list ``createDataFrame`` plans pickled rows, a stage that starts
Python workers — and ``wcc`` fetches its endpoints' labels through one
SQL ``IN`` list. On 4 vCPUs (perfbench ``stream-ingest``: 60-edge
drops, 8 buckets) a warm ``wcc`` batch runs about 12.6 Spark jobs and
takes about 1.2 s (traced p50); the whole drop, trigger included,
about 1.5 s.

One batch body serves all four kernels, the way HOOVER runs every
application through one main loop with per-application callbacks
(``hvr_body``, ``src/hoover.cpp:3804-3947``): ingest (dedup, store
append), then — triangles only — the Δ against the pre-merge view,
then the delta merge/compaction, then the re-convergence. Each kernel
method returns ``(state, changed, n_changed)``: ``changed is None``
asks for a full snapshot, ``n_changed == 0`` skips the durable write,
and one shared tail persists, counts and logs. Every kernel publishes
its state-row count as ``loop.kernel_state["n_state_rows"]``; the
durable ``state_meta.json`` keeps calling it ``n_vertices``.

Layout safety: ``store_meta.json`` pins ``n_buckets`` for the lifetime
of a work_dir (a different value would silently remap bucket ids and
break dedup). A legacy flat (non-bucketed) edge store and a bucketed
store without ``store_meta.json`` are both rejected loudly: neither
records the bucket count its dedup depends on.

STATE writes are O(changed), not O(|V|): each micro-batch persists
only the state rows the kernel changed (the reference ships only
``needs_send`` vertices, ``inc/hvr_vertex.h:79-86``) as a sequenced
delta under ``state_deltas/seq=N`` — for ``wcc`` the relabelled rows
plus the new vertices, counted by the Observation on the relabel's
hold; a batch that merges nothing and adds no vertex runs no job and
writes nothing. A periodic full snapshot follows once accumulated
deltas cross ``SNAPSHOT_FRAC`` of the state (and at least
``SNAPSHOT_FLOOR`` rows; bounded resume cost). ``_load_state``
composes snapshot + replay (latest-wins per vid). PageRank is the
documented exception: damped power iteration is GLOBAL — a changed
dangling mass or vertex count moves every rank, so its per-batch
changed set IS the full state and it keeps full snapshots. Its warm
prep is O(|batch|) regardless: the vertex count is tracked
incrementally (no ``prev.count()``), and renormalization rides the
kernel's initial state projection (``initial_rank_sum``).

Incremental triangle counting (``kernel="triangles"``): the reference
streams its triangle benchmark (``test/count_triangles.c:64-88``,
1,000 edges/iter/PE inserted while counting). Per batch the Δcount is
computed by :func:`hoover_spark.operators.triangles.triangle_delta` —
batch-side candidates broadcast against the persisted old adjacency
(O(|batch|·d̄), the base is never shuffled) — maintaining per-vertex
counts as the durable state plus a running total in
``state_meta.json``.

Incremental SSSP (``kernel="sssp"``, seed set via
``kernel_kwargs["seed_vids"]``): edge insertions only ever LOWER
shortest distances, so each batch warm-starts
:func:`hoover_spark.operators.paths.sssp` from the converged distance
table with the frontier = the distance-bearing src endpoints of the
batch's fresh edges — every newly-shorter path uses ≥1 fresh edge, so
re-relaxation from exactly those sources is exact. The durable write
is the batch's improved rows only (``changed_rows``); a batch whose
fresh edges improve nothing skips the write entirely.
"""

from __future__ import annotations

import inspect
import json
import os
import shutil
import time
from functools import reduce

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.observation import Observation

from hoover_spark.operators.graph import EDGE_SCHEMA, DeltaGraph, Graph
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.operators.paths import sssp
from hoover_spark.operators.triangles import triangle_delta
from hoover_spark.operators.wcc import min_label_roots, relabel, wcc
from hoover_spark.plans.iteration import IterationLoop

KERNELS = ("wcc", "pagerank", "sssp", "triangles")

# Rebuild thresholds, read at call time. The graph-view delta is folded
# into a rebuilt base once it reaches COMPACT_DELTA_FRAC of the base's
# symmetric rows; the state deltas are folded into a full snapshot once
# they reach SNAPSHOT_FRAC of the snapshot's rows. The floors keep tiny
# graphs from rebuilding on every batch.
COMPACT_DELTA_FRAC = 0.125
COMPACT_FLOOR = 4096
SNAPSHOT_FRAC = 0.25
SNAPSHOT_FLOOR = 4096

#: a kernel method's result: (state, changed rows or None for a full
#: snapshot, changed-row count or None when unknown; 0 skips the write)
Reconverged = tuple[DataFrame, DataFrame | None, int | None]


class IncrementalGraphState:
    """Durable accumulated edge store + converged kernel state."""

    def __init__(
        self,
        spark: SparkSession,
        work_dir: str,
        kernel: str = "wcc",
        num_partitions: int = 32,
        kernel_kwargs: dict | None = None,
        n_buckets: int = 64,
    ) -> None:
        if kernel not in KERNELS:
            raise ValueError(f"unknown kernel {kernel!r}: expected one of {KERNELS}")
        if kernel == "wcc":
            # refused before the work dir exists, not at the cold start
            unknown = sorted(set(kernel_kwargs or {}) - set(inspect.signature(wcc).parameters))
            if unknown:
                raise ValueError(f"wcc() takes no parameter {unknown}")
        self.spark = spark
        self.work_dir = work_dir
        self.kernel = kernel
        self.num_partitions = num_partitions
        self.kernel_kwargs = kernel_kwargs or {}
        self.n_buckets = n_buckets
        self.edges_dir = os.path.join(work_dir, "edges")
        self.state_dir = os.path.join(work_dir, "state")
        self.state_deltas_dir = os.path.join(work_dir, "state_deltas")
        self.state_meta_path = os.path.join(work_dir, "state_meta.json")
        self.metrics_path = os.path.join(work_dir, "batch_metrics.jsonl")
        os.makedirs(work_dir, exist_ok=True)
        self._validate_layout()
        self._meta = self._load_state_meta()
        self._state: DataFrame | None = self._load_state()
        #: incremental bookkeeping (no per-batch O(|V|) jobs): state-row
        #: count (``n_vertices`` in state_meta.json), converged rank
        #: sum, triangle total, delta sequencing
        self._n_state_rows: int | None = self._meta.get("n_vertices")
        self._rank_sum: float = float(self._meta.get("rank_sum", 1.0))
        self.triangle_total: int = int(self._meta.get("triangle_total", 0))
        self._seq: int = int(self._meta.get("seq", 0))
        self._state_delta_rows: int = int(self._meta.get("state_delta_rows", 0))
        self._snapshot_rows: int = int(self._meta.get("snapshot_rows", 0))
        if self._state is not None and self._n_state_rows is None:
            # legacy layout (pre state_meta): one bounded resume-time
            # count, never repeated per batch
            self._n_state_rows = self._state.count()
        self.batches_applied = 0
        self._seeds: DataFrame | None = None  # sssp's seed set
        #: pruning evidence for the last batch's dedup anti-join
        self.last_scan: dict | None = None
        # long-lived graph view: persisted base + checkpointed deltas
        self._base: Graph | None = None
        self._base_rows = 0
        self._delta: DataFrame | None = None       # directed fresh edges
        self._delta_sym: DataFrame | None = None   # sym-closure complement
        self._delta_rows = 0
        #: evidence counters — a scale test asserts these stay O(1)
        self.base_builds = 0
        self.compactions = 0
        #: state-write evidence — a scale test asserts delta writes
        #: track the batch's changed-vertex count, not |V|
        self.state_snapshot_writes = 0
        self.state_delta_writes = 0
        self.last_state_write: dict | None = None
        #: wall of the last inline base (re)build, logged separately so
        #: a latency SLO can see the amortized compaction spike
        self.last_base_build_s: float = 0.0

    def _validate_layout(self) -> None:
        meta_path = os.path.join(self.work_dir, "store_meta.json")
        if os.path.isdir(self.edges_dir):
            names = os.listdir(self.edges_dir)
            flat = [n for n in names if not n.startswith(("bucket=", "_", "."))]
            if flat:
                raise ValueError(
                    f"edge store {self.edges_dir} contains non-bucketed entries "
                    f"{flat[:3]} — this layout predates bucket partitioning and "
                    "would be silently ignored by partition discovery; migrate "
                    "it (read the flat files, re-write with "
                    "partitionBy('bucket')) or start a fresh work_dir"
                )
        if os.path.exists(meta_path):
            with open(meta_path) as f:
                meta = json.load(f)
            stored = int(meta["n_buckets"])
            if stored != self.n_buckets:
                raise ValueError(
                    f"work_dir {self.work_dir} was written with n_buckets="
                    f"{stored}, got {self.n_buckets}: changing it remaps bucket "
                    "ids and breaks store dedup — reuse the stored value"
                )
            if meta.get("provenance") == "adopted":
                raise ValueError(
                    f"n_buckets={stored} for {self.edges_dir} was adopted for a "
                    "pre-metadata store, not recorded at write time — migrate "
                    "the store or start a fresh work_dir"
                )
        elif self._bucket_dirs():
            raise ValueError(
                f"edge store {self.edges_dir} has bucket directories but no "
                "store_meta.json — this layout predates the pinned bucket "
                "count, so dedup cannot trust any n_buckets; migrate it or "
                "start a fresh work_dir"
            )
        else:
            with open(meta_path, "w") as f:
                json.dump({"n_buckets": self.n_buckets}, f)

    # -- durable pieces ----------------------------------------------------
    def _bucket_expr(self) -> F.Column:
        return F.pmod(F.xxhash64("src", "dst"), F.lit(self.n_buckets))

    def _bucket_dirs(self) -> list[str]:
        if not os.path.isdir(self.edges_dir):
            return []
        return sorted(
            n for n in os.listdir(self.edges_dir) if n.startswith("bucket=")
        )

    def _no_edges(self) -> DataFrame:
        """An empty ``EDGE_SCHEMA`` frame planned in the JVM: an empty
        ``createDataFrame`` takes pyspark's pickled-row path, a stage
        that starts Python workers."""
        return self.spark.range(0).select(
            F.col("id").alias("src"), F.col("id").alias("dst")
        )

    def _edges(self) -> DataFrame | None:
        """Full durable edge store (all buckets) as (src, dst)."""
        if not self._bucket_dirs():
            return None
        return self.spark.read.parquet(self.edges_dir).select("src", "dst")

    def _store_slice(self, buckets: list[int]) -> DataFrame | None:
        """The store restricted to the given buckets — reads only those
        bucket directories (explicit path-level partition pruning, no
        reliance on planner behavior; testable via ``last_scan``). The
        store's schema is fixed, so it is given rather than inferred:
        inference would run its own Spark job every batch."""
        paths = [
            p
            for b in buckets
            if os.path.isdir(p := os.path.join(self.edges_dir, f"bucket={b}"))
        ]
        self.last_scan = {
            "buckets_in_batch": len(buckets),
            "bucket_dirs_scanned": len(paths),
            "bucket_dirs_total": len(self._bucket_dirs()),
        }
        if not paths:
            return None
        return self.spark.read.schema(EDGE_SCHEMA).parquet(*paths)

    def _load_state_meta(self) -> dict:
        if os.path.exists(self.state_meta_path):
            with open(self.state_meta_path) as f:
                return json.load(f)
        return {}

    def _write_state_meta(self) -> None:
        tmp = self.state_meta_path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(
                {
                    "n_vertices": self._n_state_rows,
                    "rank_sum": self._rank_sum,
                    "triangle_total": self.triangle_total,
                    "seq": self._seq,
                    "state_delta_rows": self._state_delta_rows,
                    "snapshot_rows": self._snapshot_rows,
                },
                f,
            )
        os.replace(tmp, self.state_meta_path)

    def _state_delta_dirs(self) -> list[tuple[int, str]]:
        d = self.state_deltas_dir
        return sorted(
            (int(n.split("=", 1)[1]), os.path.join(d, n))
            for n in (os.listdir(d) if os.path.isdir(d) else [])
            if n.startswith("seq=") and os.path.exists(os.path.join(d, n, "_SUCCESS"))
        )

    def _load_state(self) -> DataFrame | None:
        """Resume: full snapshot + replay of sequenced deltas,
        latest-wins per vid. Replay cost is bounded: a snapshot is
        rewritten whenever accumulated deltas cross ``SNAPSHOT_FRAC``
        of the state, so at most that fraction is replayed."""
        paths = [(-1, self.state_dir)] if self._have_snapshot() else []
        parts = [
            self.spark.read.parquet(path).withColumn("_seq", F.lit(seq))
            for seq, path in paths + self._state_delta_dirs()
        ]
        if not parts:
            return None
        df = reduce(DataFrame.unionByName, parts)
        if len(parts) == 1:
            return df.drop("_seq")
        val_cols = [c for c in df.columns if c not in ("vid", "_seq")]
        return df.groupBy("vid").agg(
            *[F.max_by(c, "_seq").alias(c) for c in val_cols]
        )

    def _write_snapshot(self, df: DataFrame) -> None:
        """Full-state snapshot (atomic swap) + clear replayed deltas."""
        tmp = self.state_dir + ".tmp"
        df.write.mode("overwrite").parquet(tmp)
        final_exists = os.path.isdir(self.state_dir)
        swap = self.state_dir + ".old"
        if final_exists:
            os.rename(self.state_dir, swap)
        os.rename(tmp, self.state_dir)
        if final_exists:
            shutil.rmtree(swap, ignore_errors=True)
        shutil.rmtree(self.state_deltas_dir, ignore_errors=True)
        self._state_delta_rows = 0
        self._snapshot_rows = int(self._n_state_rows or 0)
        self.state_snapshot_writes += 1
        self.last_state_write = {"mode": "snapshot", "rows": self._snapshot_rows}

    def _have_snapshot(self) -> bool:
        return os.path.exists(os.path.join(self.state_dir, "_SUCCESS"))

    def _write_state_delta(self, delta_df: DataFrame) -> None:
        """Persist ONLY the batch's changed state rows (one row per vid)
        under ``state_deltas/seq=N``; the row count rides the write as
        an Observation (no extra job)."""
        obs = Observation()
        path = os.path.join(self.state_deltas_dir, f"seq={self._seq}")
        delta_df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(path)
        n = int(obs.get["n"] or 0)
        self._state_delta_rows += n
        self.state_delta_writes += 1
        self.last_state_write = {"mode": "delta", "rows": n}

    def _persist_state(self, state_df: DataFrame, changed_df: DataFrame | None) -> None:
        """One durable write per batch: the changed rows as a sequenced
        delta, escalating to a full snapshot when there is no previous
        snapshot or accumulated deltas cross the snapshot threshold."""
        self._seq += 1
        if changed_df is None or not self._have_snapshot():
            self._write_snapshot(state_df)
        else:
            self._write_state_delta(changed_df)
            threshold = max(int(self._snapshot_rows * SNAPSHOT_FRAC), SNAPSHOT_FLOOR)
            if self._state_delta_rows >= threshold:
                self._write_snapshot(state_df)
        self._write_state_meta()

    # -- long-lived graph view ------------------------------------------
    def _ensure_base(self) -> Graph:
        """Materialize the persisted hash-partitioned base Graph ONCE
        per state lifetime (and after each compaction) — the one
        amortized O(|E|) pass; every micro-batch between rebuilds
        composes it with an O(|batch|) delta."""
        if self._base is None:
            t0 = time.perf_counter()
            store = self._edges()
            if store is None:
                store = self._no_edges()
            # SEVER the snapshot from the store path: later appends fire
            # recacheByPath, which would silently refresh a path-backed
            # persisted view to include the appended edges — and those
            # already live in the delta (double-counted edges: wrong
            # PageRank sums; WCC only survived via min-idempotency).
            snap = store.repartition(self.num_partitions, "src").localCheckpoint(
                eager=True
            )
            base = Graph(snap, num_partitions=self.num_partitions)
            # the durable store is unique-by-construction (per-batch
            # dedup): the snapshot IS the cleaned partitioned view
            base._cache["clean_part"] = snap
            self._base_rows = base.sym_edges().count()
            base.vertices().persist().count()
            self._base = base
            self.base_builds += 1
            self.last_base_build_s = round(time.perf_counter() - t0, 4)
        return self._base

    def _sym_complement(
        self, fresh: DataFrame, existing: DataFrame | None
    ) -> DataFrame:
        """Symmetric closure of the fresh edges MINUS pairs already in
        the store's symmetric view — a fresh directed edge (a,b) whose
        reverse (b,a) is already stored adds nothing to the symmetric
        view. Membership is tested against the same bucket slice the
        dedup used (both orientations' buckets were collected), so this
        stays O(|batch|)-pruned. MUST be materialized (eager
        localCheckpoint) BEFORE the store append — ``existing`` reads
        the bucket directories lazily and would otherwise see the
        just-appended fresh edges and empty the delta."""
        cand = fresh.unionByName(
            fresh.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        ).dropDuplicates(["src", "dst"])
        if existing is not None:
            ex_sym = existing.unionByName(
                existing.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
            )
            cand = cand.join(ex_sym, on=["src", "dst"], how="left_anti")
        return cand.localCheckpoint(eager=True)

    def _merge_delta(self, fresh: DataFrame, delta_sym_batch: DataFrame) -> None:
        """Fold a batch's fresh edges + pre-computed sym complement
        into the running (checkpointed) deltas."""
        if self._delta is None:
            self._delta = fresh
            self._delta_sym = delta_sym_batch
        else:
            self._delta = self._delta.unionByName(fresh).localCheckpoint(eager=True)
            self._delta_sym = self._delta_sym.unionByName(
                delta_sym_batch
            ).localCheckpoint(eager=True)
        self._delta_rows = self._delta_sym.count()

    def _release_view(self) -> None:
        """Drop the base and the deltas; the next ``_ensure_base``
        rebuilds from the (already durably appended) store."""
        old = self._base
        self._base = None
        self._delta = None
        self._delta_sym = None
        self._delta_rows = self._base_rows = 0
        old.unpersist()

    def _maybe_compact(self) -> None:
        """When the delta outgrows ``COMPACT_DELTA_FRAC`` of the base,
        release the old base and let the next ``_ensure_base`` fold the
        delta in — one amortized rebuild."""
        if self._base is None or self._delta_rows == 0:
            return
        threshold = max(int(self._base_rows * COMPACT_DELTA_FRAC), COMPACT_FLOOR)
        if self._delta_rows >= threshold:
            self._release_view()
            self.compactions += 1

    def _graph_for_batch(self) -> Graph:
        base = self._ensure_base()
        return base if self._delta is None else DeltaGraph(base, self._delta, self._delta_sym)

    # -- the foreachBatch body ----------------------------------------------
    def apply_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        t0 = time.perf_counter()
        self.last_base_build_s = 0.0
        self.last_state_write = {"mode": "none", "rows": 0}
        batch = (
            batch_df.select(
                F.col("src").cast("long").alias("src"),
                F.col("dst").cast("long").alias("dst"),
            )
            .where(F.col("src") != F.col("dst"))
            .dropDuplicates(["src", "dst"])
        )

        # dedup against ONLY the bucket slices this batch hashes into —
        # a micro-batch of b edges scans ≤ b of the n_buckets
        # directories however large the accumulated store has grown;
        # ≤ 2b for the kernels with a symmetric-view delta, which also
        # tests the reverse edge's presence (wcc builds no such delta)
        batch = batch.withColumn("bucket", self._bucket_expr())
        orients = [F.col("bucket")]
        if self.kernel != "wcc":
            orients.append(F.pmod(F.xxhash64("dst", "src"), F.lit(self.n_buckets)))
        batch_buckets = [
            r["b"]
            for r in batch.select(F.explode(F.array(*orients)).alias("b"))
            .distinct()
            .collect()
        ]
        # incremental triangles need the OLD adjacency (pre-batch): make
        # sure the base exists BEFORE the store append below, else the
        # first _ensure_base would read a store that already contains
        # this batch and the Δ would double-count
        if self.kernel == "triangles":
            self._ensure_base()
        existing = self._store_slice(batch_buckets)
        fresh = (
            batch
            if existing is None
            else batch.join(existing, on=["src", "dst"], how="left_anti")
        )
        # Sever lineage BEFORE appending: the append below would otherwise
        # trigger recacheByPath and re-evaluate this anti-join against the
        # post-append store (yielding zero "fresh" rows and an empty
        # frontier). localCheckpoint pins the snapshot; its row count
        # rides the same action.
        obs = Observation()
        fresh = fresh.observe(obs, F.count(F.lit(1)).alias("n")).localCheckpoint(
            eager=True
        )
        n_fresh = int(obs.get["n"] or 0)
        # the sym-view complement must also be materialized pre-append
        # (same recacheByPath trap: `existing` reads the bucket dirs)
        delta_sym_batch = None
        if self._base is not None and n_fresh > 0:
            delta_sym_batch = self._sym_complement(
                fresh.select("src", "dst"), existing
            )
        if n_fresh > 0:
            fresh.write.partitionBy("bucket").mode("append").parquet(self.edges_dir)
        fresh = fresh.select("src", "dst")

        if n_fresh == 0 and self._state is not None:
            self._log(batch_id, 0, 0, time.perf_counter() - t0)
            return

        loop = IterationLoop(self.spark, kernel=self.kernel, max_iterations=200)
        if self.kernel == "triangles":
            # the Δ joins the batch against the OLD adjacency: before
            # this batch's edges are merged into the graph view
            state, changed, n_changed = self._triangles(delta_sym_batch, loop)
        # graph view: later batches fold their fresh edges into the
        # O(|batch|) delta — NO per-batch store rescan / re-shuffle
        if delta_sym_batch is not None:
            self._merge_delta(fresh, delta_sym_batch)
            self._maybe_compact()
        if self.kernel == "wcc":
            state, changed, n_changed = self._wcc(fresh, loop)
        elif self.kernel != "triangles":
            graph = self._graph_for_batch()
            kernel = {"sssp": self._sssp, "pagerank": self._pagerank}
            state, changed, n_changed = kernel[self.kernel](graph, fresh, loop)
            if graph is not self._base:
                graph.unpersist()  # composite's own cache only; base persists

        self._n_state_rows = int(loop.kernel_state.get("n_state_rows") or 0)
        # in-memory state stays the kernel's localCheckpoint-backed
        # output (no per-batch parquet re-read)
        self._state = state
        if n_changed == 0:
            # nothing changed: skip the durable write entirely
            self._seq += 1
            self._write_state_meta()
        else:
            self._persist_state(state, changed)
        self.batches_applied += 1
        extra = None
        if self.kernel == "triangles":
            extra = {
                "triangle_delta": loop.kernel_state["triangle_delta"],
                "triangle_total": self.triangle_total,
            }
        self._log(batch_id, n_fresh, len(loop.metrics), time.perf_counter() - t0, extra)

    # -- per-kernel re-convergence: (state, changed, n_changed) ------------
    def _wcc(self, fresh: DataFrame, loop: IterationLoop) -> Reconverged:
        if self._state is None:
            # cold start: hash-min over the store's base view, which no
            # later batch reads
            state = wcc(self._graph_for_batch(), loop=loop, **self.kernel_kwargs)
            self._release_view()
            return state, None, None
        # Insert-only edges merge components and never split one, so the
        # new labels are a union-find over the fresh edges' endpoint
        # labels (Kiveris et al., SoCC'14, merge whole components).
        edges = fresh.toPandas()
        ends = np.unique(edges.to_numpy())
        # one state scan for the endpoints' labels, filtered by one SQL
        # IN list (one JVM call, not one literal per endpoint); the
        # endpoints it lacks are new vertices, labelled by their own vid
        in_ends = ", ".join(f"{v}L" for v in ends.tolist())
        known = self._state.where(F.expr(f"vid IN ({in_ends})")).toPandas()
        new = ~np.isin(ends, known["vid"])
        label = ends.copy()
        label[~new] = known.sort_values("vid")["label"]
        labels, roots = min_label_roots(
            label[np.searchsorted(ends, edges["src"])],
            label[np.searchsorted(ends, edges["dst"])],
        )
        moved = (roots != labels) & np.isin(labels, known["label"])
        if not moved.any() and not new.any():
            # every fresh edge closes inside one component
            loop.kernel_state["n_state_rows"] = self._n_state_rows
            return self._state, None, 0
        # relabel by a broadcast join on label and add the new vertices,
        # each only when it has rows: pyspark builds a frame through
        # Arrow only when it is non-empty (an empty one takes the
        # pickled-row path, a stage that starts Python workers)
        if moved.any():
            held = relabel(self._state, labels[moved], roots[moved])
        else:
            held = self._state.select("vid", "label", F.lit(False).alias("_chg"))
        if new.any():
            added = self.spark.createDataFrame(
                pd.DataFrame(
                    {"vid": ends[new], "label": roots[np.searchsorted(labels, ends[new])]}
                ),
                "vid long, label long",
            )
            held = held.unionByName(added.withColumn("_chg", F.lit(True)))
        # the state and changed-row counts ride the hold
        obs = Observation()
        held = (
            held.coalesce(self.num_partitions)
            .observe(
                obs,
                F.count(F.lit(1)).alias("rows"),
                F.sum(F.col("_chg").cast("long")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        loop.kernel_state["n_state_rows"] = int(obs.get["rows"] or 0)
        changed = held.where(F.col("_chg")).select("vid", "label")
        return held.select("vid", "label"), changed, int(obs.get["changed"] or 0)

    def _sssp(self, graph: Graph, fresh: DataFrame, loop: IterationLoop) -> Reconverged:
        kw = {k: v for k, v in self.kernel_kwargs.items() if k != "seed_vids"}
        if self._seeds is None:
            # built once per state, through Arrow (no per-batch Python rows)
            self._seeds = self.spark.createDataFrame(
                pd.DataFrame({"vid": self.kernel_kwargs["seed_vids"]}, dtype="int64"),
                "vid long",
            )
        if self._state is None:
            return sssp(graph, self._seeds, loop=loop, **kw), None, None
        # frontier = fresh-edge sources that already carry a distance
        # (an unreached source relaxes nothing yet; it re-enters the
        # frontier the round it is reached)
        state = sssp(
            graph,
            self._seeds,
            loop=loop,
            initial_dists=self._state.select("vid", "dist"),
            initial_frontier=fresh.select(F.col("src").alias("vid")).distinct(),
            **kw,
        )
        ks = loop.kernel_state
        return state, ks["changed_rows"], ks["total_improvements"]

    def _pagerank(self, graph: Graph, fresh: DataFrame, loop: IterationLoop) -> Reconverged:
        warm = n_vertices = init_sum = None
        if self._state is not None:
            # O(|batch|) warm prep: new vertices from the batch's own
            # endpoints (no full-store vertex scan), the vertex count
            # tracked incrementally (no prev.count()), renormalization
            # folded into the kernel's initial projection via
            # initial_rank_sum (no O(|V|) sum + scaled copy)
            new_verts = (
                fresh.select(F.col("src").alias("vid"))
                .unionByName(fresh.select(F.col("dst").alias("vid")))
                .distinct()
                .join(self._state.select("vid"), on="vid", how="left_anti")
            )
            n_new = new_verts.count()
            n_vertices = int(self._n_state_rows) + n_new
            warm = self._state.select("vid", "rank").unionByName(
                new_verts.select("vid", F.lit(1.0 / n_vertices).alias("rank"))
            )
            init_sum = self._rank_sum + (n_new / n_vertices if n_new else 0.0)
        state = pagerank(
            graph,
            loop=loop,
            initial_ranks=warm,
            n_vertices=n_vertices,
            initial_rank_sum=init_sum,
            **self.kernel_kwargs,
        )
        self._rank_sum = float(loop.kernel_state.get("rank_sum") or 1.0)
        # power iteration is GLOBAL: dangling mass + teleport base move
        # every rank whenever anything changes, so the changed set IS
        # the state — keep honest full snapshots (see module docstring)
        # instead of |V|-row "deltas"
        return state, None, None

    def _triangles(
        self, delta_sym_batch: DataFrame | None, loop: IterationLoop
    ) -> Reconverged:
        """Incremental triangle maintenance: Δcount per batch from
        joining the batch's new undirected edges against the persisted
        OLD adjacency (base built before this batch's append) —
        O(|batch|·d̄), the base is never shuffled. State = per-vertex
        triangle counts (only vids on ≥1 triangle); running total in
        state_meta.json."""
        old_graph = self._graph_for_batch()  # base ∪ prior deltas, pre-batch
        # the genuinely-new undirected pairs; canonical orientation
        newU = (
            delta_sym_batch.where(F.col("src") < F.col("dst"))
            if delta_sym_batch is not None
            else self._no_edges()
        )
        obs = Observation()
        inc = (
            triangle_delta(old_graph.sym_edge_views(), newU)
            .observe(obs, F.sum("d").alias("s"), F.count(F.lit(1)).alias("n"))
            .localCheckpoint(eager=True)
        )
        tri_delta = int(obs.get["s"] or 0) // 3
        loop.kernel_state["triangle_delta"] = tri_delta
        self.triangle_total += tri_delta

        prev = self._state
        if prev is None:
            merged = inc.select("vid", F.col("d").alias("tri"))
        else:
            # prev is vid-partitioned; inc is O(Δ) — only inc shuffles
            merged = prev.join(inc, on="vid", how="full").select(
                "vid",
                (F.coalesce("tri", F.lit(0)) + F.coalesce("d", F.lit(0))).alias("tri"),
                F.col("d").isNotNull().alias("_chg"),
            )
        obs2 = Observation()
        held = (
            merged.observe(obs2, F.count(F.lit(1)).alias("rows"))
            .repartition(self.num_partitions, "vid")
            .localCheckpoint(eager=True)
        )
        # state rows = vids on ≥1 triangle
        loop.kernel_state["n_state_rows"] = int(obs2.get["rows"] or 0)
        if prev is None:
            return held, None, None
        changed = held.where(F.col("_chg")).select("vid", "tri")
        return held.select("vid", "tri"), changed, int(obs.get["n"] or 0)

    def _log(
        self,
        batch_id: int,
        n_new: int,
        iters: int,
        secs: float,
        extra: dict | None = None,
    ) -> None:
        row = {
            "batch_id": int(batch_id),
            "new_edges": int(n_new),
            "reconverge_iters": int(iters),
            "wall_s": round(secs, 4),
            "dedup_scan": self.last_scan,
            "graph_view": {
                "base_builds": self.base_builds,
                "base_sym_rows": self._base_rows,
                "delta_sym_rows": self._delta_rows,
                "compactions": self.compactions,
                # the amortized inline rebuild's wall (0.0 when this
                # batch paid none), apart from the kernel's
                "base_build_s": self.last_base_build_s,
            },
            "state_write": self.last_state_write,
            **(extra or {}),
        }
        with open(self.metrics_path, "a") as f:
            f.write(json.dumps(row) + "\n")

    def state(self) -> DataFrame | None:
        return self._state


def run_stream(
    spark: SparkSession,
    drops_dir: str,
    work_dir: str,
    kernel: str = "wcc",
    num_partitions: int = 32,
    max_files_per_trigger: int = 1,
    kernel_kwargs: dict | None = None,
    n_buckets: int = 64,
) -> IncrementalGraphState:
    """Consume all pending edge-drop parquet files as micro-batches
    (``Trigger.AvailableNow`` semantics) and return the converged state.

    On a long-lived cluster the same code runs with a processing-time
    trigger instead; nothing else changes.
    """
    state = IncrementalGraphState(
        spark, work_dir, kernel=kernel, num_partitions=num_partitions,
        kernel_kwargs=kernel_kwargs, n_buckets=n_buckets,
    )
    stream = (
        spark.readStream.schema(EDGE_SCHEMA)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(drops_dir)
    )
    q = (
        stream.writeStream.foreachBatch(state.apply_batch)
        .option("checkpointLocation", os.path.join(work_dir, "stream_ck"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return state
