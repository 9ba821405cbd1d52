"""The three workloads. Each times calls into ``hoover_spark``'s public
functions from outside the package and checks every output."""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd

from perfbench import oracles
from perfbench.procstat import tree_cpu_s

KERNELS = ("pagerank", "wcc", "label_prop", "triangles")
#: set-ups per run; setup_s reports the median input load
SETUP_REPEATS = 3
#: timed batch passes per run, whatever --seconds says
MIN_PASSES, MAX_PASSES = 1, 8
#: timed drops per stream run, whatever --seconds says
MIN_DROPS = 6


class Harness:
    """Counts operations, samples CPU, and opens spans when tracing."""

    def __init__(self, spark, tracer, jvm_pid: int) -> None:
        self.spark = spark
        self.tracer = tracer
        self.jvm_pid = jvm_pid
        self.attempted = 0
        self.failed = 0
        self.checks = 0
        self.errors: list[str] = []

    def span(self, name: str):
        return self.tracer.span(name) if self.tracer else contextlib.nullcontext()

    def timed(self, name: str, fn, check=None) -> tuple[object, float, float]:
        """One attempted operation: ``(result, wall_s, cpu_s)``. An
        exception or a failed ``check(result)`` counts it as failed."""
        self.attempted += 1
        cpu0 = tree_cpu_s(self.jvm_pid)
        t0 = time.perf_counter()
        try:
            with self.span(name):
                out = fn()
        except Exception as e:  # counted, reported, never fatal
            self.failed += 1
            self.errors.append(f"{name}: {type(e).__name__}: {e}"[:300])
            return None, time.perf_counter() - t0, tree_cpu_s(self.jvm_pid) - cpu0
        wall = time.perf_counter() - t0
        cpu = tree_cpu_s(self.jvm_pid) - cpu0
        if check is not None:
            self.check(name, lambda: check(out))
        return out, wall, cpu

    def check(self, name: str, pred) -> bool:
        self.checks += 1
        try:
            ok = bool(pred())
        except Exception as e:
            ok = False
            self.errors.append(f"check {name}: {type(e).__name__}: {e}"[:300])
        if not ok:
            self.failed += 1
            self.errors.append(f"check {name}: wrong output")
        return ok


def _frame(df, cols) -> pd.DataFrame:
    return df.select(*cols).toPandas()


def _same_labels(df, expected: dict[int, int]) -> bool:
    got = _frame(df, ["vid", "label"])
    return len(got) == len(expected) and all(
        expected.get(v) == l for v, l in zip(got["vid"].tolist(), got["label"].tolist())
    )


def _close_ranks(df, expected: dict[int, float]) -> bool:
    got = _frame(df, ["vid", "rank"])
    ref = np.array([expected.get(v, np.nan) for v in got["vid"].tolist()])
    return (len(got) == len(expected)
            and abs(got["rank"].sum() - 1.0) < 1e-6
            and float(np.nanmax(np.abs(got["rank"].to_numpy() - ref))) < 1e-5
            and not np.isnan(ref).any())


# -- batch workloads -------------------------------------------------------

class BatchWorkload:
    """Graph build plus the four kernels, once warm and then timed passes."""

    def __init__(self, h: Harness, input_dir: str, workload: str, partitions: int) -> None:
        self.h = h
        self.spark = h.spark
        self.dir = input_dir
        self.workload = workload
        self.partitions = partitions
        self.iters: dict[str, int] = {}
        self.layer: dict[str, list[float]] = {}

    # -- set-up ----------------------------------------------------------
    def load(self) -> float:
        """Read and persist the input; returns the median load time."""
        name = "repos.read" if self.workload == "repo-linkgraph" else "edges.read"
        path = os.path.join(self.dir, "repos.parquet" if self.workload == "repo-linkgraph"
                            else "edges.parquet")
        times = []
        for i in range(SETUP_REPEATS):
            if i:
                self.table.unpersist()
            t0 = time.perf_counter()
            with self.h.span(name):
                self.table = self.spark.read.parquet(path).persist()
                self.table.count()
            times.append(time.perf_counter() - t0)
        self._prepare_oracles()
        return statistics.median(times)

    def _prepare_oracles(self) -> None:
        """Expected outputs, from the generator's own record of the input."""
        from pyspark.sql import functions as F

        if self.workload == "repo-linkgraph":
            # vid of each row, as ref_edges defines it (xxhash64 of repo:path)
            vid = (self.table.select(F.xxhash64(F.concat("repo", F.lit(":"), "path")).alias("vid"))
                   .toPandas()["vid"].to_numpy())
            refs = np.load(os.path.join(self.dir, "refs.npz"))
            keep = refs["src_rows"] != refs["dst_rows"]
            src, dst = vid[refs["src_rows"][keep]], vid[refs["dst_rows"][keep]]
            src, dst = oracles.clean(src, dst)
        else:
            e = pd.read_parquet(os.path.join(self.dir, "edges.parquet"))
            src, dst = e["src"].to_numpy(), e["dst"].to_numpy()
        self.src, self.dst = src, dst
        vids = np.unique(np.concatenate([src, dst]))
        self.n_clean = len(oracles.clean(src, dst)[0])
        self.n_sym = len(oracles.symmetric(src, dst)[0])
        self.want = {
            "pagerank": oracles.pagerank(vids, src, dst),
            "wcc": oracles.components(vids, src, dst),
            "label_prop": oracles.mode_lp(vids, src, dst),
            "triangles": oracles.triangles(src, dst),
        }
        self.wedges = oracles.wedges_oriented(src, dst)

    def _expected_edges(self, df) -> bool:
        got = _frame(df, ["src", "dst"])
        g = np.unique(np.stack([got["src"].to_numpy(), got["dst"].to_numpy()], 1), axis=0)
        return len(g) == len(got) and np.array_equal(g, np.stack([self.src, self.dst], 1))

    # -- one pass ----------------------------------------------------------
    def run_pass(self, warm: bool = False) -> dict:
        """Build the graph and run the four kernels. ``warm`` is the
        untimed JIT warm-up: one round per iterative kernel, no checks."""
        from hoover_spark.operators.graph import Graph
        from hoover_spark.operators.label_prop import mode_label_propagation
        from hoover_spark.operators.pagerank import pagerank
        from hoover_spark.operators.triangles import triangle_count
        from hoover_spark.operators.wcc import wcc
        from hoover_spark.plans.iteration import IterationLoop
        from hoover_spark.sources.repos import ref_edges

        h = self.h
        if warm:
            h = Harness(self.spark, None, self.h.jvm_pid)  # not counted
        # a passed loop's cap overrides the kernel's: one round to warm up,
        # else the kernels' own default cap
        loops = {k: IterationLoop(self.spark, kernel=k, max_iterations=1 if warm else 100)
                 for k in KERNELS[:3]}
        walls, cpus = {}, {}

        def rec(name, triple):
            out, walls[name], cpus[name] = triple
            return out

        def chk(fn):
            return None if warm else fn

        edges = self.table
        if self.workload == "repo-linkgraph":
            def extract():
                df = ref_edges(self.table).persist()
                df.count()
                return df
            edges = rec("repos.extract", h.timed("repos.extract", extract,
                                                 chk(self._expected_edges)))
        g = Graph(edges, num_partitions=self.partitions)
        rec("graph.clean", h.timed("graph.clean", lambda: g.clean_edges().count(),
                                   chk(lambda n: n == self.n_clean)))
        rec("graph.sym", h.timed("graph.sym", lambda: g.sym_edges().count(),
                                 chk(lambda n: n == self.n_sym)))
        calls = {
            "pagerank": lambda: pagerank(g, tol=1e-6, loop=loops["pagerank"]),
            "wcc": lambda: wcc(g, loop=loops["wcc"]),
            "label_prop": lambda: mode_label_propagation(g, loop=loops["label_prop"],
                                                         **({"n_iterations": 1} if warm else {})),
            "triangles": lambda: triangle_count(g),
        }
        checks = {
            "pagerank": lambda df: _close_ranks(df, self.want["pagerank"]),
            "wcc": lambda df: _same_labels(df, self.want["wcc"]),
            "label_prop": lambda df: _same_labels(df, self.want["label_prop"]),
            "triangles": lambda n: n == self.want["triangles"],
        }
        for k in KERNELS:
            rec(k, h.timed(k, calls[k], chk(checks[k])))
        if not warm:
            for k, loop in loops.items():
                n = len(loop.metrics)
                h.check(f"{k} iterations equal across passes", lambda: self.iters.setdefault(k, n) == n)
                walls_it = [m["wall_ms"] / 1000.0 for m in loop.metrics] or [0.0]
                self.layer.setdefault(f"{k}.iter_p50_s", []).append(statistics.median(walls_it))
                self.layer.setdefault(f"{k}.iter_max_s", []).append(max(walls_it))
        g.unpersist()
        if edges is not self.table and edges is not None:
            edges.unpersist()
        return {"walls": walls, "cpus": cpus}

    def warm_up(self) -> None:
        self.run_pass(warm=True)


# -- streaming workload ------------------------------------------------------

class StreamWorkload:
    """A base drop seeds ``IncrementalGraphState(kernel="wcc")`` through
    ``run_stream``; timed drops are then consumed in one closed loop."""

    def __init__(self, h: Harness, input_dir: str, run_dir: str, partitions: int,
                 n_buckets: int, warm_drops: int) -> None:
        self.h = h
        self.spark = h.spark
        self.dir = input_dir
        self.drops = sorted(p for p in os.listdir(input_dir) if p.startswith("drop-"))
        self.drops_dir = os.path.join(run_dir, "drops")
        self.work_dir = os.path.join(run_dir, "stream_work")
        self.partitions = partitions
        self.n_buckets = n_buckets
        self.warm_drops = warm_drops
        self._mtime = time.time()
        os.makedirs(self.drops_dir)

    def _stream(self):
        from hoover_spark.streaming.ingest import run_stream

        return run_stream(self.spark, self.drops_dir, self.work_dir, kernel="wcc",
                          num_partitions=self.partitions, max_files_per_trigger=1,
                          n_buckets=self.n_buckets)

    def _offer(self, names) -> None:
        """Copy drops into the stream's directory with strictly increasing
        modification times: the file source consumes them in that order."""
        for n in names:
            dst = os.path.join(self.drops_dir, n)
            shutil.copy(os.path.join(self.dir, n), dst)
            self._mtime += 1.0
            os.utime(dst, (self._mtime, self._mtime))

    def load(self) -> float:
        """Median time to read and persist the base drop."""
        times = []
        for _ in range(SETUP_REPEATS):
            t0 = time.perf_counter()
            with self.h.span("edges.read"):
                df = self.spark.read.parquet(os.path.join(self.dir, self.drops[0])).persist()
                df.count()
            times.append(time.perf_counter() - t0)
            df.unpersist()
        return statistics.median(times)

    def seed(self) -> float:
        """Ingest the base drop and the warm-up drops: set-up, not timed drops."""
        self._offer(self.drops[: 1 + self.warm_drops])
        t0 = time.perf_counter()
        with self.h.span("stream.seed"):
            self._stream()
        return time.perf_counter() - t0

    def metrics_rows(self) -> list[dict]:
        with open(os.path.join(self.work_dir, "batch_metrics.jsonl")) as f:
            return [json.loads(line) for line in f]

    def timed(self, seconds: float) -> dict:
        """As many drops as the warm-up drop's latency says fit in
        ``seconds`` (at least ``MIN_DROPS``), through one ``run_stream``."""
        warm_s = self.metrics_rows()[-1]["wall_s"]
        pending = self.drops[1 + self.warm_drops :]
        timed = pending[: max(MIN_DROPS, min(len(pending), int(seconds / max(warm_s, 1e-3))))]
        seen = len(self.metrics_rows())
        self._offer(timed)
        state, wall, cpu = self.h.timed("stream.run", self._stream)
        rows = self.metrics_rows()[seen:]
        # every drop is one attempted operation; the call above counted one
        self.h.attempted += len(timed) - 1
        self.h.check("stream drop count", lambda: len(rows) == len(timed))
        for row, want in zip(rows, self._expected_new(timed)):
            self.h.check(f"stream batch {row['batch_id']} new edges",
                         lambda row=row, want=want: row["new_edges"] == want)
        if state is not None:
            used = self.drops[: 1 + self.warm_drops + len(timed)]
            offered = pd.concat([pd.read_parquet(os.path.join(self.dir, n)) for n in used])
            src, dst = offered["src"].to_numpy(), offered["dst"].to_numpy()
            want = oracles.components(np.concatenate([src, dst]), src, dst)
            self.h.check("stream final wcc", lambda: _same_labels(state.state(), want))
        offered_n = sum(len(pd.read_parquet(os.path.join(self.dir, n))) for n in timed)
        return {"wall": wall, "cpu": cpu, "rows": rows, "offered": offered_n, "drops": len(timed)}

    def _expected_new(self, timed) -> list[int]:
        """New directed edges each timed drop adds to everything before it."""
        seen: set[tuple[int, int]] = set()
        out = []
        for n in self.drops[: self.drops.index(timed[-1]) + 1]:
            d = pd.read_parquet(os.path.join(self.dir, n))
            pairs = set(zip(d["src"].tolist(), d["dst"].tolist()))
            if n in timed:
                out.append(len(pairs - seen))
            seen |= pairs
        return out
