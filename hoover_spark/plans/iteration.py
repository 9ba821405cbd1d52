"""One superstep driver for every iterative kernel.

HOOVER runs every application through one main loop (``hvr_body``,
``src/hoover.cpp:3804-3947``) with per-application callbacks. Here the
same role is played by :meth:`IterationLoop.run`: a kernel states only

- its held initial state,
- ``step(state, it, prev_stats)`` — the next state as a lazy
  DataFrame plus the Observation aggregates to compute with it
  (``prev_stats`` carries last round's scalars, e.g. PageRank's
  dangling mass), and
- ``observe(stats, prev_stats)`` — the round's
  ``(rows_shuffled, delta_norm, frontier_size, done)``,

and the driver owns the rest of the round sequence:

- the round cap;
- ONE Spark action per round: the eager ``localCheckpoint`` that
  materializes the state also computes the Observation (lineage
  truncation — without it Catalyst plans grow without bound, SURVEY.md
  §7.4). With ``keep_partitioning`` it runs with AQE off, so the held
  state keeps its partitioning and a co-partitioned round is one job
  with one shuffle;
- the round's Spark jobs carry the local properties ``hoover.kernel``
  and ``hoover.iter`` (``tools/round_table.py`` rolls an event log up
  by them);
- the metrics row (reference profiling sink ``save_profiling_info``,
  ``src/hoover.cpp:3195-3423``): rows shuffled, delta norm, frontier
  size, wall ms, partition count;
- the durable checkpoint every ``checkpoint_every`` iterations under
  ``<dir>/<kernel>/iter=N``, which ``load_latest`` resumes from
  (reference analogue: dead-PE final-state persistence,
  ``src/hoover.cpp:3985-4011``);
- the stop test (reference ``should_terminate``,
  ``inc/hoover.h:73-82``).

Frontier / delta processing (reference ``needs_processing`` dirty
flags, ``inc/hvr_vertex.h:79-86``) stays the kernel's: it is part of
the step. ``finish`` flushes the metrics and writes the final result.
"""

from __future__ import annotations

import json
import os
import re
import time
from collections.abc import Callable, Sequence
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame, SparkSession

_ITER_DIR_RE = re.compile(r"^iter=(\d+)$")


@dataclass
class IterationLoop:
    """Superstep driver, state holder and metrics sink for one kernel run."""

    spark: SparkSession
    kernel: str
    checkpoint_dir: str | None = None
    checkpoint_every: int = 5
    max_iterations: int = 200
    metrics: list[dict] = field(default_factory=list)
    #: kernel-published extras riding the run (no extra jobs): the
    #: state-row count ``n_state_rows`` (wcc, pagerank, sssp), sssp's
    #: ``changed_rows`` lazy view and ``total_improvements``, and
    #: pagerank's final ``rank_sum``
    #: (from the per-iteration Observation) — the streaming path uses
    #: these to keep its durable state writes O(changed) and its
    #: bookkeeping O(1).
    kernel_state: dict = field(default_factory=dict)
    _persisted: list[DataFrame] = field(default_factory=list, repr=False)
    _last_saved_iter: int = -1

    # -- state management ------------------------------------------------
    def hold(self, df: DataFrame, keep_partitioning: bool = False) -> DataFrame:
        """Persist + eagerly localCheckpoint a state DataFrame: truncates
        lineage so iteration N's plan does not contain iterations 0..N-1.

        ``keep_partitioning=True`` runs the checkpoint with AQE off,
        scoped to this one action. Under AQE the held ``LogicalRDD``
        reports ``UnknownPartitioning(0)``, so a state repartitioned by
        ``vid`` would be re-shuffled by every round that joins on
        ``vid``; with AQE off it keeps the ``hashpartitioning(vid, P)``
        its plan produced, and a round over a co-partitioned state
        (pagerank, wcc's hash-min rounds, mode-LP) shuffles only its
        messages: one exchange, statically planned. Other holds keep
        AQE: a multi-join round such as ktruss's support count relies
        on its exchange reuse and runtime join choice (2.5–4x slower
        per round without them). The setting is the session's, so a
        query another thread plans meanwhile runs without AQE too."""
        if keep_partitioning:
            conf = df.sparkSession.conf
            prev = conf.get("spark.sql.adaptive.enabled")
            conf.set("spark.sql.adaptive.enabled", "false")
            try:
                out = df.localCheckpoint(eager=True)
            finally:
                conf.set("spark.sql.adaptive.enabled", prev)
        else:
            out = df.localCheckpoint(eager=True)
        self._persisted.append(out)
        # Keep the three most recent states in memory (an iteration may
        # hold an intermediate plus its result while the previous
        # iteration's state is still referenced by the running plan).
        while len(self._persisted) > 3:
            old = self._persisted.pop(0)
            try:
                old.unpersist()
            except Exception:
                pass
        return out

    def hold_observed(
        self, df: DataFrame, *exprs, keep_partitioning: bool = False
    ) -> tuple[DataFrame, dict]:
        """:meth:`hold` + per-iteration stats in the SAME action.

        Attaches a Spark ``Observation`` to ``df`` so the eager
        localCheckpoint that materializes the state also computes the
        convergence/metrics aggregates map-side — the separate tiny
        stats job (one full scheduling round-trip per iteration, the
        dominant fixed cost at small scale and one barrier per
        iteration at any scale) disappears. Returns
        ``(held_df, metrics_dict)``; the dict is available immediately
        because the checkpoint action has already run.
        """
        from pyspark.sql.observation import Observation

        obs = Observation()
        out = self.hold(df.observe(obs, *exprs), keep_partitioning)
        return out, obs.get

    # -- the superstep driver ----------------------------------------------
    def run(
        self,
        state: DataFrame,
        step: Callable[[DataFrame, int, dict | None], tuple[DataFrame, Sequence[Column]]],
        observe: Callable[[dict, dict | None], tuple[int, float, int, bool]],
        rounds: int,
        start: int = 0,
        stats: dict | None = None,
        keep_partitioning: bool = False,
    ) -> tuple[DataFrame, int, dict | None]:
        """Run at most ``rounds`` supersteps numbered from ``start + 1``.

        Round ``it`` holds ``step(state, it, stats)`` with its
        Observation in one action, logs ``observe(new_stats, stats)``,
        checkpoints at the cadence, and stops early once ``done``.
        ``stats`` seeds round 1's ``prev_stats``; ``keep_partitioning``
        is :meth:`hold`'s, for every round. Returns the last
        held state, the last iteration number and its stats (the
        inputs unchanged when no round ran).

        Every Spark job a round submits carries the local properties
        ``hoover.kernel`` and ``hoover.iter``, which Spark's event log
        records on job start (``tools/round_table.py`` rolls them up);
        both are cleared after the round.
        """
        it = start
        t0 = time.perf_counter()
        for it in range(start + 1, start + rounds + 1):
            with self.tagged(it):
                df, exprs = step(state, it, stats)
                held, new_stats = self.hold_observed(
                    df, *exprs, keep_partitioning=keep_partitioning
                )
                shuffled, delta, frontier, done = observe(new_stats, stats)
                t1 = time.perf_counter()
                self.log(it, shuffled, delta, frontier, (t1 - t0) * 1000.0)
                t0 = t1
                state, stats = self.save_state(held, it), new_stats
            if done:
                break
        return state, it, stats

    @contextmanager
    def tagged(self, it: int):
        """Set the local properties ``hoover.kernel`` and ``hoover.iter``
        on the Spark jobs submitted inside, as :meth:`run` does for each
        round's, and clear both after."""
        sc = self.spark.sparkContext
        sc.setLocalProperty("hoover.kernel", self.kernel)
        sc.setLocalProperty("hoover.iter", str(it))
        try:
            yield
        finally:
            sc.setLocalProperty("hoover.kernel", None)
            sc.setLocalProperty("hoover.iter", None)

    def _kernel_dir(self) -> str | None:
        if not self.checkpoint_dir:
            return None
        d = os.path.join(self.checkpoint_dir, self.kernel)
        os.makedirs(d, exist_ok=True)
        return d

    def save_state(self, df: DataFrame, iteration: int, force: bool = False) -> DataFrame:
        """Durably checkpoint state at the configured cadence; returns a
        re-read DataFrame (fully truncated lineage) when written."""
        d = self._kernel_dir()
        if d is None or (iteration % self.checkpoint_every != 0 and not force):
            return df
        if iteration == self._last_saved_iter:
            # Already durable at this iteration (and df may be backed by
            # that very path — rewriting would overwrite our own input).
            return df
        self._last_saved_iter = iteration
        path = os.path.join(d, f"iter={iteration}")
        df.write.mode("overwrite").parquet(path)
        self._write_metrics()
        return self.spark.read.parquet(path)

    def load_latest(self) -> tuple[DataFrame, int] | None:
        """Resume point: newest complete ``iter=N`` checkpoint, if any."""
        d = self._kernel_dir()
        if d is None or not os.path.isdir(d):
            return None
        iters = []
        for name in os.listdir(d):
            m = _ITER_DIR_RE.match(name)
            if m and os.path.exists(os.path.join(d, name, "_SUCCESS")):
                iters.append(int(m.group(1)))
        if not iters:
            return None
        it = max(iters)
        self._last_saved_iter = it
        return self.spark.read.parquet(os.path.join(d, f"iter={it}")), it

    # -- metrics / lineage -------------------------------------------------
    def log(
        self,
        iteration: int,
        rows_shuffled: int,
        delta_norm: float,
        frontier_size: int,
        wall_ms: float,
    ) -> None:
        self.metrics.append(
            {
                "kernel": self.kernel,
                "iter": int(iteration),
                "rows_shuffled": int(rows_shuffled),
                "delta_norm": float(delta_norm),
                "frontier_size": int(frontier_size),
                "wall_ms": float(wall_ms),
                "npartitions": int(self.spark.conf.get("spark.sql.shuffle.partitions")),
            }
        )

    def _write_metrics(self) -> None:
        d = self._kernel_dir()
        if d is None or not self.metrics:
            return
        with open(os.path.join(d, "metrics.jsonl"), "w") as f:
            for row in self.metrics:
                f.write(json.dumps(row) + "\n")

    def finish(self, state: DataFrame, iteration: int) -> DataFrame:
        """Final durable write + metrics flush (when checkpointing)."""
        out = self.save_state(state, iteration, force=True)
        self._write_metrics()
        for df in self._persisted:
            try:
                df.unpersist()
            except Exception:
                pass
        self._persisted.clear()
        return out


def until_zero(name: str) -> Callable[[dict, dict | None], tuple[int, float, int, bool]]:
    """``observe`` for frontier kernels: the Observation count ``name``
    is the round's rows shuffled, delta and frontier, and the run stops
    once it reaches 0."""

    def observe(stats: dict, _prev: dict | None) -> tuple[int, float, int, bool]:
        n = int(stats[name] or 0)
        return n, float(n), n, n == 0

    return observe


def fixed_rounds(name: str) -> Callable[[dict, dict | None], tuple[int, float, int, bool]]:
    """``observe`` for bounded-round kernels: the Observation count
    ``name`` is the round's rows shuffled and frontier, and the run
    stops only at its round cap."""

    def observe(stats: dict, _prev: dict | None) -> tuple[int, float, int, bool]:
        n = int(stats[name] or 0)
        return n, 0.0, n, False

    return observe


def until_stable(name: str, work: str) -> Callable[[dict, dict | None], tuple[int, float, int, bool]]:
    """``observe`` for peeling kernels: the Observation count ``name``
    shrinks until a round removes nothing or nothing is left; ``work``
    is the round's rows shuffled and the delta is the rows removed."""

    def observe(stats: dict, prev: dict | None) -> tuple[int, float, int, bool]:
        n = int(stats[name] or 0)
        if prev is None:
            return int(stats[work] or 0), 0.0, n, n == 0
        prev_n = int(prev[name] or 0)
        return int(stats[work] or 0), float(prev_n - n), n, n == prev_n or n == 0

    return observe
