"""The superstep driver must keep each kernel round at one checkpoint
action: the Spark jobs a round submits stay constant after round 1 and
equal the count of the hand-written loops it replaced, and a
kernel's total jobs grow linearly, not exponentially, in its rounds."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hoover_spark.operators.centrality import weighted_pagerank
from hoover_spark.operators.clustering import kmeans_assign
from hoover_spark.operators.communities import louvain_move
from hoover_spark.operators.label_prop import mode_label_propagation
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.operators.wcc import wcc
from hoover_spark.plans.iteration import IterationLoop
from hoover_spark.sources.synthetic import cycle_graph, path_graph, rmat_graph

# Jobs per round after round 1 on rmat_graph(scale=7), 8 shuffle
# partitions, AQE on: the round's shuffle-map stages plus the eager
# checkpoint's result stage. Measured on the hand-written loops.
# WCC pins pointer_jumping=False: the adaptive jump adds a self-join
# (two more jobs) only in the rounds where it is switched on.
JOBS_PER_ROUND = {"pagerank": 5, "wcc": 5, "mode_lp": 6}

KERNELS = {
    "pagerank": lambda g, loop: pagerank(g, loop=loop),
    "wcc": lambda g, loop: wcc(g, loop=loop, pointer_jumping=False),
    "mode_lp": lambda g, loop: mode_label_propagation(g, n_iterations=10, loop=loop),
}


class _JobCountingLoop(IterationLoop):
    """Records the job group's job count each time a round is logged."""

    def log(self, *args, **kwargs) -> None:
        super().log(*args, **kwargs)
        tracker = self.spark.sparkContext.statusTracker()
        self.job_marks.append(len(tracker.getJobIdsForGroup(self.kernel)))


@pytest.fixture(scope="module")
def rmat7(spark):
    g = rmat_graph(spark, scale=7)
    yield g
    g.unpersist()


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_one_action_per_round(spark, rmat7, kernel):
    sc = spark.sparkContext
    group = f"jobs-per-round-{kernel}"
    loop = _JobCountingLoop(spark, kernel=group, max_iterations=100)
    loop.job_marks = [0]
    sc.setJobGroup(group, kernel)
    try:
        KERNELS[kernel](rmat7, loop)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    per_round = [b - a for a, b in zip(loop.job_marks, loop.job_marks[1:])]
    assert len(per_round) >= 3, per_round
    assert set(per_round[1:]) == {JOBS_PER_ROUND[kernel]}, per_round


# Each call runs `rounds` rounds of `IterationLoop.run` with no early
# stop: synchronous Louvain swaps the two label classes of a 4-cycle
# every round, weighted PageRank runs a fixed count, and Lloyd on 64
# evenly spaced points with both initial centroids at the left end
# moves a centroid in each of its first 6 updates (k-means runs
# `assign_rounds - 1` update rounds).
ROUND_CALLS = {
    "louvain": lambda spark, rounds: louvain_move(cycle_graph(spark, 4), n_rounds=rounds),
    "weighted_pagerank": lambda spark, rounds: weighted_pagerank(
        path_graph(spark, 5), F.col("src") + 1, n_iterations=rounds
    ),
    "kmeans": lambda spark, rounds: kmeans_assign(
        spark.createDataFrame(
            [(i, [float(i)]) for i in range(64)], schema="vec_id long, embedding array<float>"
        ),
        k=2,
        assign_rounds=rounds + 1,
    ),
}


@pytest.mark.parametrize("kernel", sorted(ROUND_CALLS))
def test_jobs_linear_in_rounds(spark, monkeypatch, kernel):
    """Each round holds its state, so a 6-round run submits at most 3×
    the jobs of a 2-round run, and its result's plan is the same size
    (a plan that re-reads un-held state grows exponentially in rounds
    instead; Spark's exchange reuse can hide that growth from the job
    count, as it does for k-means, but not from the plan)."""
    sc = spark.sparkContext
    logged = []
    log = IterationLoop.log

    def counting_log(self, *args, **kwargs):
        logged.append(self.kernel)
        log(self, *args, **kwargs)

    monkeypatch.setattr(IterationLoop, "log", counting_log)
    jobs, plan_nodes, ran = {}, {}, {}
    for rounds in (2, 6):
        group = f"jobs-linear-{kernel}-{rounds}"
        logged.clear()
        sc.setJobGroup(group, kernel)
        try:
            result = ROUND_CALLS[kernel](spark, rounds)
            result.collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        jobs[rounds] = len(sc.statusTracker().getJobIdsForGroup(group))
        plan = result._jdf.queryExecution().optimizedPlan().treeString()
        plan_nodes[rounds] = len(plan.splitlines())
        ran[rounds] = list(logged)
    assert jobs[2] < jobs[6] <= 3 * jobs[2], jobs
    assert plan_nodes[6] == plan_nodes[2], plan_nodes
    assert ran == {r: [kernel] * r for r in (2, 6)}, ran
