"""The superstep driver must keep each kernel round at one checkpoint
action: a round after round 1 submits one Spark job and shuffles only
its messages, its jobs carry the kernel and iteration, and a kernel's
total jobs grow linearly, not exponentially, in its rounds."""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from hoover_spark.operators.centrality import weighted_pagerank
from hoover_spark.operators.clustering import kmeans_assign
from hoover_spark.operators.communities import louvain_move
from hoover_spark.operators.graph import Graph
from hoover_spark.operators.label_prop import min_label_propagation, mode_label_propagation
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.plans.iteration import IterationLoop
from hoover_spark.sources.synthetic import cycle_graph, path_graph, rmat_graph

# Jobs per round after round 1 on rmat_graph(scale=7), 8 shuffle
# partitions: the hold runs with AQE off, so a round's shuffle-map
# stages and the eager checkpoint's result stage are one job. The "wcc"
# case runs WCC's hash-min rounds as min-LP does, to convergence: no
# adaptive jump (a self-join in the rounds where it is switched on) and
# no driver finish.
JOBS_PER_ROUND = {"pagerank": 1, "wcc": 1, "mode_lp": 1}

KERNELS = {
    "pagerank": lambda g, loop: pagerank(g, loop=loop),
    "wcc": lambda g, loop: min_label_propagation(g, n_iterations=100, loop=loop),
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


def _plan_nodes(plan):
    """Node names of a physical plan, adaptive stages unwrapped, without
    the plans of cached relations (their exchanges ran when the cache
    was built)."""
    name = plan.nodeName()
    if name == "AdaptiveSparkPlan":
        yield from _plan_nodes(plan.executedPlan())
        return
    if name.endswith("QueryStage"):
        yield from _plan_nodes(plan.plan())
        return
    yield name
    children = plan.children()
    for i in range(children.size()):
        yield from _plan_nodes(children.apply(i))


@pytest.fixture(scope="module")
def rmat7_copart(spark, rmat7):
    """rmat7's edges on as many partitions as the shuffles use, with
    both edge views built up front as a pipeline builds them (a round
    over a view not built yet also shuffles the view while building it)."""
    g = Graph(rmat7.edges, num_partitions=int(spark.conf.get("spark.sql.shuffle.partitions")))
    g.clean_edges().count()
    g.sym_edges().count()
    yield g
    g.unpersist()


@pytest.mark.parametrize("kernel", sorted(KERNELS))
def test_round_shuffles_only_messages(spark, rmat7_copart, monkeypatch, kernel):
    """Every round joins a state held hash-partitioned by vid with edge
    views partitioned by src: its plan has one shuffle (the messages)
    and no broadcast. The initial state is held partitioned by vid, so
    round 1 has the later rounds' shape too."""
    held = []
    hold = IterationLoop.hold

    def recording_hold(self, df, keep_partitioning=False):
        out = hold(self, df, keep_partitioning)
        nodes = list(_plan_nodes(df._jdf.queryExecution().executedPlan()))
        part = out._jdf.queryExecution().executedPlan().outputPartitioning().toString()
        held.append((nodes.count("Exchange"), nodes.count("BroadcastExchange"),
                     re.sub(r"#\d+L?", "", part)))
        return out

    monkeypatch.setattr(IterationLoop, "hold", recording_hold)
    KERNELS[kernel](rmat7_copart, IterationLoop(spark, kernel=kernel, max_iterations=100))
    p = rmat7_copart.num_partitions
    # held[0] is the initial state, held[1] round 1
    assert len(held) >= 4, held
    assert held[0][2] == f"hashpartitioning(vid, {p})", held
    assert set(held[1:]) == {(1, 0, f"hashpartitioning(vid, {p})")}, held


def test_rounds_carry_kernel_and_iteration(spark, monkeypatch):
    """Each round's jobs carry the local properties hoover.kernel and
    hoover.iter; the initial hold and the caller's later jobs do not."""
    sc = spark.sparkContext
    seen = []
    hold = IterationLoop.hold

    def recording_hold(self, df, keep_partitioning=False):
        seen.append((sc.getLocalProperty("hoover.kernel"), sc.getLocalProperty("hoover.iter")))
        return hold(self, df, keep_partitioning)

    monkeypatch.setattr(IterationLoop, "hold", recording_hold)
    pagerank(path_graph(spark, 5), n_iterations=3)
    assert seen == [(None, None)] + [("pagerank", str(i)) for i in (1, 2, 3)], seen
    assert sc.getLocalProperty("hoover.kernel") is None
    assert sc.getLocalProperty("hoover.iter") is None


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
