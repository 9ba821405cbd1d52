"""The superstep driver must keep each kernel round at one checkpoint
action: the Spark jobs a round submits stay constant after round 1 and
equal the count of the hand-written loops the driver replaced."""

from __future__ import annotations

import pytest

from hoover_spark.operators.label_prop import mode_label_propagation
from hoover_spark.operators.pagerank import pagerank
from hoover_spark.operators.wcc import wcc
from hoover_spark.plans.iteration import IterationLoop
from hoover_spark.sources.synthetic import rmat_graph

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
