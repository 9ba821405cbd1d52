"""``tools/round_table.py`` rolls an event log up per labelled round."""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))

import round_table  # noqa: E402


def _job(job, t0, t1, stages, kernel=None, it=None):
    props = {"spark.sql.shuffle.partitions": "8"}
    if kernel is not None:
        props.update({"hoover.kernel": kernel, "hoover.iter": it})
    return [
        {"Event": "SparkListenerJobStart", "Job ID": job, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": job, "Completion Time": t1},
    ]


def _task(stage, read, written):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
        "Shuffle Read Metrics": {"Remote Bytes Read": 0, "Local Bytes Read": read},
        "Shuffle Write Metrics": {"Shuffle Bytes Written": written}}}


def _done(stage):
    return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}


def test_rounds_roll_up_by_kernel_and_iteration(tmp_path):
    events = (
        _job(0, 100, 150, [0])
        + [_task(0, 0, 10), _done(0)]
        # a round of two jobs; job 2 skips stage 2, which job 1 ran
        + _job(1, 200, 260, [1, 2], "pagerank", "1")
        + [_task(1, 0, 30), _task(1, 0, 30), _done(1), _task(2, 60, 0), _done(2)]
        + _job(2, 270, 300, [2, 3], "pagerank", "1")
        + [_task(3, 5, 0), _done(3)]
        + _job(3, 310, 330, [4], "pagerank", "2")
        + [_task(4, 7, 0), _done(4)]
    )
    log = tmp_path / "eventlog_v2_local-1" / "events_1_local-1"
    log.parent.mkdir()
    # compact, as Spark writes it
    log.write_text("".join(json.dumps(e, separators=(",", ":")) + "\n" for e in events))
    got = round_table.rounds(str(tmp_path))
    assert list(got) == [round_table.UNLABELLED, ("pagerank", "1"), ("pagerank", "2")]
    assert got[("pagerank", "1")] == {"jobs": 2, "stages": 3, "tasks": 4, "shuffle_read": 65,
                                      "shuffle_write": 60, "wall_ms": 100}
    assert got[("pagerank", "2")]["wall_ms"] == 20
    assert got[round_table.UNLABELLED]["shuffle_write"] == 10
