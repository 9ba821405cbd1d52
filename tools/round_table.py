"""Roll Spark's event log up per superstep: kernel → iteration → jobs,
stages, tasks, shuffle bytes and wall time.

``IterationLoop.run`` gives every job of a round the local properties
``hoover.kernel`` and ``hoover.iter``, and Spark records local
properties on each job-start event. So any run, batch or streaming,
can be rolled up without a rerun once it was started with

    spark.eventLog.enabled=true
    spark.eventLog.dir=file:///some/dir
    spark.eventLog.compress=false

Usage::

    python tools/round_table.py /some/dir/<app-id>      # one application
    python tools/round_table.py /some/dir               # every log under it

Prints one row per (kernel, iteration) in job order, plus one row for
the jobs no round submitted. Wall time runs from the first job's
submission to the last job's completion.
"""

from __future__ import annotations

import json
import os
import sys

_WANTED = tuple(
    '{"Event":"%s"' % e
    for e in ("SparkListenerJobStart", "SparkListenerJobEnd", "SparkListenerTaskEnd",
              "SparkListenerStageCompleted")
)
UNLABELLED = ("(no round)", "")


def _files(path: str) -> list[str]:
    """The log files at ``path``; a rolling log (``eventlog_v2_*``
    directory) is read in its ``events_<n>_*`` order."""
    if os.path.isfile(path):
        return [path]
    out = []
    for d, _, names in sorted(os.walk(path)):
        logs = [n for n in names if not n.endswith(".crc") and not n.startswith("appstatus_")]
        logs.sort(key=lambda n: int(n.split("_")[1]) if n.startswith("events_") else 0)
        out += [os.path.join(d, n) for n in logs]
    return out


def rounds(path: str) -> dict[tuple[str, str], dict]:
    """``{(kernel, iter): {jobs, stages, tasks, shuffle_read, shuffle_write,
    wall_ms}}`` over the event logs at ``path``; bytes are summed over
    the tasks of the stages that ran."""
    job_round, span, stage_round = {}, {}, {}
    stages_run, task_rows = set(), []
    for name in _files(path):
        with open(name) as f:
            for line in f:
                if not line.startswith(_WANTED):
                    continue
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    props = e.get("Properties") or {}
                    key = (props.get("hoover.kernel"), props.get("hoover.iter"))
                    key = UNLABELLED if key[0] is None else key
                    job_round[e["Job ID"]] = key
                    span[e["Job ID"]] = [e["Submission Time"], e["Submission Time"]]
                    for s in e["Stage IDs"]:
                        stage_round[s] = key
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in span:
                        span[e["Job ID"]][1] = e["Completion Time"]
                elif kind == "SparkListenerStageCompleted":
                    stages_run.add(e["Stage Info"]["Stage ID"])
                else:
                    m = e.get("Task Metrics") or {}
                    read = m.get("Shuffle Read Metrics") or {}
                    task_rows.append((
                        e["Stage ID"],
                        read.get("Remote Bytes Read", 0) + read.get("Local Bytes Read", 0),
                        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0),
                    ))
    out: dict[tuple[str, str], dict] = {}
    for job, key in job_round.items():
        r = out.setdefault(key, {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_read": 0,
                                 "shuffle_write": 0, "_t": []})
        r["jobs"] += 1
        r["_t"].append(span[job])
    for s in stages_run:
        if s in stage_round:
            out[stage_round[s]]["stages"] += 1
    for stage, read, write in task_rows:
        if stage in stage_round:
            r = out[stage_round[stage]]
            r["tasks"] += 1
            r["shuffle_read"] += read
            r["shuffle_write"] += write
    for r in out.values():
        t = r.pop("_t")
        r["wall_ms"] = max(e for _, e in t) - min(s for s, _ in t)
    return out


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__, file=sys.stderr)
        return 2
    cols = ("jobs", "stages", "tasks", "shuffle_read", "shuffle_write", "wall_ms")
    print(f"{'kernel':<16}{'iter':>6}" + "".join(f"{c:>15}" for c in cols))
    for (kernel, it), r in rounds(argv[0]).items():
        print(f"{kernel:<16}{it:>6}" + "".join(f"{r[c]:>15}" for c in cols))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
