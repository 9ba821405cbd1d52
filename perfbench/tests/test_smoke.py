"""Smoke test: every workload at a tiny size, untraced and traced.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

import pytest

from perfbench import run

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(os.path.dirname(HERE))
OUT = os.path.join(ROOT, "perfbench", "out")


def _run(workload: str, trace: int) -> tuple[dict, str]:
    before = set(os.listdir(OUT)) if os.path.isdir(OUT) else set()
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    new = set(os.listdir(OUT)) - before
    return json.loads(proc.stdout.strip().splitlines()[-1]), new


def _check_result(result: dict, expected: dict) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True, result
    assert result["failed"] == 0 and result["attempted"] >= 1
    assert set(result["metrics"]) == set(expected)
    for name, unit in expected.items():
        m = result["metrics"][name]
        assert m["unit"] == unit and isinstance(m["value"], float), name


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload):
    result, new = _run(workload, 0)
    _check_result(result, run.END_TO_END)
    assert all(result["metrics"][k]["value"] > 0 for k in run.END_TO_END)
    host = [n for n in new if n.endswith(".host.json")]
    assert len(host) == 1
    with open(os.path.join(OUT, host[0])) as f:
        noise = json.load(f)
    assert {"steal_pct", "probe_mb_s_before", "probe_mb_s_after"} <= set(noise)


@pytest.mark.slow
@pytest.mark.parametrize("workload", run.WORKLOADS)
def test_traced_run_writes_spans_and_every_layer(workload):
    result, new = _run(workload, 1)
    _check_result(result, run.PER_LAYER)
    spans = [n for n in new if n.endswith(".spans.jsonl")]
    assert len(spans) == 1
    with open(os.path.join(OUT, spans[0])) as f:
        rows = [json.loads(line) for line in f]
    assert rows and {"run_id", "span_id", "name", "parent", "start", "end"} <= set(rows[0])
    assert len({r["run_id"] for r in rows}) == 1
    assert all(r["end"] >= r["start"] for r in rows)
    assert result["metrics"]["trace.spans"]["value"] == len(rows)
    assert result["metrics"]["trace.self_coverage"]["value"] > 0


def test_run_dirs_are_removed():
    assert not glob.glob(os.path.join(ROOT, "perfbench", "runs", "*"))
