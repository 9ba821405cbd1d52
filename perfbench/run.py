#!/usr/bin/env python3
"""Link-graph benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload rmat-skew --seed 1 --seconds 20 --trace 0

Run from the repository root. See perfbench/README.md for the workloads,
the metrics and the traced mode.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from perfbench import eventlog, inputs  # noqa: E402
from perfbench.host import HostNoise  # noqa: E402
from perfbench.procstat import peak_rss_mb  # noqa: E402

WORKLOADS = ("repo-linkgraph", "rmat-skew", "stream-ingest")
END_TO_END = {
    "setup_s": "s",
    "pipeline_s": "s",
    "pipeline_cpu_s": "s",
}
KERNEL_LAYERS = ("wall_s", "iters", "iter_p50_s", "iter_max_s", "jobs", "tasks", "driver_gap_s",
                 "shuffle_write_mb", "spill_mb", "gc_s", "task_skew")
PER_LAYER = {
    "session.start_s": "s", "input.read_s": "s", "repos.read_s": "s",
    "repos.extract_s": "s", "repos.refs": "count",
    "graph.build_s": "s", "graph.clean_s": "s", "graph.sym_s": "s",
    "graph.edges": "count", "graph.sym_edges": "count",
    **{f"{k}.{m}": ("count" if m in ("iters", "jobs", "tasks") else "MB" if m.endswith("_mb")
                    else "ratio" if m == "task_skew" else "s")
       for k in ("pagerank", "wcc", "label_prop") for m in KERNEL_LAYERS},
    "triangles.wall_s": "s", "triangles.wedges": "count", "triangles.shuffle_write_mb": "MB",
    "triangles.spill_mb": "MB", "triangles.task_skew": "ratio",
    "stream.seed_s": "s", "stream.batches": "count", "stream.offered_edges": "count",
    "stream.new_edges": "count", "stream.keep_ratio": "ratio", "stream.edges_per_s": "1/s",
    "stream.batch_p50_s": "s", "stream.batch_p75_s": "s", "stream.reconverge_iters_p50": "count",
    "stream.dedup_dirs_scanned_p50": "count", "stream.base_builds": "count",
    "stream.compactions": "count", "stream.compaction_s": "s", "stream.state_write_rows": "count",
    "stream.jobs_per_batch": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB", "spark.gc_s": "s",
    "spark.peak_exec_mem_mb": "MB", "jvm.peak_rss_mb": "MB", "timed.samples": "count",
    "trace.overhead_s": "s", "trace.self_coverage": "ratio", "trace.spans": "count",
}


_T0 = time.perf_counter()


def log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result line."""
    print(f"[perfbench {time.perf_counter() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _heap_mb() -> int:
    """A fifth of physical memory, between 1 and 4 GiB: the rest stays
    free for Python workers, tmpfs and the machine's other tenants."""
    with open("/proc/meminfo") as f:
        total_kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return max(1024, min(4096, total_kb // 1024 // 5))


def start_session(run_dir: str, cores: int):
    from hoover_spark.session import get_spark

    local, tmp, events = (os.path.join(run_dir, d) for d in ("local", "tmp", "events"))
    for d in (local, tmp, events):
        os.makedirs(d)
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    heap = _heap_mb()
    return get_spark(
        "perfbench",
        cores=cores,
        extra_conf={
            "spark.driver.memory": f"{heap}m",
            # no hsperfdata file in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Xms{heap}m -Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.local.dir": local,
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.dir": "file://" + events,
            "spark.ui.showConsoleProgress": "false",
        },
    )


def stop_session(spark) -> None:
    """Stop Spark, then the JVM gateway, and wait for the JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    try:
        gateway.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def _p75(xs) -> float:
    return float(statistics.quantiles(xs, n=4)[2]) if len(xs) > 1 else _median(xs)


def run_batch(args, h, session_s, run_dir, cores, layer) -> dict:
    from perfbench.workloads import MAX_PASSES, MIN_PASSES, BatchWorkload

    w = BatchWorkload(h, inputs.materialize(args.workload, args.seed, args.size),
                      args.workload, partitions=2 * cores)
    load_s = w.load()
    log(f"input loaded ({load_s:.2f} s), oracles ready")
    w.warm_up()
    log("warm-up pass done")
    tracer, h.tracer = h.tracer, None  # timed passes run untraced
    passes, t0 = [], time.perf_counter()
    timed_start = time.time()
    while len(passes) < MIN_PASSES or (
            time.perf_counter() - t0 < args.seconds and len(passes) < MAX_PASSES):
        passes.append(w.run_pass())
        log(f"timed pass {len(passes)}: " + " ".join(f"{k}={v:.2f}" for k, v in passes[-1]["walls"].items()))
    timed_end = time.time()
    pipe = [sum(p["walls"].values()) for p in passes]
    layer["timed.samples"] = len(passes)
    out = {
        "setup_s": session_s + load_s,
        "pipeline_s": _median(pipe),
        "pipeline_cpu_s": _median([sum(p["cpus"].values()) for p in passes]),
        "_window": (timed_start, timed_end),
    }
    if tracer is not None:
        h.tracer = tracer
        with tracer.span("pass") as sp:
            traced = w.run_pass()
        out["_traced"] = (traced, sp)
        layer["trace.overhead_s"] = sum(traced["walls"].values()) - out["pipeline_s"]
    layer.update({
        "input.read_s": load_s,
        "repos.read_s": load_s if args.workload == "repo-linkgraph" else 0.0,
        "graph.edges": w.n_clean, "graph.sym_edges": w.n_sym,
        "repos.refs": w.n_clean if args.workload == "repo-linkgraph" else 0,
        "triangles.wedges": w.wedges,
    })
    for name in ("repos.extract", "graph.clean", "graph.sym"):
        layer[f"{name}_s"] = _median([p["walls"].get(name, 0.0) for p in passes])
    for k in w.want:
        layer[f"{k}.wall_s"] = _median([p["walls"][k] for p in passes])
    layer["graph.build_s"] = sum(layer[k] for k in ("repos.extract_s", "graph.clean_s", "graph.sym_s"))
    for k, n in w.iters.items():
        layer[f"{k}.iters"] = n
    for k, v in w.layer.items():
        layer[k] = _median(v)
    return out


def run_stream(args, h, session_s, run_dir, cores, layer) -> dict:
    from perfbench.workloads import StreamWorkload

    knobs = inputs.SIZES[args.workload][args.size]
    w = StreamWorkload(h, inputs.materialize(args.workload, args.seed, args.size), run_dir,
                       partitions=2 * cores, n_buckets=2 * cores, warm_drops=knobs["warm_drops"])
    load_s = w.load()
    seed_s = w.seed()
    log(f"base and warm-up drops ingested ({seed_s:.2f} s)")
    timed_start = time.time()
    r = w.timed(args.seconds)
    timed_end = time.time()
    log(f"{r['drops']} timed drops: " + " ".join(f"{row['wall_s']:.2f}" for row in r["rows"]))
    rows = r["rows"]
    lat = [row["wall_s"] for row in rows]
    new = sum(row["new_edges"] for row in rows)
    layer.update({
        "input.read_s": load_s,
        "timed.samples": r["drops"],
        "stream.seed_s": seed_s,
        "stream.batches": len(rows),
        "stream.offered_edges": r["offered"],
        "stream.new_edges": new,
        "stream.keep_ratio": new / max(r["offered"], 1),
        "stream.edges_per_s": new / r["wall"],
        "stream.batch_p50_s": _median(lat),
        "stream.batch_p75_s": _p75(lat),
        "stream.reconverge_iters_p50": _median([row["reconverge_iters"] for row in rows]),
        "stream.dedup_dirs_scanned_p50": _median(
            [(row.get("dedup_scan") or {}).get("bucket_dirs_scanned", 0) for row in rows]),
        "stream.base_builds": rows[-1]["graph_view"]["base_builds"] if rows else 0,
        "stream.compactions": rows[-1]["graph_view"]["compactions"] if rows else 0,
        "stream.compaction_s": sum(row["graph_view"]["base_build_s"] for row in rows),
        "stream.state_write_rows": sum((row.get("state_write") or {}).get("rows", 0) for row in rows),
    })
    return {
        "setup_s": session_s + load_s + seed_s,
        # per drop, over the whole call: single drops vary too much for a
        # median of a handful to be steady
        "pipeline_s": r["wall"] / r["drops"],
        "pipeline_cpu_s": r["cpu"] / r["drops"],
        "_window": (timed_start, timed_end),
        "_stream_rows": rows,
    }


def engine_layers(events: eventlog.EventLog, layer: dict, res: dict, tracer) -> None:
    """Per-layer numbers from the event log (traced runs only)."""
    if "_traced" in res:
        traced, pass_span = res["_traced"]
        spans = {sp.name: sp for sp in tracer.spans if sp.parent == pass_span.span_id}
        for k in ("pagerank", "wcc", "label_prop", "triangles"):
            sp = spans.get(k)
            if sp is None:
                continue
            s = eventlog.summary(tracer.jobs_of(events, sp))
            for m in ("shuffle_write_mb", "spill_mb", "task_skew") + (
                    () if k == "triangles" else ("jobs", "tasks", "gc_s")):
                layer[f"{k}.{m}"] = s[m]
            if k != "triangles":
                layer[f"{k}.driver_gap_s"] = tracer.driver_gap(events, sp)
        total = eventlog.summary(tracer.jobs_of(events, pass_span))
        calls = sum(traced["walls"].values())
        layer["trace.self_coverage"] = sum(tracer.self_time(sp) for sp in spans.values()) / calls
    else:
        run_sp = next(sp for sp in tracer.spans if sp.name == "stream.run")
        in_run = events.select(lambda j: run_sp.start * 1000 <= j.submit_ms <= run_sp.end * 1000)
        total = eventlog.summary(in_run)
        by_batch: dict[str, list] = {}
        for j in in_run.jobs:
            desc = j.description or ""
            if "batch = " in desc:
                by_batch.setdefault(desc.rsplit("batch = ", 1)[1].strip(), []).append(j)
        for b, jobs in sorted(by_batch.items()):
            tracer.add(f"stream.batch={b}", run_sp, min(j.submit_ms for j in jobs) / 1000.0,
                       max(j.end_ms for j in jobs) / 1000.0)
        batches = [sp for sp in tracer.spans if sp.parent == run_sp.span_id]
        layer["stream.jobs_per_batch"] = len(in_run.jobs) / max(len(res["_stream_rows"]), 1)
        layer["trace.self_coverage"] = sum(sp.wall for sp in batches) / run_sp.wall
    for m in ("jobs", "stages", "tasks", "shuffle_write_mb", "spill_mb", "gc_s"):
        layer[f"spark.{m}"] = total[m]
    layer["trace.spans"] = len(tracer.spans)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("bench", "tiny"), default="bench")
    args = ap.parse_args(argv)

    import hoover_spark  # noqa: F401  -- fail fast, before any result, without the program

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    cores = _cores()
    run_id = f"{args.workload}-s{args.seed}-{int(time.time() * 1000)}-{os.getpid()}"
    run_dir = os.path.join(HERE, "runs", run_id)
    out_dir = os.path.join(HERE, "out")
    os.makedirs(run_dir)
    os.makedirs(out_dir, exist_ok=True)
    noise = HostNoise()
    spark = None
    try:
        inputs.materialize(args.workload, args.seed, args.size)  # untimed, cached
        t0 = time.perf_counter()
        spark = start_session(run_dir, cores)
        session_s = time.perf_counter() - t0
        log(f"session started ({session_s:.2f} s)")

        from perfbench.trace import Tracer
        from perfbench.workloads import Harness

        tracer = Tracer(spark, run_id) if args.trace else None
        h = Harness(spark, tracer, spark.sparkContext._gateway.proc.pid)
        layer = {k: 0.0 for k in PER_LAYER}
        layer["session.start_s"] = session_s
        runner = run_stream if args.workload == "stream-ingest" else run_batch
        res = runner(args, h, session_s, run_dir, cores, layer)
        layer["jvm.peak_rss_mb"] = peak_rss_mb(h.jvm_pid)
        stop_session(spark)
        spark = None

        log("session stopped")
        events = eventlog.read(os.path.join(run_dir, "events"))
        lo, hi = res["_window"]
        timed = events.select(lambda j: lo * 1000 <= j.submit_ms <= hi * 1000)
        layer["spark.peak_exec_mem_mb"] = eventlog.summary(timed)["peak_exec_mem_mb"]
        log("event log read")
        if tracer is not None:
            engine_layers(events, layer, res, tracer)
            tracer.write(os.path.join(out_dir, f"{run_id}.spans.jsonl"))
            metrics = {k: {"value": float(layer[k]), "unit": u} for k, u in PER_LAYER.items()}
        else:
            metrics = {k: {"value": float(res[k]), "unit": u} for k, u in END_TO_END.items()}
        with open(os.path.join(out_dir, f"{run_id}.host.json"), "w") as f:
            json.dump({"run_id": run_id, "workload": args.workload, "seed": args.seed,
                       "cores": cores, "heap_mb": _heap_mb(), **noise.finish(),
                       "errors": h.errors}, f)
        for e in h.errors:
            print(e, file=sys.stderr)
        result = {"correct": h.failed == 0 and h.checks > 0, "attempted": h.attempted,
                  "failed": h.failed, "metrics": metrics}
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, "runs"))
        except OSError:  # another run is still using it
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
