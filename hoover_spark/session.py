"""SparkSession factory with scale-oriented defaults.

In the sandbox we run ``local[N]`` (single JVM); on a real cluster the
same code runs unchanged via ``spark-submit --py-files`` — nothing here
assumes local mode except the memory default, which is sized from the
machine the driver runs on.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_DEFAULTS = {
    # AQE: runtime coalescing, skew-join splitting, join-strategy re-plan
    # (off for the checkpoint of a co-partitioned round,
    # IterationLoop.hold(keep_partitioning=True)).
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # Arrow for pandas UDFs / toPandas — the only sanctioned Python path.
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    # Iterative graph jobs build long lineages; keep plans printable.
    "spark.sql.ui.explainMode": "formatted",
    "spark.ui.enabled": "false",
    # Broadcast threshold: genuinely small dimension tables broadcast;
    # anything bigger shuffles. 64 MB proved harmful — building a
    # million-entry hashed relation is single-threaded on the driver,
    # a serial phase that swamps scaling (measured 2x on iterative
    # kernels). AQE still upgrades joins to broadcast from runtime
    # stats when a side is truly small.
    "spark.sql.autoBroadcastJoinThreshold": str(8 * 1024 * 1024),
    # Iterative kernels join the same cached edge table every round on
    # the same key — a shuffled hash join skips SMJ's per-iteration
    # re-sort of the big side. Batch queries leave the pick to AQE;
    # the round joins of pagerank, wcc and mode-LP pin it with
    # ``shuffle_hash`` hints, since those rounds are checkpointed with
    # AQE off (``IterationLoop.hold``).
    "spark.sql.join.preferSortMergeJoin": "false",
}


#: KiB per unit of a JVM memory string (``spark.driver.memory``'s
#: default unit is MiB)
_KIB = {"k": 1, "m": 1024, "g": 1024**2, "t": 1024**3}


def _mem_total_kb() -> int | None:
    try:
        with open("/proc/meminfo") as f:
            return next(
                int(line.split()[1]) for line in f if line.startswith("MemTotal:")
            )
    except (OSError, StopIteration):
        return None


def _driver_memory() -> str:
    """``$HOOVER_SPARK_DRIVER_MEM``, else half of physical memory between
    1g and 48g: the other half stays free for Python workers, tmpfs
    spill and the OS. An override larger than physical memory raises
    ``ValueError`` instead of letting the OOM killer take the JVM."""
    total_kb = _mem_total_kb()
    mem = os.environ.get("HOOVER_SPARK_DRIVER_MEM")
    if not mem:
        if total_kb is None:
            return "4g"
        return f"{max(1024, min(total_kb // 1024 // 2, 48 * 1024))}m"
    m = re.fullmatch(r"(\d+)([kmgt]?)b?", mem.strip().lower())
    if m and total_kb is not None and int(m[1]) * _KIB[m[2] or "m"] > total_kb:
        raise ValueError(
            f"HOOVER_SPARK_DRIVER_MEM={mem} exceeds physical memory "
            f"(MemTotal {total_kb // 1024} MiB)"
        )
    return mem


def get_spark(
    app_name: str = "hoover_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``cores`` defaults to ``$SPARK_GRAFT_CPUS`` (driver contract) or all.
    ``shuffle_partitions`` defaults to ``2 * cores`` — sized so that at
    bench scale each shuffle partition stays well under executor memory;
    on a real cluster this is set to ~2-3x total executor cores instead.
    The driver heap is ``$HOOVER_SPARK_DRIVER_MEM`` or half of physical
    memory; an override above physical memory raises ``ValueError``.
    Spill goes to ``spark.local.dir`` from ``extra_conf``, else
    ``$SPARK_LOCAL_DIRS``, else ``/dev/shm/spark-local``.
    """
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or (os.cpu_count() or 4)
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cores, 8)
    driver_memory = _driver_memory()

    # Shuffle/spill files on tmpfs when nothing else is asked for: a
    # virtual disk has multi-x latency variance; a real cluster pairs
    # executors with local NVMe. Spark itself reads $SPARK_LOCAL_DIRS
    # (and it wins over spark.local.dir). Skipped when /dev/shm is absent.
    local_dir = None
    if (
        "spark.local.dir" not in (extra_conf or {})
        and not os.environ.get("SPARK_LOCAL_DIRS")
        and os.path.isdir("/dev/shm")
    ):
        local_dir = "/dev/shm/spark-local"
        try:
            os.makedirs(local_dir, exist_ok=True)
        except OSError:
            local_dir = None

    builder = (
        SparkSession.builder.master(f"local[{cores}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.driver.memory", driver_memory)
    )
    for k, v in _DEFAULTS.items():
        builder = builder.config(k, v)
    if local_dir is not None:
        builder = builder.config("spark.local.dir", local_dir)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
