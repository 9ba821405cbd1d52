"""Host-noise annotation: guest steal and a single-thread sha256 probe.

Recorded next to every run in a sidecar file so a reader can tell a
stolen window from a regression. These numbers never gate anything.
"""

from __future__ import annotations

import hashlib
import time


def _cpu_stat() -> tuple[int, int]:
    """(steal_jiffies, total_jiffies) from the aggregate cpu line."""
    try:
        with open("/proc/stat") as f:
            parts = f.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals[:8])
    except Exception:  # non-Linux fallback: telemetry reads as 0
        return 0, 0


_PROBE_BUF = b"\xa5" * (1 << 20)


def _probe_mb_per_s(duration: float = 0.1) -> float:
    """Single-thread sha256 throughput (MB/s over 1 MiB blocks) — a
    contention canary that catches the storms guest steal misses."""
    t0 = time.perf_counter()
    n = 0
    while True:
        hashlib.sha256(_PROBE_BUF).digest()
        n += 1
        dt = time.perf_counter() - t0
        if dt >= duration:
            return round(n / dt, 1)


class HostNoise:
    """Steal % over the run, probe throughput at its start and end."""

    def __init__(self) -> None:
        self.probe_before = _probe_mb_per_s()
        self.steal0, self.total0 = _cpu_stat()

    def finish(self) -> dict:
        steal1, total1 = _cpu_stat()
        return {
            "steal_pct": round(100.0 * (steal1 - self.steal0) / max(total1 - self.total0, 1), 2),
            "probe_mb_s_before": self.probe_before,
            "probe_mb_s_after": _probe_mb_per_s(),
        }
