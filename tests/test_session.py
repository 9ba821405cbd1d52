import pytest

from hoover_spark import session


def test_driver_mem_above_physical_memory_fails_loudly(monkeypatch):
    """An explicit heap larger than the machine raises before any JVM
    starts, instead of the OOM killer taking the driver mid-run."""
    total_kb = session._mem_total_kb()
    if total_kb is None:
        pytest.skip("no /proc/meminfo")
    monkeypatch.setenv("HOOVER_SPARK_DRIVER_MEM", f"{2 * total_kb}k")
    with pytest.raises(ValueError, match="HOOVER_SPARK_DRIVER_MEM"):
        session.get_spark("too_big")
    monkeypatch.setenv("HOOVER_SPARK_DRIVER_MEM", f"{total_kb // 1024 // 4}m")
    assert session._driver_memory() == f"{total_kb // 1024 // 4}m"
