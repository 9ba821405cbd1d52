import os

import pytest


@pytest.fixture(scope="session")
def spark():
    from hoover_spark.session import get_spark

    cores = int(os.environ.get("SPARK_GRAFT_CPUS") or 0) or os.cpu_count() or 4
    s = get_spark("hoover_spark_tests", cores=cores, shuffle_partitions=8)
    yield s
    s.stop()
