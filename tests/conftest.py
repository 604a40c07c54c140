from __future__ import annotations

import os

import pytest

from findopendata_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    # One driver JVM runs the whole suite, and ParallelGC grows its heap
    # toward the maximum instead of collecting. With get_spark's 24 GB
    # default that heap outgrows a 15 GB host: the JVM reached 14.3 GB
    # resident and the kernel killed it in the suite's last tests. Half
    # the host's RAM, at most 8 GB, unless SPARK_DRIVER_MEM is set.
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{min(8192, ram_mb // 2)}m")
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s
