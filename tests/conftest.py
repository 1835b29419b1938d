import os

import pytest

from import_spark.session import get_spark


def _test_driver_mem() -> str:
    """Heap of the one JVM that runs the whole suite:
    ``SPARK_GRAFT_DRIVER_MEM`` when set, else half of physical memory,
    so the heap, its off-heap overhead and the Python workers fit on
    the host (``get_spark``'s 16g default does not on a 16 GB VM)."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", f"{phys // 2 // 2**20}m")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "import-spark-tests",
        cores=4,
        shuffle_partitions=8,
        extra_conf={"spark.driver.memory": _test_driver_mem()},
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def job_ids(spark):
    """Callable returning the ids of the jobs the driver's status store
    holds (the listener bus drained first, so every finished job is
    in); the difference of two calls is the jobs run in between."""

    def ids() -> set[int]:
        sc = spark.sparkContext._jsc.sc()
        sc.listenerBus().waitUntilEmpty()
        seq = sc.statusStore().jobsList(None)
        return {seq.apply(i).jobId() for i in range(seq.size())}

    return ids
