import pytest

from import_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    s = get_spark("import-spark-tests", cores=4, shuffle_partitions=8)
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
