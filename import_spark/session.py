"""SparkSession construction with scale-oriented defaults.

The defaults encode the scale posture demanded by the target (100 TB /
10^12 turns on a 1000-executor cluster): AQE on (runtime re-plan +
skew-join splitting, the Spark analogue of the reference's hand-rolled
shard salting, SpannerClient.java:305-316), adaptive shuffle partition
coalescing, Arrow for every pandas UDF boundary, and broadcast joins
for dimension tables (the reference's Recon/existence caches,
ExternalIdResolver.java:57-152).

Spark's generated-class cache (``spark.sql.codegen.cache.maxEntries``,
an LRU of Janino-compiled classes keyed by source and class loader) is
sized to the MCF plans. The genmcf and lint plans are many small
queries: one warm ``run_genmcf`` + ``run_lint`` call (perfbench
``mcf_obs``) generates ~330 classes, one kg ``run_pipeline`` call
(``kg_mem``) ~69. At Spark's default of 100 entries every MCF class was
evicted before the next call, which recompiled ~326 of them; at 2000
the next call compiles about 6. The plans are unchanged: the same
generated code is compiled once per JVM instead of once per call.

Small driver-built frames (template tables, empty results, a parsed
lookup of a few hundred rows) go through ``local_frame``: an Arrow
table typed by the DDL schema becomes a JVM ``LocalRelation``, so the
frame costs no job and no Python worker, and an empty one lets the
optimizer prune what joins against it. ``createDataFrame`` on a list
or on an EMPTY pandas frame takes the pickled-row path instead
(``SparkContext.parallelize``: a PythonRDD whose tasks each start a
Python worker). A LocalRelation lives in the plan on the driver, so
frames of 100k+ rows go through ``resolve._driver_parquet_handoff``
(one parquet write, scanned like any file) instead.

Python workers import the package the driver imported. A worker runs
``python -m pyspark.daemon``, which puts the working directory first on
``sys.path``: a driver started from another checkout's directory would
run that checkout's ``import_spark`` in its workers, two versions at
once. ``get_spark`` puts the driver package's parent on the workers'
``PYTHONPATH`` and sets ``PYTHONSAFEPATH`` (Python 3.11+), which drops
the working directory from a ``-m`` module's ``sys.path``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# the directory this driver imported import_spark from (a checkout, a
# site-packages dir or a --py-files zip)
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _local_threads(cores: int) -> int:
    """Worker-thread count for ``local[...]`` at a given core budget.

    When the budget is the WHOLE machine (and big enough for it to
    matter), reserve 2 vCPUs for the runtime's auxiliary threads (GC,
    Netty, Python daemons) and the hypervisor's own per-VM service
    work. Measured on this class of VM: saturating every vCPU with
    task threads triggers lock-holder preemption and a >4x wall-time
    collapse on shuffle/write stages (22s → 3.5s for the same stage
    at local[32] vs local[30] on 32 vCPUs); a partially-used machine
    shows none of this. On a real multi-executor cluster the same
    policy is the standard "cores per executor < vCPUs per host"
    sizing rule.
    """
    host = os.cpu_count() or cores
    if cores >= 16 and cores >= host:
        return cores - 2
    return cores


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Ids of RDDs currently persisted in the block manager."""
    return set(dict(spark.sparkContext._jsc.getPersistentRDDs()).keys())


def typed_arrow_table(pdf, schema):
    """Driver pandas frame → (pyarrow Table, StructType), the table typed
    by ``schema`` (DDL string or StructType), so empty frames, all-null
    columns and nested ``array<struct>`` columns (each element a dict)
    keep their declared types."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema
    from pyspark.sql.types import _parse_datatype_string

    if isinstance(schema, str):
        schema = _parse_datatype_string(schema)
    table = pa.Table.from_pandas(
        pdf[schema.fieldNames()], schema=to_arrow_schema(schema), preserve_index=False
    )
    return table, schema


def local_frame(spark: SparkSession, pdf, schema) -> DataFrame:
    """Driver pandas frame → ``LocalRelation`` DataFrame via Arrow (see
    ``typed_arrow_table``). For small frames only; see the module
    docstring."""
    return spark.createDataFrame(*typed_arrow_table(pdf, schema))


def get_spark(
    app_name: str = "import_spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    """Build (or reuse) a local SparkSession tuned for this engine.

    On a real cluster the same configs apply; only ``master`` changes
    (spark-submit provides it). Shuffle partitions default to 2x cores
    locally; on a cluster AQE coalesces from a high initial number, so
    the static setting matters less.
    """
    cores = cores or default_parallelism()
    shuffle_partitions = shuffle_partitions or max(2 * cores, 8)
    b = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.sql.parquet.compression.codec", "zstd")
        # shuffle/cache/broadcast IO codec: zstd beats the lz4 default
        # on this text-heavy workload wherever bytes are the wall —
        # measured 12% faster end-to-end at 8 cores and 3.6% at 2 on
        # the 1M-conv KG pipeline (same-window A/B pairs); on a real
        # cluster the shuffle bytes also cross the network, where the
        # better ratio pays again
        .config("spark.io.compression.codec", "zstd")
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
        # static: holds every class a warm mcf_obs call reuses (~330;
        # kg_mem ~69) with headroom, see the module docstring
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.ui.enabled", "false")
        # workers import this driver's package, not the working
        # directory's (see the module docstring)
        .config("spark.executorEnv.PYTHONPATH", _PACKAGE_PARENT)
        .config("spark.executorEnv.PYTHONSAFEPATH", "1")
    )
    if not os.environ.get("SPARK_GRAFT_NO_MASTER"):
        b = b.master(f"local[{_local_threads(cores)}]")
    for k, v in (extra_conf or {}).items():
        b = b.config(k, v)
    return b.getOrCreate()
