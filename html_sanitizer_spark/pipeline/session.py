"""SparkSession factory with the engine's preferred configs.

Tuned for the sanitize workload: Arrow transport on, 10k records/batch
with a byte-cap guard (HTML strings are fat rows — mega-span batches are
bounded by ``maxBytesPerBatch`` directly rather than by an artificially
small record count), AQE on for post-shuffle coalescing and skew
handling. On a real cluster the same settings apply; only ``master`` /
executor sizing differ (shipped via spark-submit --py-files).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark"]


def get_spark(
    app_name: str = "html-sanitizer-spark",
    parallelism: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
    executors: int | None = None,
    executor_cores: int = 2,
    executor_mem_mb: int = 2048,
) -> SparkSession:
    """``executors=N`` switches from local[...] threads to
    ``local-cluster[N, executor_cores, executor_mem_mb]`` — N REAL executor
    JVMs (own heap, own GC, own Python workers) talking to the driver over
    the block/shuffle services, the closest single-host proxy to a
    multi-executor cluster and the shape the N->4N executor scaling
    evidence runs on (bench.py --scaling-executors). With neither that nor
    ``parallelism``, a driver that spark-submit started keeps the launch's
    master and shuffle partitions; otherwise ``SPARK_GRAFT_CPUS`` sets the
    thread count, else the process's CPU-affinity count."""
    builder = SparkSession.builder.appName(app_name)
    # only spark-submit's Python driver has this variable (its JVM's port)
    if (parallelism, executors) != (None, None) or (
            "PYSPARK_GATEWAY_PORT" not in os.environ):
        if parallelism is None:
            parallelism = int(os.environ.get("SPARK_GRAFT_CPUS",
                                             len(os.sched_getaffinity(0))))
        if executors is not None:
            builder = builder.master(f"local-cluster[{executors},"
                                     f"{executor_cores},{executor_mem_mb}]")
            parallelism = executors * executor_cores
        else:
            builder = builder.master(f"local[{parallelism}]")
        shuffle_partitions = shuffle_partitions or max(parallelism, 2)
    if shuffle_partitions is not None:
        builder = builder.config("spark.sql.shuffle.partitions",
                                 str(shuffle_partitions))
    builder = (
        builder
        # pin event-time semantics: window()/date_trunc alignment must not
        # depend on the host's JVM timezone (and the DuckDB oracles replay
        # timestamps as naive UTC)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # r08 (guide §4.2): 10k records/batch amortizes the per-batch
        # Arrow<->pandas hop — measured 2.5x on the exploded sanitize leg
        # vs the old 2048 — while maxBytesPerBatch (Spark 4) is the DIRECT
        # memory guard the small record cap used to approximate: a batch
        # of mega-spans is cut off by bytes long before 10k records.
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "10000")
        .config("spark.sql.execution.arrow.maxBytesPerBatch",
                str(32 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", "128m")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
    )
    if executors is not None:
        # leave headroom under the local-cluster worker's memory cap
        builder = builder.config(
            "spark.executor.memory", f"{max(executor_mem_mb - 512, 512)}m"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
