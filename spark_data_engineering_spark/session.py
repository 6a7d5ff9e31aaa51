"""SparkSession factory.

Defaults are chosen for correctness parity with a DuckDB oracle (UTC
session timezone) and for scale-out behavior (AQE on, runtime skew-join
handling, Arrow for the pandas-UDF slow path). On a real cluster the same
settings apply; only master/memory come from the environment.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def default_driver_memory() -> str:
    """``SPARK_DRIVER_MEMORY`` if set, else half of physical memory,
    capped at 24g: a fixed 24g heap on a smaller host lets a second
    Spark process beside this one get the machine OOM-killed."""
    env = os.environ.get("SPARK_DRIVER_MEMORY")
    if env:
        return env
    phys_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(24 * 1024, phys_mb // 2)}m"


def get_spark(
    app_name: str = "spark_data_engineering_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession.

    ``SPARK_GRAFT_CPUS`` controls local parallelism (default 32 threads);
    shuffle partitions default to the same so a local run doesn't
    over-partition. On a 1000-executor cluster these would instead be set
    from cluster size; AQE coalescing makes the exact number forgiving.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    # Borrow the host's bundled protobuf runtime (if any) BEFORE the JVM
    # starts so Python workers inherit the PYTHONPATH shim — required by
    # transformWithStateInPandas; no-op where protobuf is installed.
    from spark_data_engineering_spark.streaming.protobuf_compat import (
        ensure_protobuf,
    )

    ensure_protobuf()

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", default_driver_memory())
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # exact percentile/collect aggregates use ObjectHashAggregate,
        # which falls back to slow sort-based aggregation after only 128
        # distinct keys per partition by default; our metric queries have
        # ~1e5 groups of a handful of values each, so buffering them in
        # memory is safe and ~20% faster (measured on the category report)
        .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "10000000")
        # events.parquet carries INT64 TIMESTAMP(NANOS) which Spark won't
        # read natively; read as long and convert in the source adapter.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Python data-source filter pushdown (Spark 4.1): lets the txn
        # connector prune its planned file set from commit-log metadata
        .config("spark.sql.python.filterPushdown.enabled", "true")
    )
    if extra_conf:
        for k, v in extra_conf.items():
            builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
