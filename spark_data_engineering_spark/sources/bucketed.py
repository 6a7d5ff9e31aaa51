"""Bucketed tables: co-located storage for shuffle-free big-big joins.

At 100 TB the lineitem-orders join is the dominant shuffle in every
report (queries/reports.py, queries/tpch.py). Bucketing both fact tables
by the join key at write time removes that shuffle permanently: Spark's
bucket-aware scan feeds SortMergeJoin directly, partition-for-partition.

This module wraps the write/read pair; the test asserts the join plan
contains no Exchange. The same two-line change applies to any persistent
deployment (Delta/Iceberg keep the semantics with their own clustering).
"""

from __future__ import annotations

import shutil
from pathlib import Path
from urllib.parse import urlparse

from pyspark.sql import DataFrame, SparkSession


def _clear_stale_location(spark: SparkSession, table: str) -> None:
    """An in-memory catalog forgets tables between sessions but the
    warehouse directory survives; saveAsTable refuses to reuse the
    orphaned location, so clear it before rewriting."""
    if spark.catalog.tableExists(table):
        return  # a registered table is overwritten cleanly by mode("overwrite")
    # a managed table lives under its database's location: the warehouse
    # itself for `default`, <warehouse>/<db>.db for any other database
    *qualifier, name = table.split(".")
    db = qualifier[-1] if qualifier else spark.catalog.currentDatabase()
    if not spark.catalog.databaseExists(db):
        return  # saveAsTable reports the missing database itself
    stale = Path(urlparse(spark.catalog.getDatabase(db).locationUri).path) / name.lower()
    if stale.exists():
        shutil.rmtree(stale)


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_key: str,
    num_buckets: int = 16,
    sort: bool = True,
) -> None:
    """Persist as a bucketed (and optionally sorted) managed table.
    Sorting within buckets lets SortMergeJoin skip its sort stage too."""
    _clear_stale_location(df.sparkSession, table)
    writer = df.write.mode("overwrite").bucketBy(num_buckets, bucket_key)
    if sort:
        writer = writer.sortBy(bucket_key)
    writer.saveAsTable(table)


def read_table(spark: SparkSession, table: str) -> DataFrame:
    return spark.table(table)


def ensure_bucketed_fact_pair(
    spark: SparkSession, sf_dir: str, num_buckets: int = 16
) -> tuple[str, str]:
    """Idempotently materialize lineitem + orders bucketed by orderkey
    for the given sf dir; returns the (lineitem, orders) table names.

    One-time write cost, permanent shuffle removal for every downstream
    orderkey join (the reports, q3/q4/q12/q18/q21 shapes...). In a real
    deployment this is the ingest-time layout decision; here the bench
    pays the write on first use and every rerun reads bucket-aware."""
    import re

    from spark_data_engineering_spark.sources.tables import load_table

    token = re.sub(r"[^0-9a-zA-Z]+", "_", sf_dir.rstrip("/").split("/")[-1])
    li_t, o_t = f"b_lineitem_{token}", f"b_orders_{token}"
    for name, table in (("lineitem", li_t), ("orders", o_t)):
        if not spark.catalog.tableExists(table):
            # write_bucketed clears a stale orphaned warehouse location itself
            key = "l_orderkey" if name == "lineitem" else "o_orderkey"
            write_bucketed(
                load_table(spark, name, sf_dir), table, key, num_buckets=num_buckets
            )
    return li_t, o_t
