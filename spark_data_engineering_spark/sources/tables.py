"""Parquet table source over the driver testdata.

Stands in for the reference's JDBC bronze extraction
(reference etl/utils/database.py:9-38 — one ``spark.read.jdbc`` per
table). Here the upstream is parquet; the scan is columnar with filter
pushdown and column pruning handled by Catalyst, which the JDBC path in
the reference never got (it always pulled full tables).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Declared schemas of every input but ``events`` (the reference declares
# its upstream DDL, SURVEY.md §1.2). Reading with them skips parquet's
# footer-inference job, so ``load_table`` launches no job at all. They
# must equal what Spark infers from the files: the parquet reader widens
# a narrower physical type into a declared wider one without a word, so
# tests/test_medallion_schemas.py pins each against every committed sf
# dir. ``events`` keeps inference: its ``ts`` has shipped in two
# encodings (see load_table).
SCHEMAS = {
    "region": "r_regionkey INT, r_name STRING",
    "nation": "n_nationkey INT, n_name STRING, n_regionkey INT",
    "customer": "c_custkey BIGINT, c_name STRING, c_nationkey INT, c_acctbal DOUBLE, "
    "c_mktsegment STRING",
    "supplier": "s_suppkey BIGINT, s_name STRING, s_nationkey INT, s_acctbal DOUBLE",
    "part": "p_partkey BIGINT, p_name STRING, p_brand STRING, p_type STRING, p_size INT, "
    "p_retailprice DOUBLE",
    "orders": "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, "
    "o_orderdate TIMESTAMP_NTZ, o_orderpriority STRING",
    "lineitem": "l_orderkey BIGINT, l_partkey BIGINT, l_suppkey BIGINT, l_linenumber INT, "
    "l_quantity DOUBLE, l_extendedprice DOUBLE, l_discount DOUBLE, l_tax DOUBLE, "
    "l_returnflag STRING, l_linestatus STRING, l_shipdate TIMESTAMP_NTZ",
    "documents": "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT",
    "embeddings": "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT",
}

# Small dimensions that should broadcast in joins at any scale: these stay
# small even at 100 TB total (region=5, nation=25; supplier/part grow but
# far slower than the fact tables).
BROADCAST_TABLES = ("region", "nation")


def default_sf_dir() -> str:
    return os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def load_table(spark: SparkSession, name: str, sf_dir: str | None = None) -> DataFrame:
    sf_dir = sf_dir or default_sf_dir()
    if name == "events":
        # events.parquet stores ts as INT64 TIMESTAMP(NANOS), which Spark
        # refuses to read (PARQUET_TYPE_ILLEGAL) unless nanos are surfaced
        # as longs. Runtime-settable, so set it here instead of relying on
        # the session having been built by this repo's session factory.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    reader = spark.read.schema(SCHEMAS[name]) if name in SCHEMAS else spark.read
    df = reader.parquet(f"{sf_dir}/{name}.parquet")
    # Normalize events.ts to TIMESTAMP (LTZ) whatever the parquet encoding:
    # the generator has shipped both INT64 TIMESTAMP(NANOS) (read as a
    # nanosecond long under nanosAsLong) and plain timestamp[us] with no
    # timezone (read as TIMESTAMP_NTZ, which can't be cast to numeric).
    # Downstream operators (sessionize gap arithmetic, as-of join) assume
    # a castable TIMESTAMP column.
    if name == "events":
        from pyspark.sql import functions as F

        # The NTZ->LTZ cast below and all downstream epoch arithmetic
        # (sessionize gap math, unix_timestamp in the as-of join) depend on
        # spark.sql.session.timeZone. The session factory pins UTC, but —
        # like nanosAsLong above — defend against sessions this repo didn't
        # build: a DST-observing zone would shift epochs vs the
        # naive-timestamp oracle and skew gaps spanning a transition.
        spark.conf.set("spark.sql.session.timeZone", "UTC")
        dtype = dict(df.dtypes).get("ts")
        if dtype == "bigint":
            # integer division: epoch-nanos (~1.7e18) exceeds double's
            # 53-bit mantissa, so `/ 1000` + cast would round microseconds
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif dtype == "timestamp_ntz":
            # NTZ wall clock reinterpreted in the session zone; field
            # extraction and toPandas both render in the session zone, so
            # results stay aligned with a naive-timestamp oracle.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str | None = None) -> dict[str, DataFrame]:
    return {name: load_table(spark, name, sf_dir) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str | None = None) -> None:
    """Register every table as a temp view for the SQL entry points."""
    for name, df in load_tables(spark, sf_dir).items():
        df.createOrReplaceTempView(name)
