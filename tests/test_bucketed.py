"""Bucketed-join test: the lineitem-orders join must run shuffle-free
when both sides are bucketed by the join key."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources import load_table
from spark_data_engineering_spark.sources.bucketed import read_table, write_bucketed


@pytest.fixture(scope="module")
def bucketed_tables(spark, sf_dir):
    li = load_table(spark, "lineitem", sf_dir).select("l_orderkey", "l_extendedprice")
    o = load_table(spark, "orders", sf_dir).select("o_orderkey", "o_orderdate")
    write_bucketed(li, "b_lineitem", "l_orderkey", num_buckets=8)
    write_bucketed(o, "b_orders", "o_orderkey", num_buckets=8)
    yield "b_lineitem", "b_orders"
    spark.sql("DROP TABLE IF EXISTS b_lineitem")
    spark.sql("DROP TABLE IF EXISTS b_orders")


def test_write_bucketed_clears_stale_orphaned_location(spark, sf_dir):
    """A warehouse directory left behind by an interrupted session is not
    registered in a fresh in-memory metastore; a bare saveAsTable then dies
    with LOCATION_ALREADY_EXISTS. write_bucketed must clear the orphan."""
    from pathlib import Path
    from urllib.parse import urlparse

    table = "b_stale_orphan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    warehouse = Path(urlparse(spark.conf.get("spark.sql.warehouse.dir")).path)
    orphan = warehouse / table
    orphan.mkdir(parents=True, exist_ok=True)
    (orphan / "leftover.parquet").write_bytes(b"stale")
    try:
        li = load_table(spark, "lineitem", sf_dir).select("l_orderkey").limit(10)
        write_bucketed(li, table, "l_orderkey", num_buckets=2)
        assert spark.table(table).count() == 10
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_write_bucketed_clears_stale_location_of_qualified_name(spark, sf_dir):
    """`db.t` lives at <warehouse>/db.db/t, not <warehouse>/t: the orphan
    under the database's location is the one to clear."""
    from pathlib import Path
    from urllib.parse import urlparse

    spark.sql("CREATE DATABASE IF NOT EXISTS b_stale_db")
    table = "b_stale_db.b_stale_orphan"
    spark.sql(f"DROP TABLE IF EXISTS {table}")
    db_dir = Path(urlparse(spark.catalog.getDatabase("b_stale_db").locationUri).path)
    orphan = db_dir / "b_stale_orphan"
    orphan.mkdir(parents=True, exist_ok=True)
    (orphan / "leftover.parquet").write_bytes(b"stale")
    try:
        li = load_table(spark, "lineitem", sf_dir).select("l_orderkey").limit(10)
        write_bucketed(li, table, "l_orderkey", num_buckets=2)
        assert spark.table(table).count() == 10
    finally:
        spark.sql("DROP DATABASE IF EXISTS b_stale_db CASCADE")


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables, sf_dir):
    li_t, o_t = bucketed_tables
    li, o = read_table(spark, li_t), read_table(spark, o_t)
    # disable broadcast so the planner takes the sort-merge path it would
    # take on two 100 TB fact tables (at test scale it prefers broadcast,
    # which bypasses bucketing entirely — also correct, also shuffle-free)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        joined = li.join(o, li.l_orderkey == o.o_orderkey)
        plan = joined._jdf.queryExecution().executedPlan().toString()
        assert "SortMergeJoin" in plan, plan
        assert "Exchange hashpartitioning" not in plan, plan  # no shuffle
        assert "Bucketed: true" in plan, plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    # and results match the plain-parquet join
    plain = (
        load_table(spark, "lineitem", sf_dir)
        .join(
            load_table(spark, "orders", sf_dir),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .count()
    )
    assert joined.count() == plain


def test_bucketed_category_report_drops_join_exchange(spark, sf_dir):
    """The registered bucketed report variant must (a) lose the
    lineitem-orders shuffle that the parquet variant pays, and (b)
    produce the identical result."""
    from spark_data_engineering_spark.queries.reports import (
        daily_category_report,
        daily_category_report_bucketed,
    )

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        bucketed = daily_category_report_bucketed(spark, sf_dir)
        plan = bucketed._jdf.queryExecution().executedPlan().toString()
        plain = daily_category_report(spark, sf_dir)
        plain_plan = plain._jdf.queryExecution().executedPlan().toString()
        assert "Bucketed: true" in plan, plan
        # the report keeps exactly one exchange (the window/group key);
        # the parquet variant pays the join exchanges on top
        assert plan.count("Exchange hashpartitioning") < plain_plan.count(
            "Exchange hashpartitioning"
        ), plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    got = {tuple(r) for r in bucketed.collect()}
    want = {tuple(r) for r in plain.collect()}
    assert got == want
