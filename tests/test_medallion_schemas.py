"""Schema contracts per medallion node — mirrors the reference's test
strategy of asserting exact output column sets per transform
(SURVEY.md §5: silver tests assert columns incl. prefixed names)."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from spark_data_engineering_spark.pipeline import build_registry
from spark_data_engineering_spark.plans import Runner
from spark_data_engineering_spark.sources.tables import SCHEMAS

EXPECTED = {
    "dim_customer": {
        "c_custkey",
        "c_name",
        "c_nationkey",
        "c_acctbal",
        "c_mktsegment",
        "nation_name",
        "n_regionkey",
        "region_name",
        "is_active",
    },
    "fact_orders": {
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
        "total_price_usd",
        "total_price_inr",
    },
    "daily_order_metrics": {"order_date", "total_price_sum", "total_price_mean"},
    "daily_category_metrics": {
        "order_date",
        "category_name",
        "mean_actual_price",
        "median_actual_price",
    },
    "daily_order_report": {"Date", "Revenue", "Mean Revenue"},
    "daily_category_report": {"Date", "Product Category", "Mean Revenue", "Median Revenue"},
}


@pytest.fixture(scope="module")
def runner(spark, sf_dir):
    return Runner(spark, build_registry(spark, sf_dir))


@pytest.mark.parametrize("node", sorted(EXPECTED))
def test_node_schema_contract(runner, node):
    assert set(runner.run(node).columns) == EXPECTED[node], node


def test_wide_lineitem_carries_is_active(runner):
    # quirk Q3 resolution: the reference's wide items table lacked
    # is_active and would crash downstream; ours must carry it
    assert "is_active" in runner.run("wide_lineitem").columns


def test_runner_unknown_node_lists_known(spark, sf_dir):
    reg = build_registry(spark, sf_dir)
    with pytest.raises(KeyError, match="registered nodes"):
        reg.node("no_such_table")


def test_persist_shared_counts_once(spark):
    from pyspark.sql import functions as F

    from spark_data_engineering_spark.plans import Node, Registry

    calls: list[str] = []

    def base_t(up):
        calls.append("base")
        return spark.range(10).withColumn("v", F.col("id") * 2)

    reg = Registry()
    reg.register(Node(name="base", transform=base_t))
    reg.register(Node(name="l", transform=lambda up: up["base"].filter("v > 2"), deps=("base",)))
    reg.register(Node(name="r", transform=lambda up: up["base"].filter("v <= 2"), deps=("base",)))
    runner = Runner(spark, reg, persist_shared=True)
    left, right = runner.run("l"), runner.run("r")
    assert left.count() + right.count() == 10
    assert calls.count("base") == 1  # transform built once
    assert runner._persisted  # and its DataFrame was persisted
    runner.unpersist_all()
    assert not runner._persisted


REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def sf_dirs(sf_dir):
    """Every committed sf dir: the test data beside ``sf_dir`` and the
    benchmark's inputs."""
    base = os.path.dirname(sf_dir)
    return [*(os.path.join(base, s) for s in ("sf0.001", "sf0.01", "sf0.1")),
            os.path.join(REPO, "perfbench", "data", "sf0.01")]


@pytest.fixture(scope="module")
def scaled_dir(tmp_path_factory, sf_dir):
    dst = str(tmp_path_factory.mktemp("scaled"))
    tool = os.path.join(REPO, "tools", "make_scale_data.py")
    subprocess.run([sys.executable, tool, sf_dir, dst, "2"], check=True, capture_output=True)
    return dst


@pytest.mark.parametrize("table", sorted(SCHEMAS))
def test_declared_input_schema_matches_every_sf_dir(spark, sf_dirs, scaled_dir, table):
    """``load_table`` reads with ``SCHEMAS`` instead of inferring it; the
    parquet reader would widen a narrower file type into it silently, so
    the declaration must equal what Spark infers, in every data dir."""
    declared = spark.read.schema(SCHEMAS[table]).parquet(f"{sf_dirs[0]}/{table}.parquet").schema
    for d in (*sf_dirs, scaled_dir):
        assert spark.read.parquet(f"{d}/{table}.parquet").schema == declared, (d, table)
    assert "events" not in SCHEMAS
