"""Gold publishing: write → audit → publish. Uniqueness comes from the
plan, the other checks ride the write as observed metrics, the batch is
staged and published only if the audit passes, and the published batch
is read back with the schema it was written with.

A failing batch must never be visible on any of the three store
backends; a refresh of both reports must launch no job outside the gold
writes."""

from __future__ import annotations

import datetime as dt
import glob
import os
import tempfile
import uuid

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark import checks as C
from spark_data_engineering_spark.checks import CheckError
from spark_data_engineering_spark.pipeline import build_registry
from spark_data_engineering_spark.plans import Node, Registry, Runner
from spark_data_engineering_spark.sources import load_table
from spark_data_engineering_spark.sources.catalog import CatalogStore
from spark_data_engineering_spark.sources.snapshot import SnapshotStore
from spark_data_engineering_spark.sources.txn import TxnStore

GOLD = ("daily_order_metrics", "daily_category_metrics")
REPORTS = ("daily_order_report", "daily_category_report")
GOOD_TS = dt.datetime(2024, 1, 1, 12)
BAD_TS = dt.datetime(2024, 1, 2, 12)


def _metrics_registry(spark, rows) -> Registry:
    """source → ``metrics`` (a groupBy, so its key is proved by the plan)
    with a bound on ``top`` that rows above 100 violate."""
    reg = Registry()
    reg.register(
        Node(name="src", transform=lambda up: spark.createDataFrame(rows, "k int, v int"))
    )
    reg.register(
        Node(
            name="metrics",
            transform=lambda up: up["src"].groupBy("k").agg(F.max("v").alias("top")),
            deps=("src",),
            checks=(C.unique("k"), C.bounds("top", lo=0, hi=100), C.not_null("k")),
            materialize=True,
        )
    )
    return reg


def _publish(spark, store, rows, ts):
    return Runner(spark, _metrics_registry(spark, rows), store=store, batch_ts=ts).run("metrics")


def _catalog_stages() -> set[str]:
    return set(glob.glob(os.path.join(tempfile.gettempdir(), "catalog-stage-*")))


@pytest.fixture()
def catalog_store(spark):
    s = CatalogStore(spark, database=f"t{uuid.uuid4().hex[:10]}")
    yield s
    spark.sql(f"DROP DATABASE IF EXISTS {s.database} CASCADE")


@pytest.mark.parametrize("backend", ["snapshot", "txn", "catalog"])
def test_failing_batch_is_never_visible(spark, tmp_path, catalog_store, backend):
    store = {
        "snapshot": lambda: SnapshotStore(str(tmp_path)),
        "txn": lambda: TxnStore(str(tmp_path)),
        "catalog": lambda: catalog_store,
    }[backend]()
    stages = _catalog_stages()
    good = _publish(spark, store, [(1, 5), (2, 7)], GOOD_TS)
    assert {(r.k, r.top) for r in good.collect()} == {(1, 5), (2, 7)}
    if backend == "txn":
        files = set(os.listdir(store._table("metrics").data_dir))
    with pytest.raises(CheckError, match="top: max 500 not below 100"):
        _publish(spark, store, [(1, 5), (2, 500)], BAD_TS)

    # the good batch is still the only one a reader can see
    latest = store.read_latest(spark, "metrics")
    assert {(r.k, r.top) for r in latest.collect()} == {(1, 5), (2, 7)}
    if backend == "snapshot":
        assert len(store.batches("metrics")) == 1
        assert os.listdir(store.path("metrics")) == [f"etl_inserted={store.latest_batch('metrics')}"]
    elif backend == "txn":
        assert [c["action"] for c in store.history("metrics")] == ["overwrite"]
        assert set(os.listdir(store._table("metrics").data_dir)) == files
    else:
        assert len(store.batches("metrics")) == 1
        assert _catalog_stages() == stages


def test_failing_first_batch_leaves_no_table(spark, tmp_path, catalog_store):
    for store in (SnapshotStore(str(tmp_path / "snap")), catalog_store):
        with pytest.raises(CheckError):
            _publish(spark, store, [(1, 500)], GOOD_TS)
    assert os.listdir(tmp_path / "snap" / "metrics") == []
    assert not spark.catalog.tableExists(f"{catalog_store.database}.metrics")


def test_unproved_key_still_blocked_by_fallback(spark, tmp_path):
    dup = spark.createDataFrame([(1, "a"), (1, "b")], "id int, v string")
    assert not C.proven_unique(dup, ("id",))
    reg = Registry()
    reg.register(
        Node(name="t", transform=lambda up: dup, checks=(C.unique("id"),), materialize=True)
    )
    store = SnapshotStore(str(tmp_path))
    with pytest.raises(CheckError, match="duplicate keys"):
        Runner(spark, reg, store=store, validate="materialized").run("t")
    assert store.batches("t") == []


def test_proven_unique(spark, sf_dir):
    orders = load_table(spark, "orders", sf_dir)
    assert not C.proven_unique(orders, ("o_orderkey",))
    per_day = orders.groupBy("o_orderdate", "o_orderstatus").count()
    assert C.proven_unique(per_day, ("o_orderdate", "o_orderstatus"))
    assert not C.proven_unique(per_day, ("o_orderdate",))
    assert C.proven_unique(orders.dropDuplicates(["o_custkey"]), ("o_custkey",))
    # a key that survives a projection is still proved
    assert C.proven_unique(per_day.select("o_orderstatus", "o_orderdate"), ("o_orderdate", "o_orderstatus"))


def test_split_checks(spark):
    df = spark.range(5).groupBy("id").count()
    bound, nn = C.bounds("count", hi=10), C.not_null("id")
    fk = C.foreign_key("id", spark.range(5), "id")
    observed, pre = C.split_checks(df, (C.unique("id"), bound, nn, fk, C.unique("count")))
    assert observed == (bound, nn)
    assert [c.name for c in pre] == ["foreign_key(id)", "unique('count',)"]


def test_read_back_schema_equals_inferred(spark, sf_dir, tmp_path):
    reg = build_registry(spark, sf_dir)
    for gold in GOLD:
        reg.node(gold).materialize = True
    store = SnapshotStore(str(tmp_path))
    runner = Runner(spark, reg, store=store)
    for gold in GOLD:
        published = runner.run(gold)
        assert published.schema == store.read_latest(spark, gold).schema, gold
        assert published.columns[-1] == "etl_inserted"


class _WriteGroupStore:
    """Store proxy that runs every ``write`` in job group ``inside`` and
    everything else in ``outside``."""

    def __init__(self, inner, sc, outside: str, inside: str) -> None:
        self._inner, self._sc, self._outside, self._inside = inner, sc, outside, inside

    def write(self, *args, **kwargs):
        self._sc.setJobGroup(self._inside, "gold write")
        try:
            return self._inner.write(*args, **kwargs)
        finally:
            self._sc.setJobGroup(self._outside, "outside gold writes")

    def __getattr__(self, name):
        return getattr(self._inner, name)


def _jobs(spark, group: str) -> list[int]:
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
    return list(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


def test_report_refresh_runs_no_job_outside_the_writes(spark, sf_dir, tmp_path):
    sc = spark.sparkContext
    tag = uuid.uuid4().hex[:8]
    outside, inside = f"outside-{tag}", f"write-{tag}"
    reg = build_registry(spark, sf_dir)
    for gold in GOLD:
        reg.node(gold).materialize = True
    store = _WriteGroupStore(SnapshotStore(str(tmp_path)), sc, outside, inside)
    sc.setJobGroup(outside, "outside gold writes")
    try:
        runner = Runner(spark, reg, store=store)
        for report in REPORTS:
            runner.run(report)
        load_table(spark, "lineitem", sf_dir)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert _jobs(spark, outside) == []
    assert _jobs(spark, inside)  # the gold writes did run
