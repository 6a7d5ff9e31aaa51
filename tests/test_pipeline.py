"""Pipeline engine tests: DAG runner memoization, checks gate, snapshot
round-trip, conflict renaming — mirrors the reference's unit/integration
tiers (SURVEY.md §5)."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark import checks as C
from spark_data_engineering_spark.checks import CheckError
from spark_data_engineering_spark.operators.rename import prefix_conflicts
from spark_data_engineering_spark.pipeline import build_registry, run_reports
from spark_data_engineering_spark.plans import Node, Registry, Runner
from spark_data_engineering_spark.sources.snapshot import SnapshotStore


def test_runner_memoizes_shared_upstreams(spark):
    calls: list[str] = []

    def make(name, deps=()):
        def t(up):
            calls.append(name)
            return spark.range(3).withColumn("src", F.lit(name))

        return Node(name=name, transform=t, deps=deps)

    reg = Registry()
    reg.register(make("base"))
    reg.register(make("left", ("base",)))
    reg.register(make("right", ("base",)))
    reg.register(make("top", ("left", "right")))
    runner = Runner(spark, reg)
    runner.run("top")
    # 'base' must run once despite two parents (the reference re-runs it
    # per parent, SURVEY.md §3 E1.3)
    assert calls.count("base") == 1
    assert sorted(calls) == ["base", "left", "right", "top"]


def test_checks_block_on_failure(spark):
    dup = spark.createDataFrame([(1, "a"), (1, "b")], ["id", "v"])
    reg = Registry()
    reg.register(Node(name="bad", transform=lambda up: dup, checks=(C.unique("id"),)))
    with pytest.raises(CheckError, match="duplicate key"):
        Runner(spark, reg, validate="all").run("bad")


def test_checks_pass_clean(spark):
    ok = spark.createDataFrame([(1, 10.0), (2, 20.0)], ["id", "v"])
    reg = Registry()
    reg.register(
        Node(
            name="good",
            transform=lambda up: ok,
            checks=(C.unique("id"), C.not_null("id", "v"), C.bounds("v", lo=0, hi=100)),
        )
    )
    assert Runner(spark, reg, validate="all").run("good").count() == 2


def test_cycle_detection(spark):
    reg = Registry()
    reg.register(Node(name="a", transform=lambda up: None, deps=("b",)))
    reg.register(Node(name="b", transform=lambda up: None, deps=("a",)))
    with pytest.raises(ValueError, match="cycle"):
        reg.topo_order("a")


def test_snapshot_roundtrip(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    df1 = spark.createDataFrame([(1, "x")], ["id", "v"])
    df2 = spark.createDataFrame([(2, "y")], ["id", "v"])
    t1 = dt.datetime(2026, 1, 1, 12, 0, 0)
    t2 = dt.datetime(2026, 1, 2, 12, 0, 0)
    store.write("t", df1, t1)
    store.write("t", df2, t2)
    assert len(store.batches("t")) == 2
    latest = store.read_latest(spark, "t").select("id", "v").collect()
    assert [(r.id, r.v) for r in latest] == [(2, "y")]
    # time travel to the first batch
    first = store.read_batch(spark, "t", store.batches("t")[0]).select("id", "v").collect()
    assert [(r.id, r.v) for r in first] == [(1, "x")]


def test_snapshot_missing_table(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    with pytest.raises(FileNotFoundError):
        store.read_latest(spark, "nope")


def test_prefix_conflicts(spark):
    a = spark.createDataFrame([(1, "x", "t1")], ["id", "name", "etl_inserted"])
    b = spark.createDataFrame([(1, "y", "t2")], ["id", "name", "etl_inserted"])
    out = prefix_conflicts(a, b, "left", keep=("id",))
    # conflicting non-key columns prefixed — incl. etl_inserted, matching
    # the reference's observable behavior (test_dim_buyer_silver.py:131)
    assert set(out.columns) == {"id", "left_name", "left_etl_inserted"}


def test_pipeline_reports_end_to_end(spark, sf_dir):
    out = run_reports(spark, sf_dir, register_views=True)
    order = out["daily_order_report"]
    cat = out["daily_category_report"]
    assert order.columns == ["Date", "Revenue", "Mean Revenue"]
    assert cat.columns == ["Date", "Product Category", "Mean Revenue", "Median Revenue"]
    assert order.count() > 0 and cat.count() > 0
    # consumable via SQL like reference run_etl.py:18
    via_sql = spark.sql("select * from global_temp.daily_order_report")
    assert via_sql.count() == order.count()


def test_pipeline_with_materialization(spark, sf_dir, tmp_path):
    """Gold metrics materialize through the store and re-read."""
    reg = build_registry(spark, sf_dir)
    reg.node("daily_order_metrics").materialize = True
    store = SnapshotStore(str(tmp_path))
    runner = Runner(spark, reg, store=store)
    df = runner.run("daily_order_report")
    assert df.count() > 0
    assert store.batches("daily_order_metrics")  # snapshot written


def test_snapshot_upsert_and_cdc(spark, tmp_path):
    import datetime as dt

    store = SnapshotStore(str(tmp_path))
    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], ["id", "name", "v"]
    )
    store.write("t", base, dt.datetime(2026, 1, 1))
    updates = spark.createDataFrame(
        [(2, "b", 25.0), (4, "d", 40.0)], ["id", "name", "v"]
    )
    store.upsert(spark, "t", updates, keys=["id"], batch_ts=dt.datetime(2026, 1, 2))

    latest = {r.id: (r.name, r.v) for r in store.read_latest(spark, "t").collect()}
    assert latest == {1: ("a", 10.0), 2: ("b", 25.0), 3: ("c", 30.0), 4: ("d", 40.0)}

    b1, b2 = store.batches("t")
    changes = {
        r.id: r.change_type
        for r in store.changes_between(spark, "t", b1, b2, keys=["id"]).collect()
    }
    assert changes == {1: "unchanged", 2: "updated", 3: "unchanged", 4: "inserted"}

    # upsert into an empty table bootstraps it
    store.upsert(spark, "fresh", base, keys=["id"], batch_ts=dt.datetime(2026, 1, 3))
    assert store.read_latest(spark, "fresh").count() == 3


def test_accepted_values_and_foreign_key_checks(spark):
    import spark_data_engineering_spark.checks as C2

    dim = spark.createDataFrame([(1,), (2,)], ["id"])
    good = spark.createDataFrame([(1, "A"), (2, "B")], ["fk", "status"])
    bad = spark.createDataFrame([(1, "A"), (9, "Z")], ["fk", "status"])
    ok_checks = (C2.accepted_values("status", ("A", "B")), C2.foreign_key("fk", dim, "id"))
    assert C2.run_checks(good, ok_checks) == []
    fails = C2.run_checks(bad, ok_checks)
    assert len(fails) == 2
    assert any("accepted values" in m for m in fails)
    assert any("missing from dimension" in m for m in fails)


def test_snapshot_rejects_duplicate_batch(spark, tmp_path):
    import datetime as dt

    store = SnapshotStore(str(tmp_path))
    df = spark.createDataFrame([(1, "x")], ["id", "v"])
    ts = dt.datetime(2026, 1, 1)
    store.write("t", df, ts)
    with pytest.raises(FileExistsError, match="already exists"):
        store.write("t", df, ts)


def test_unique_check_null_semantics(spark):
    import spark_data_engineering_spark.checks as C2

    one_null = spark.createDataFrame([(1,), (2,), (None,)], "id int")
    assert C2.run_checks(one_null, (C2.unique("id"),)) == []  # one NULL key ok
    two_nulls = spark.createDataFrame([(1,), (None,), (None,)], "id int")
    assert any("NULL keys" in m for m in C2.run_checks(two_nulls, (C2.unique("id"),)))
    real_dup = spark.createDataFrame([(1,), (1,), (None,)], "id int")
    assert any("duplicate" in m for m in C2.run_checks(real_dup, (C2.unique("id"),)))


def test_snapshot_compact_and_vacuum(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    df = spark.range(0, 1000).withColumnRenamed("id", "k")
    t1 = dt.datetime(2026, 1, 1)
    t2 = dt.datetime(2026, 1, 2)
    # many small files: repartition wide before writing
    store.write("t", df.repartition(16), t1)
    store.write("t", df.repartition(16), t2)
    batch = store.batches("t")[-1]
    batch_dir = f"{store.path('t')}/etl_inserted={batch}"
    import os as _os

    before = sum(1 for f in _os.listdir(batch_dir) if f.endswith(".parquet"))
    assert before > 1
    n_after = store.compact(spark, "t", target_file_bytes=1 << 30)
    assert n_after == 1
    # contents identical after compaction
    got = sorted(r.k for r in store.read_latest(spark, "t").select("k").collect())
    assert got == list(range(1000))
    # vacuum drops the older batch only
    removed = store.vacuum("t", keep_last=1)
    assert len(removed) == 1 and store.batches("t") == [batch]


def test_snapshot_compact_clustered(spark, tmp_path):
    store = SnapshotStore(str(tmp_path))
    df = spark.range(0, 2000).withColumnRenamed("id", "k").withColumn(
        "v", F.col("k") * 2
    )
    store.write("t", df.repartition(8), dt.datetime(2026, 2, 1))
    n = store.compact(spark, "t", target_file_bytes=1 << 30, sort_by=["k"])
    assert n == 1
    got = store.read_latest(spark, "t")
    # contents intact
    assert got.count() == 2000
    # clustering held: rows inside the file are sorted by k
    ks = [r.k for r in got.select("k").collect()]
    assert ks == sorted(ks)


def test_snapshot_vacuum_repairs_crashed_compact(spark, tmp_path):
    """A compact() crash between its two renames leaves the batch as
    .compact_old.<batch> with the batch dir missing; vacuum must restore
    it (data-preserving) and clean .compact_tmp.* garbage."""
    import os

    from spark_data_engineering_spark.sources.snapshot import (
        PARTITION_COL,
        SnapshotStore,
    )
    import datetime as dt

    store = SnapshotStore(str(tmp_path))
    store.write("t", spark.range(5), dt.datetime(2024, 1, 1))
    store.write("t", spark.range(5, 9), dt.datetime(2024, 1, 2))
    batches = store.batches("t")
    crash_batch = batches[-1]
    batch_dir = os.path.join(store.path("t"), f"{PARTITION_COL}={crash_batch}")
    # simulate the crash window: batch renamed to trash, new dir not yet in
    os.rename(batch_dir, os.path.join(store.path("t"), f".compact_old.{crash_batch}"))
    os.makedirs(os.path.join(store.path("t"), ".compact_tmp.garbage"))
    store.vacuum("t", keep_last=2)
    assert os.path.isdir(batch_dir), "crashed compact batch not restored"
    assert store.read_latest(spark, "t").count() == 4
    assert not any(
        d.startswith(".compact_") for d in os.listdir(store.path("t"))
    )


def test_snapshot_vacuum_sweeps_crashed_write_staging(spark, tmp_path):
    """A writer killed between its staged write and the rename leaves
    ``_staging-<batch>``; readers ignore it and vacuum removes it,
    leaving every published batch alone."""
    import datetime as dt
    import os

    from spark_data_engineering_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    store.write("t", spark.range(3), dt.datetime(2024, 1, 1))
    crashed = os.path.join(store.path("t"), "_staging-20240102T000000.000000")
    spark.range(7).write.parquet(crashed)
    assert store.read_latest(spark, "t").count() == 3
    assert store.vacuum("t") == []
    assert not os.path.exists(crashed)
    assert store.batches("t") == ["20240101T000000.000000"]
    assert store.read_latest(spark, "t").count() == 3
