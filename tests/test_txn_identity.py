"""Identity columns for TxnTable (Delta's GENERATED ALWAYS AS
IDENTITY): ``identity_cols`` declared at creation is an immutable log
property; values are ASSIGNED by the table (contiguous from a
high-water mark that rides each allocating commit and never regresses
— not through restore, not through branch replay), a write supplying
the column is refused, concurrent allocations from one watermark are a
commit-time conflict, and the no-coordination connector write path
refuses honestly."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import (
    ConcurrentWriteError,
    TxnTable,
)

IDS = {"rid": {"start": 1, "step": 1}}


def _df(spark, vals, parts=2):
    return spark.createDataFrame(
        [(v,) for v in vals], "v int"
    ).repartition(parts)


def _pairs(spark, t):
    return sorted((r.v, r.rid) for r in t.read(spark).collect())


def test_append_assigns_contiguous_unique_ids(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [10, 20, 30]))
    got = _pairs(spark, t)
    assert sorted(r for _, r in got) == [1, 2, 3]
    # plain reopen resolves the property and CONTINUES the watermark
    t2 = TxnTable(str(tmp_path), "t")
    assert t2.identity_cols() == IDS
    t2.append(_df(spark, [40, 50]))
    assert sorted(r for _, r in _pairs(spark, t2)) == [1, 2, 3, 4, 5]


def test_supplied_identity_column_refused(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    with pytest.raises(ValueError, match="GENERATED ALWAYS AS IDENTITY"):
        t.append(_df(spark, [1]).withColumn("rid", F.lit(9)))
    with pytest.raises(ValueError, match="step must be nonzero"):
        TxnTable(str(tmp_path), "u", identity_cols={"x": {"step": 0}})


def test_start_step_and_overwrite_never_reuse(spark, tmp_path):
    t = TxnTable(
        str(tmp_path), "t", identity_cols={"k": {"start": 100, "step": 10}}
    )
    t.append(_df(spark, [1, 2]))
    assert sorted(r.k for r in t.read(spark).collect()) == [100, 110]
    # overwrite replaces the ROWS but the watermark keeps climbing
    # (Delta: identity values are never reused)
    t.overwrite(_df(spark, [3]))
    assert [r.k for r in t.read(spark).collect()] == [120]
    # delete-all then append: still climbing
    t.delete_where(spark, F.col("v") == 3)
    t.append(_df(spark, [4]))
    assert [r.k for r in t.read(spark).collect()] == [130]


def test_rewrites_preserve_ids(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [10, 20, 30, 40]))
    before = dict(_pairs(spark, t))
    t.delete_where(spark, F.col("v") == 20)  # copy-on-write rewrite
    t.compact(spark, target_file_bytes=1 << 20)
    t.update_where(spark, F.col("v") == 30, {"v": F.lit(31)})
    after = {r.v: r.rid for r in t.read(spark).collect()}
    assert after == {10: before[10], 31: before[30], 40: before[40]}
    with pytest.raises(ValueError, match="IDENTITY"):
        t.update_where(spark, F.col("v") == 10, {"rid": F.lit(0)})
    with pytest.raises(ValueError, match="IDENTITY"):
        t.drop_column(spark, "rid")


def test_merge_keeps_target_ids_and_allocates_inserts(spark, tmp_path):
    """MERGE on an identity table: matched rows KEEP the target's ids
    (an update never re-assigns), inserted rows get fresh contiguous
    ids from the watermark, and a source supplying the column is
    refused."""
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(
        spark.createDataFrame(
            [(10, 1.0), (20, 2.0), (30, 3.0)], "v int, x double"
        ).repartition(2)
    )
    before = {r.v: r.rid for r in t.read(spark).collect()}
    src = spark.createDataFrame(
        [(20, 22.0), (40, 4.0), (50, 5.0)], "v int, x double"
    )
    t.merge(spark, src, on=["v"])  # update 20, insert 40+50
    rows = {r.v: (r.rid, r.x) for r in t.read(spark).collect()}
    assert rows[20] == (before[20], 22.0)  # id kept, value updated
    assert rows[10][0] == before[10] and rows[30][0] == before[30]
    assert sorted(rows[v][0] for v in (40, 50)) == [4, 5]  # fresh ids
    assert t.identity_high() == {"rid": 5}
    # delete-only merges never allocate
    t.merge(
        spark,
        spark.createDataFrame([(10,)], "v int"),
        on=["v"],
        when_matched="delete",
        when_not_matched=None,
    )
    assert t.identity_high() == {"rid": 5}
    with pytest.raises(ValueError, match="table-assigned"):
        t.merge(
            spark,
            src.withColumn("rid", F.lit(99).cast("bigint")),
            on=["v"],
        )
    # the streaming upsert sink composes on identity tables now too
    from spark_data_engineering_spark.streaming.upsert import (
        stream_upsert_to_txn,
    )

    staged = str(tmp_path / "stream_in")
    spark.createDataFrame(
        [(20, 200.0), (60, 6.0)], "v int, x double"
    ).coalesce(1).write.parquet(staged)
    q = stream_upsert_to_txn(
        spark.readStream.schema("v int, x double").parquet(staged),
        t,
        "ups-id",
        on=["v"],
    )
    q.awaitTermination()
    rows = {r.v: (r.rid, r.x) for r in t.read(spark).collect()}
    assert rows[20] == (before[20], 200.0)  # still the original id
    assert rows[60][1] == 6.0 and rows[60][0] == 6  # next watermark value


def test_concurrent_allocation_is_refused(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [1]))
    v0 = t.version()
    t.append(_df(spark, [2]))  # allocates from the v0 watermark
    # a second writer that ALSO read the watermark at v0 must be refused
    with pytest.raises(ConcurrentWriteError, match="identity"):
        t._commit(
            "append",
            [],
            [],
            identity_high={"rid": 99},
            identity_base_version=v0,
        )


def test_idempotent_epochs_allocate_once(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    assert t.append_idempotent(_df(spark, [1, 2]), "app", 0) is not None
    assert t.append_idempotent(_df(spark, [1, 2]), "app", 0) is None  # replay
    assert t.append_idempotent(_df(spark, [3]), "app", 1) is not None
    assert sorted(r.rid for r in t.read(spark).collect()) == [1, 2, 3]
    assert t.identity_high() == {"rid": 3}


def test_branch_allocations_merge_and_rebase_conflict(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [1, 2]))
    b = t.branch("dev")
    assert b.identity_cols() == IDS
    b.append(_df(spark, [3]))
    assert sorted(r.rid for r in b.read(spark).collect()) == [1, 2, 3]
    t.merge_branch(b)
    t.drop_branch("dev")
    # the branch's allocation advanced the PARENT's watermark
    assert t.identity_high() == {"rid": 3}
    t.append(_df(spark, [4]))
    assert sorted(r.rid for r in t.read(spark).collect()) == [1, 2, 3, 4]
    # rebase with BOTH lines allocating: refused (staged ids collide)
    b2 = t.branch("dev2")
    t.append(_df(spark, [5]))  # parent allocates rid=5
    b2.append(_df(spark, [6]))  # branch allocates rid=5 too
    with pytest.raises(ConcurrentWriteError, match="IDENTITY"):
        t.rebase_branch(b2)


def test_restore_does_not_regress_watermark(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [1]))
    v1 = t.version()
    t.append(_df(spark, [2]))
    t.restore(v1)
    assert [r.rid for r in t.read(spark).collect()] == [1]
    # the rolled-back allocation is NOT reused
    t.append(_df(spark, [3]))
    assert sorted(r.rid for r in t.read(spark).collect()) == [1, 3]


def test_connector_writer_refuses_identity_tables(spark, tmp_path):
    from spark_data_engineering_spark.sources.txn_datasource import (
        TxnDataSource,
    )

    spark.dataSource.register(TxnDataSource)
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.append(_df(spark, [1]))
    with pytest.raises(Exception, match="identity columns"):
        _df(spark, [2]).write.format("txn").mode("append").save(t.table_dir)


def test_merge_insert_as_first_commit_keeps_identity_schema(spark, tmp_path):
    """Deep model-search finding (round 8): when a merge-INSERT is the
    table's FIRST row-introducing commit, the logical schema must fold
    the identity column in AFTER assignment — the pre-insert schema
    (from the bare source) has no rid, and committing it would make
    every read silently drop the assigned ids."""
    t = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    t.merge(spark, _df(spark, [0]), on=["v"])  # empty table: pure insert
    rows = t.read(spark).collect()
    assert [(r.v, r.rid) for r in rows] == [(0, 1)]
    assert t.identity_high() == {"rid": 1}
    t.append(_df(spark, [5]))
    assert sorted((r.v, r.rid) for r in t.read(spark).collect()) == [
        (0, 1),
        (5, 2),
    ]


def test_handle_that_resolved_before_creation_allocates(spark, tmp_path):
    """A handle that resolved the (empty) identity spec before another
    handle created the table must allocate ids on its next write,
    contiguous after the creator's, instead of writing NULL ids."""
    a = TxnTable(str(tmp_path), "t")
    assert a.identity_cols() == {}
    b = TxnTable(str(tmp_path), "t", identity_cols=IDS)
    b.append(_df(spark, [10, 20]))
    a.append(_df(spark, [30, 40]))
    got = _pairs(spark, TxnTable(str(tmp_path), "t"))
    ids = [r for _, r in got]
    assert None not in ids, got
    assert sorted(ids) == [1, 2, 3, 4]
    assert sorted(r for v, r in got if v >= 30) == [3, 4]
