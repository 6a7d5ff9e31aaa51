"""Generated columns for TxnTable (Delta's GENERATED ALWAYS AS):
``generated_cols`` declared at creation, recorded in every commit via
the shared ``_stamp_props`` choke point, computed when missing on every
row-introducing write, VALIDATED over the staged bytes when supplied
(``_enforce_staged``), regenerated by UPDATE when a base column
changes, inherited by branch seeds, and honestly refused on the
connector write path (no SparkSession at its commit hook). The
intended 100 TB use: partition by ``year(o_date)`` without every
writer having to remember to derive it."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.checks import CheckError
from spark_data_engineering_spark.sources.txn import TxnTable

GEN = {"y": "id * 10 + 1"}


def _df(spark, rows, schema="id bigint, cat string, v double"):
    return spark.createDataFrame(rows, schema)


ROWS = [(1, "a", 1.0), (2, "a", 2.0), (3, "b", 3.0)]


def test_missing_generated_column_is_computed_on_append(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    got = sorted((r.id, r.y) for r in t.read(spark).collect())
    assert got == [(1, 11), (2, 21), (3, 31)]
    # the property is a log field on the commit, resolvable by a PLAIN
    # reopen (no constructor param)
    t2 = TxnTable(str(tmp_path), "t")
    assert t2.generated_cols() == GEN
    t2.append(_df(spark, [(4, "b", 4.0)]))
    assert sorted(r.y for r in t2.read(spark).collect()) == [11, 21, 31, 41]


def test_supplied_values_validated_against_expression(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    ok = _df(spark, ROWS).withColumn("y", F.col("id") * 10 + 1)
    t.append(ok)  # agreeing explicit values pass
    bad = _df(spark, [(9, "z", 9.0)]).withColumn("y", F.lit(0).cast("bigint"))
    before = set(os.listdir(t.data_dir))
    with pytest.raises(CheckError, match="disagree with generated column"):
        t.append(bad)
    # refusal is clean: no staged bytes leak, no commit landed
    assert set(os.listdir(t.data_dir)) == before
    assert t.count_rows(spark) == 3


def test_generated_partition_column_prunes_exactly(spark, tmp_path):
    t = TxnTable(
        str(tmp_path),
        "t",
        partition_cols=("y",),
        generated_cols={"y": "cat || '-p'"},
    )
    t.append(_df(spark, ROWS).repartition(2))
    t.append(_df(spark, [(4, "b", 4.0), (5, "c", 5.0)]))
    stats = t.file_stats()
    for cols in stats.values():
        assert set(cols["partitionValues"]) == {"y"}
    expect_a = sorted(
        n for n, c in stats.items() if c["partitionValues"]["y"] == "a-p"
    )
    kept = t.prune_files(None, equals={"y": "a-p"})
    assert kept == expect_a and 0 < len(kept) < len(stats)
    got = sorted(
        r.id
        for r in t.read(spark, prune_eq={"y": "a-p"})
        .filter(F.col("y") == "a-p")
        .collect()
    )
    assert got == [1, 2]


def test_update_where_regenerates_dependent_column(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    t.update_where(spark, F.col("cat") == "a", {"id": F.col("id") + 100})
    got = sorted((r.id, r.y) for r in t.read(spark).collect())
    assert got == [(3, 31), (101, 1011), (102, 1021)]


def test_update_where_refuses_generated_and_partition_moves(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    with pytest.raises(ValueError, match="generated columns"):
        t.update_where(spark, F.col("cat") == "a", {"y": F.lit(5)})
    p = TxnTable(
        str(tmp_path),
        "p",
        partition_cols=("y",),
        generated_cols={"y": "cat || '-p'"},
    )
    p.append(_df(spark, ROWS))
    with pytest.raises(ValueError, match="generated partition column"):
        p.update_where(spark, F.col("id") == 1, {"cat": F.lit("z")})


def test_merge_generates_for_inserts_and_updates(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    src = _df(spark, [(3, "b", 30.0), (4, "c", 4.0)])  # update id=3, insert id=4
    t.merge(spark, src, on=["id"])
    got = sorted((r.id, r.y, r.v) for r in t.read(spark).collect())
    assert got == [(1, 11, 1.0), (2, 21, 2.0), (3, 31, 30.0), (4, 41, 4.0)]
    # a source carrying a STALE generated value is refused, not committed
    stale = _df(spark, [(5, "d", 5.0)]).withColumn(
        "y", F.lit(-1).cast("bigint")
    )
    with pytest.raises(CheckError, match="disagree with generated column"):
        t.merge(spark, stale, on=["id"])
    assert t.count_rows(spark) == 4


def test_rename_drop_guards_cover_generation_and_constraints(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    with pytest.raises(ValueError, match="is a generated column"):
        t.drop_column(spark, "y")
    with pytest.raises(ValueError, match="referenced by generated column"):
        t.rename_column(spark, "id", "id2")
    t.add_constraint(spark, "v_pos", "v > 0")
    with pytest.raises(ValueError, match="referenced by CHECK constraint"):
        t.drop_column(spark, "v")
    t.rename_column(spark, "cat", "category")  # unreferenced: still fine


def test_branch_inherits_generation(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    b = t.branch("dev")
    assert b.generated_cols() == GEN
    b.append(_df(spark, [(7, "z", 7.0)]))
    assert sorted(r.y for r in b.read(spark).collect()) == [11, 21, 31, 71]
    assert sorted(r.y for r in t.read(spark).collect()) == [11, 21, 31]


def test_redeclare_conflict_refused_and_stream_bootstrap_records(
    spark, tmp_path
):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    # FIRST commit via append_idempotent (the stream-bootstrap path that
    # once dropped partition_cols): the props must still be recorded
    t.append_idempotent(_df(spark, ROWS), "app", 0)
    assert TxnTable(str(tmp_path), "t").generated_cols() == GEN
    with pytest.raises(ValueError, match="immutable"):
        TxnTable(
            str(tmp_path), "t", generated_cols={"y": "id"}
        ).generated_cols()


def test_connector_writer_refuses_generated_tables(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", generated_cols=GEN)
    t.append(_df(spark, ROWS))
    from spark_data_engineering_spark.sources.txn_datasource import (
        TxnDataSource,
    )

    spark.dataSource.register(TxnDataSource)
    with pytest.raises(Exception, match="generated columns"):
        _df(spark, [(9, "x", 9.0)]).withColumn(
            "y", F.col("id") * 10 + 1
        ).write.format("txn").mode("append").save(t.table_dir)


def test_handle_that_resolved_before_creation_generates(spark, tmp_path):
    """A handle that resolved the (empty) generation map before another
    handle created the table must pick the declaration up on its next
    write: the head property cache is version-keyed, so the new commit
    refreshes it instead of leaving the column uncomputed (NULL)."""
    a = TxnTable(str(tmp_path), "t")
    assert a.generated_cols() == {}
    b = TxnTable(str(tmp_path), "t", generated_cols={"g": "x * 2"})
    b.append(spark.createDataFrame([(1,), (2,)], "x bigint"))
    a.append(spark.createDataFrame([(3,), (4,)], "x bigint"))
    fresh = TxnTable(str(tmp_path), "t")
    got = sorted((r.x, r.g) for r in fresh.read(spark).collect())
    assert got == [(1, 2), (2, 4), (3, 6), (4, 8)]
