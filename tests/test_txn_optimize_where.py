"""Partition-scoped OPTIMIZE (Delta's ``OPTIMIZE tbl WHERE part = v``).

compact(where=...) rewrites ONLY the live files whose recorded
partitionValues match — the 100 TB maintenance pattern where you
bin-pack yesterday's churned partition and never touch the rest of the
corpus. Untouched partitions must keep their files byte-identical
(same names in the live set); non-partition predicates are refused.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import TxnTable


@pytest.fixture()
def part_table(spark, tmp_path):
    t = TxnTable(str(tmp_path / "t"), "t", partition_cols=("status",))
    df = (
        spark.range(600)
        .withColumn("status", F.when(F.col("id") % 3 == 0, "A").otherwise("B"))
        .withColumn("amount", (F.col("id") * 7 % 100).cast("long"))
    )
    # two fragmented appends -> several small files per partition
    t.append(df.filter(F.col("id") < 300).repartition(4))
    t.append(df.filter(F.col("id") >= 300).repartition(4))
    return t


def _files_by_part(t):
    stats = t.file_stats()
    out = {}
    for f in t.live_files():
        pv = (stats.get(f) or {}).get("partitionValues") or {}
        out.setdefault(pv.get("status"), set()).add(f)
    return out


def test_where_rewrites_only_matching_partition(spark, part_table):
    t = part_table
    before = _files_by_part(t)
    assert len(before["A"]) > 1  # fragmented, so compaction is real
    total_before = t.read(spark).count()
    sum_before = t.read(spark).agg(F.sum("amount")).collect()[0][0]

    t.compact(spark, where={"status": "A"})

    after = _files_by_part(t)
    # B's files survive untouched — same physical names stay live
    assert after["B"] == before["B"]
    # A was rewritten: no pre-compact file remains
    assert after["A"].isdisjoint(before["A"])
    assert len(after["A"]) < len(before["A"])
    # data unchanged
    assert t.read(spark).count() == total_before
    assert t.read(spark).agg(F.sum("amount")).collect()[0][0] == sum_before


def test_where_refuses_non_partition_column(spark, part_table):
    with pytest.raises(ValueError, match="not partition columns"):
        part_table.compact(spark, where={"amount": 5})


def test_where_refuses_on_unpartitioned_table(spark, tmp_path):
    t = TxnTable(str(tmp_path / "u"), "u")
    t.append(spark.range(10).withColumn("x", F.lit(1)))
    with pytest.raises(ValueError, match="not partition columns"):
        t.compact(spark, where={"x": 1})


def test_where_no_match_is_a_noop_commit_free(spark, part_table):
    t = part_table
    v0 = t.version()
    v1 = t.compact(spark, where={"status": "ZZZ"})
    assert v1 == v0  # nothing matched -> no rewrite, no commit
    assert t.live_files(v0) == t.live_files()


def test_where_materializes_dvs_in_scope_only(spark, part_table):
    t = part_table
    # delete some A rows merge-on-read, then compact A: DV materializes
    t.delete_where_dv(spark, (F.col("status") == "A") & (F.col("amount") < 10))
    expect = t.read(spark).count()
    t.compact(spark, where={"status": "A"})
    assert t.read(spark).count() == expect
    # the rewritten A files carry no outstanding DV rows: a full compact
    # of A leaves dv rows only for files that no longer exist
    sidecars, deleted = t.dv_state()
    live = set(t.live_files())
    assert not (set(deleted) & live)


def test_where_with_zorder_clusters_the_scoped_partition(spark, part_table):
    t = part_table
    t.compact(spark, target_file_bytes=2048, where={"status": "B"}, zorder_by=["amount"])
    live = t.live_files()
    pruned = t.prune_files({"amount": (90, 95)})
    assert len(pruned) < len(live)
    assert t.read(spark).filter("status = 'B'").count() == 400
