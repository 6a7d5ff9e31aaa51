"""ALTER COLUMN type widening (round 12; VERDICT r11 task 5 — Delta
3.x type widening / Iceberg schema evolution): ``widen_column`` is ONE
metadata commit; old files keep their narrow physical pages and reads
upcast them through the explicit read schema; narrowing and
cross-family changes are refused; writes and MERGE sources already at
the widened type stop being type conflicts."""

from __future__ import annotations

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import (
    ConcurrentWriteError,
    TxnTable,
)


def _ints(spark, *ks):
    return spark.createDataFrame(
        [(k, f"r{k}") for k in ks], "k int, tag string"
    ).coalesce(1)


def test_widen_int_to_bigint_reads_old_files(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2))
    v_narrow = t.version()
    t.widen_column(spark, "k", "bigint")
    # metadata-only: no data file added or removed by the DDL commit
    rec = t._read_commit(t.version())
    assert rec["action"] == "widen_column"
    assert rec["add"] == [] and rec["remove"] == []
    # post-widen write at the wide type, beyond int32 range
    t.append(
        spark.createDataFrame(
            [(2**40, "big")], "k bigint, tag string"
        ).coalesce(1)
    )
    df = t.read(spark)
    assert dict(df.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in df.collect()) == [1, 2, 2**40]
    # old snapshots replay the narrow schema (log property)
    old = t.read(spark, v_narrow)
    assert dict(old.dtypes)["k"] == "int"
    assert sorted(r.k for r in old.collect()) == [1, 2]
    assert t.fsck()["ok"]


def test_narrow_batch_still_accepted_after_widen(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1))
    t.widen_column(spark, "k", "bigint")
    # an old writer still emitting int stages narrow, reads wide
    t.append(_ints(spark, 7))
    df = t.read(spark)
    assert dict(df.dtypes)["k"] == "bigint"
    assert sorted(r.k for r in df.collect()) == [1, 7]


def test_widen_refusals(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t", partition_cols=("p",))
    t.append(
        spark.createDataFrame(
            [(1, "a", 1.5)], "k int, p string, x double"
        ).coalesce(1)
    )
    with pytest.raises(ValueError, match="not a widening"):
        t.widen_column(spark, "x", "float")  # narrowing
    with pytest.raises(ValueError, match="not a widening"):
        t.widen_column(spark, "k", "string")  # cross-family
    with pytest.raises(ValueError, match="not a widening"):
        # long -> double is lossy beyond 2^53 (Delta refuses it too)
        t2v = TxnTable(str(tmp_path), "tl")
        t2v.append(
            spark.createDataFrame([(1,)], "k bigint").coalesce(1)
        )
        t2v.widen_column(spark, "k", "double")
    with pytest.raises(ValueError, match="nothing to widen"):
        t.widen_column(spark, "k", "int")  # same type = no-op DDL
    with pytest.raises(ValueError, match="no column"):
        t.widen_column(spark, "nope", "bigint")
    with pytest.raises(ValueError, match="partition column"):
        t.widen_column(spark, "p", "string")
    t.drop_column(spark, "x")
    with pytest.raises(ValueError, match="no column"):
        t.widen_column(spark, "x", "double")  # dropped tombstone


def test_widen_float_and_decimal(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(
        spark.createDataFrame([(1,)], "k int")
        .select(
            F.col("k"),
            F.lit(1.5).cast("float").alias("f"),
            F.lit("12.34").cast("decimal(10,2)").alias("d"),
        )
        .coalesce(1)
    )
    t.widen_column(spark, "f", "double")
    t.widen_column(spark, "d", "decimal(14,2)")
    got = t.read(spark)
    assert dict(got.dtypes)["f"] == "double"
    assert dict(got.dtypes)["d"] == "decimal(14,2)"
    row = got.collect()[0]
    assert row.f == 1.5 and float(row.d) == 12.34
    # scale-up with preserved integer-digit capacity IS a widening
    # (Delta 4.0; the parquet reader rescales on read) ...
    t.widen_column(spark, "d", "decimal(16,4)")
    r2 = t.read(spark).collect()[0]
    assert float(r2.d) == 12.34 and dict(t.read(spark).dtypes)["d"] == "decimal(16,4)"
    # ... losing integer digits is not (12 -> 6 digits left of the dot)
    with pytest.raises(ValueError, match="not a widening"):
        t.widen_column(spark, "d", "decimal(10,4)")


def test_merge_source_at_widened_type(spark, tmp_path):
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2))
    wide_src = spark.createDataFrame(
        [(2, "upd"), (2**40, "new")], "k bigint, tag string"
    ).coalesce(1)
    # before the widen: a wider source is a type conflict
    with pytest.raises(ValueError, match="widen"):
        t.merge(spark, wide_src, on=["k"])
    t.widen_column(spark, "k", "bigint")
    t.merge(spark, wide_src, on=["k"])
    got = {(r.k, r.tag) for r in t.read(spark).collect()}
    assert got == {(1, "r1"), (2, "upd"), (2**40, "new")}


def test_rewrites_and_cdf_span_the_widening(spark, tmp_path):
    """Copy-on-write rewrites (delete/compact) read MIXED physical
    widths through the widened schema; the change feed's removed-side
    diff (read at schema v-1, conformed at v) stays consistent."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2, 3))
    t.widen_column(spark, "k", "bigint")
    t.append(
        spark.createDataFrame(
            [(2**40, "big")], "k bigint, tag string"
        ).coalesce(1)
    )
    t.delete_where(spark, F.col("k") == 2)  # rewrite spans mixed files
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3, 2**40]
    t.compact(spark)
    assert sorted(r.k for r in t.read(spark).collect()) == [1, 3, 2**40]
    ch = t.read_changes(spark, from_version=0)
    assert dict(ch.dtypes)["k"] == "bigint"
    folded = (
        ch.withColumn(
            "sign",
            F.when(
                F.col("_change_type").isin("insert", "update_postimage"), 1
            ).otherwise(-1),
        )
        .groupBy("k")
        .agg(F.sum("sign").alias("n"))
        .filter("n > 0")
    )
    assert sorted(r.k for r in folded.collect()) == [1, 3, 2**40]
    assert t.fsck()["ok"]


def test_branch_refusal_parity(spark, tmp_path):
    """widen_column joins the DDL family's branch/rebase refusals: a
    branch carrying one cannot merge/rebase silently, and a parent
    widening after the base fails the rebase."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1))
    b = t.branch("wb")
    b.widen_column(spark, "k", "bigint")
    with pytest.raises(ValueError, match="schema-evolution"):
        t.merge_branch(b)
    b2 = t.branch("wb2")
    b2.append(_ints(spark, 5))
    t.widen_column(spark, "k", "bigint")  # parent evolves after base
    with pytest.raises(ConcurrentWriteError, match="evolved its schema"):
        t.rebase_branch(b2)


def test_widen_int_to_double_and_decimal(spark, tmp_path):
    """Delta 4.0 lattice: int -> double and int -> decimal (enough
    integer digits) are one-commit widenings; the parquet reader
    serves old int32 pages at the widened type."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 3))
    t.widen_column(spark, "k", "double")
    t.append(
        spark.createDataFrame(
            [(2.5, "frac")], "k double, tag string"
        ).coalesce(1)
    )
    got = dict((r.tag, r.k) for r in t.read(spark).collect())
    assert got == {"r3": 3.0, "frac": 2.5}
    t2 = TxnTable(str(tmp_path), "t2")
    t2.append(_ints(spark, 4))
    with pytest.raises(ValueError, match="not a widening"):
        t2.widen_column(spark, "k", "decimal(9,0)")  # 9 < 10 digits
    t2.widen_column(spark, "k", "decimal(12,2)")
    r = t2.read(spark).collect()[0]
    assert float(r.k) == 4.0
    assert dict(t2.read(spark).dtypes)["k"] == "decimal(12,2)"


def test_merge_auto_widens_with_schema_evolution(spark, tmp_path):
    """Delta's automatic type widening under withSchemaEvolution: a
    source whose key outgrew the target's INT widens the declared type
    in the merge's own commit (without the flag it stays a refusal);
    partition columns stay refused even with the flag."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2))
    wide_src = spark.createDataFrame(
        [(2, "upd"), (2**40, "new")], "k bigint, tag string"
    ).coalesce(1)
    with pytest.raises(ValueError, match="widen"):
        t.merge(spark, wide_src, on=["k"])  # strict regime refuses
    t.merge(spark, wide_src, on=["k"], schema_evolution=True)
    assert {
        f["name"]: f["type"] for f in t.table_schema()
    }["k"] == "long"
    got = {(r.k, r.tag) for r in t.read(spark).collect()}
    assert got == {(1, "r1"), (2, "upd"), (2**40, "new")}
    # partition-column widening never rides a merge, flag or not
    tp = TxnTable(str(tmp_path), "tp", partition_cols=("k",))
    tp.append(_ints(spark, 1))
    with pytest.raises(ValueError, match="cast explicitly|widen"):
        tp.merge(
            spark,
            spark.createDataFrame(
                [(2**40, "x")], "k bigint, tag string"
            ).coalesce(1),
            on=["k"],
            schema_evolution=True,
        )


def test_stream_aborts_on_mid_stream_widen(spark, tmp_path):
    """Mid-stream widen_column invalidates the stream's resolved column
    map exactly like rename/add/drop (the reader would keep serving the
    NARROW type for post-widen files): planning a batch range spanning
    a widen commit newer than stream start must abort for a restart —
    Delta's mid-stream schema-evolution contract."""
    from spark_data_engineering_spark.sources.txn_datasource import (
        TxnStreamReader,
    )

    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2))
    reader = TxnStreamReader(
        t.table_dir, t.read(spark).schema, ignore_changes=False
    )
    start = reader.latestOffset()  # snapshot drained; tail from here
    t.widen_column(spark, "k", "bigint")
    t.append(
        spark.createDataFrame(
            [(2**40, "big")], "k bigint, tag string"
        ).coalesce(1)
    )
    end = reader.latestOffset()
    with pytest.raises(RuntimeError, match="widen_column.*restart"):
        reader.partitions(start, end)


def test_widen_refuses_when_concurrent_evolve_names_the_column(
    spark, tmp_path
):
    """Interleave a ``set_partitioning(("k",))`` between widen_column's
    first commit attempt and its retry: the first attempt loses the CAS
    (the evolve claimed the version), and the retry's schema_transform
    — replayed against the fresh head — must now see ``k`` as a
    partition column and refuse (ADVICE r12: the guard runs inside the
    commit loop, not before it)."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1, 2))

    racer = TxnTable(str(tmp_path), "t")
    orig = t._try_commit
    fired = {"n": 0}

    def interleaved(record):
        if record.get("action") == "widen_column" and fired["n"] == 0:
            fired["n"] += 1
            racer.set_partitioning(spark, ("k",))
        return orig(record)

    t._try_commit = interleaved
    try:
        with pytest.raises(ValueError, match="partition column"):
            t.widen_column(spark, "k", "bigint")
    finally:
        t._try_commit = orig
    assert fired["n"] == 1  # the race actually fired
    # the evolve is the head commit; no widen landed after it
    fresh = TxnTable(str(tmp_path), "t")
    assert fresh.partition_cols() == ("k",)
    assert [f["type"] for f in fresh.table_schema() if f["name"] == "k"] == [
        "integer"
    ]


def test_widen_nonpartition_column_survives_lost_race(spark, tmp_path):
    """The retry itself still works: losing the CAS to a concurrent
    APPEND (which does not touch partitioning) retries and lands the
    widen."""
    t = TxnTable(str(tmp_path), "t")
    t.append(_ints(spark, 1))

    racer = TxnTable(str(tmp_path), "t")
    orig = t._try_commit
    fired = {"n": 0}

    def interleaved(record):
        if record.get("action") == "widen_column" and fired["n"] == 0:
            fired["n"] += 1
            racer.append(_ints(spark, 2))
        return orig(record)

    t._try_commit = interleaved
    try:
        t.widen_column(spark, "k", "bigint")
    finally:
        t._try_commit = orig
    assert fired["n"] == 1
    fresh = TxnTable(str(tmp_path), "t")
    assert [f["type"] for f in fresh.table_schema() if f["name"] == "k"] == [
        "long"
    ]
    assert fresh.read(spark).count() == 2
