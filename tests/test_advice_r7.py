"""Regression tests for the round-7 ADVICE findings:

1. (high) TxnStreamReader resolved the initial-snapshot file list / DV
   snapshot at CONSTRUCTION time (current head), but checkpointed snap
   offsets index the ORIGINAL run's sorted list. A restart mid-snapshot
   after commits landed while the stream was down shifted the list
   under the checkpointed index — silent duplicates + permanently
   dropped files (tailing also started after the restart-time head, so
   interleaved commits were never replayed). Offsets now embed
   ``snapVersion``; ``_pin_snapshot`` rebuilds the list from that
   version and tailing starts there.
2. (low) vacuum's ``.trash-*`` / ``.rebase-*`` scratch sweep shared the
   staged-file ``min_age_s`` guard (default 0.0), so a routine
   ``vacuum(min_age_s=0)`` straight after a crash mid-rebase-swap
   destroyed the only recovery copies of the branch. Scratch dirs are
   now only collected when ``min_age_s > 0``.
3. (low) a change-feed stream replaying a ``delete_dv`` commit whose
   marked data file was later compacted away and vacuumed crashed with
   a raw missing-file error; the planner now refuses with a
   descriptive 'version no longer readable, data vacuumed' message.
"""

from __future__ import annotations

import os
import time

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources.txn import TxnTable
from spark_data_engineering_spark.sources.txn_datasource import TxnDataSource


@pytest.fixture(autouse=True)
def _register(spark):
    spark.dataSource.register(TxnDataSource)


def _run_pipe(spark, src, tmp_path, mft, trigger_once=False):
    q = (
        spark.readStream.format("txn")
        .option("maxFilesPerTrigger", str(mft))
        .load(src.table_dir)
        .writeStream.format("txn")
        .option("txnAppId", "advr7")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
    )
    if trigger_once:
        q = q.trigger(once=True)
    started = q.start(str(tmp_path / "dst"))
    try:
        if trigger_once:
            started.awaitTermination(120)
        else:
            started.processAllAvailable()
    finally:
        started.stop()
    return TxnTable(str(tmp_path), "dst")


def test_paced_restart_with_concurrent_append_exactly_once(spark, tmp_path):
    """Finding 1: stop mid-snapshot, append while the stream is down,
    restart on the same checkpoint — every original row exactly once
    AND the downtime append exactly once (the shifted uuid-sorted list
    must not duplicate below / drop above the checkpointed index)."""
    src = TxnTable(str(tmp_path), "src")
    src.append(spark.range(8).withColumn("v", F.col("id") * 2).repartition(4))
    dst = _run_pipe(spark, src, tmp_path, mft=1, trigger_once=True)
    n_first = dst.read(spark).count()
    assert 0 < n_first < 8  # genuinely stopped mid-snapshot
    # commits land while the stream is down: the live-file list at the
    # restart-time head is longer AND sorts differently than the list
    # the checkpointed snap offset was minted against
    src.append(
        spark.range(100, 106).withColumn("v", F.lit(0).cast("long")).repartition(3)
    )
    dst = _run_pipe(spark, src, tmp_path, mft=1)
    got = sorted(r.id for r in dst.read(spark).collect())
    assert got == list(range(8)) + list(range(100, 106))


def test_paced_restart_with_concurrent_append_and_dv(spark, tmp_path):
    """Finding 1, DV flank: a delete_dv landing while a paced stream is
    down must ABORT the restarted stream (its rows were already part of
    the pinned snapshot) — not be silently folded into a head-rebuilt
    snapshot while the already-emitted prefix keeps the deleted rows."""
    src = TxnTable(str(tmp_path), "src")
    src.append(spark.range(8).withColumn("v", F.col("id") * 2).repartition(4))
    dst = _run_pipe(spark, src, tmp_path, mft=1, trigger_once=True)
    assert 0 < dst.read(spark).count() < 8
    src.delete_where_dv(spark, F.col("id") == 0)
    with pytest.raises(Exception, match="row-deletion|ignoreChanges"):
        _run_pipe(spark, src, tmp_path, mft=1)


def test_vacuum_min_age_zero_keeps_rebase_scratch(spark, tmp_path):
    """Finding 2: simulate a crash mid-rebase-swap (a .trash-* copy of
    the branch line under _branches/), then vacuum(min_age_s=0) — the
    scratch must survive; a positive retention window still collects."""
    t = TxnTable(str(tmp_path), "t")
    t.append(spark.range(4).withColumn("v", F.col("id")))
    bdir = os.path.join(t.table_dir, "_branches")
    trash = os.path.join(bdir, ".trash-deadbeef")
    os.makedirs(trash)
    with open(os.path.join(trash, "marker"), "w") as fh:
        fh.write("old branch line")
    old = time.time() - 7200
    os.utime(trash, (old, old))
    t.vacuum(min_age_s=0)
    assert os.path.isdir(trash), "min_age_s=0 must not sweep recovery scratch"
    t.vacuum(min_age_s=1.0)
    assert not os.path.isdir(trash)


def test_cdf_refuses_vacuumed_delete_target(spark, tmp_path):
    """Finding 3: delete_dv -> compact -> vacuum, then a change-feed
    stream tailing from before the delete gets a descriptive retention
    refusal, not a missing-file crash inside a read task."""
    t = TxnTable(str(tmp_path), "src")
    t.append(spark.range(10).withColumn("v", F.col("id") * 3))  # v1
    t.delete_where_dv(spark, F.col("id") < 3)  # v2
    t.compact(spark)  # v3 rewrites, drops DV positions
    t.vacuum(min_age_s=0)  # original data file gone
    q = (
        spark.readStream.format("txn")
        .option("readChangeFeed", "true")
        .option("startingVersion", "1")
        .load(t.table_dir)
        .writeStream.format("memory")
        .queryName("advr7_cdf_gone")
        .option("checkpointLocation", str(tmp_path / "ckpt_cdf"))
        .start()
    )
    try:
        with pytest.raises(Exception, match="no longer readable|vacuum"):
            q.processAllAvailable()
            q.awaitTermination(60)
    finally:
        q.stop()

