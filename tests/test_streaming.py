"""Structured Streaming tests: drive finite file-source streams to
completion and compare against the equivalent batch plans."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.sources import load_table
from spark_data_engineering_spark.streaming import events as SE


@pytest.fixture(scope="module")
def stream_dir(spark, sf_dir, tmp_path_factory):
    """Events re-written as micro-batch-able parquet files (the raw
    testdata file uses nanos timestamps Spark can't stream natively).

    Files are written one time-quartile at a time so arrival order tracks
    event time — like a real event stream — and the watermark doesn't
    discard whole quartiles as late data.
    """
    import time

    path = str(tmp_path_factory.mktemp("events_stream"))
    ev = load_table(spark, "events", sf_dir).cache()
    qs = ev.approxQuantile("event_id", [0.25, 0.5, 0.75], 0.0)
    bounds = [float("-inf"), *qs, float("inf")]
    for lo, hi in zip(bounds, bounds[1:]):
        # event_id order == time order in this data (generator emits in ts order)
        chunk = ev.filter((F.col("event_id") > lo) & (F.col("event_id") <= hi))
        chunk.coalesce(1).write.mode("append").parquet(path)
        time.sleep(1.1)  # distinct mtimes -> deterministic arrival order
    ev.unpersist()
    return path


def test_hourly_stats_stream_matches_batch(spark, stream_dir):
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(SE.hourly_event_stats_stream(stream), "hourly_out")
    got = {
        (r.hour, r.event_type): (r.n_events, r.sum_value)
        for r in spark.sql("select * from hourly_out").collect()
    }
    batch = (
        spark.read.parquet(stream_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = {(r.hour, r.event_type): (r.n, r.s) for r in batch.collect()}
    # availableNow + watermark: all windows close by end-of-stream except
    # those still inside the final watermark horizon; everything emitted
    # must match the batch result exactly.
    assert got
    for k, v in got.items():
        assert want[k] == v, k
    # and the vast majority of windows must have been emitted
    assert len(got) >= len(want) * 0.9


def test_stream_dedup(spark, stream_dir):
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(SE.dedup_event_stream(stream), "dedup_out")
    n = spark.sql("select count(*) c, count(distinct event_id) d from dedup_out").collect()[0]
    assert n.c == n.d  # no duplicates pass through
    assert n.c > 0


def test_sessionize_stream(spark, stream_dir):
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(SE.sessionize_stream(stream, gap="30 minutes"), "sessions_out")
    rows = spark.sql("select * from sessions_out").collect()
    assert rows
    # session invariants: end >= start, n_events >= 1
    assert all(r.session_end >= r.session_start and r.n_events >= 1 for r in rows)


def test_stateful_spend_tracker(spark, stream_dir):
    """applyInPandasWithState: running per-user totals accumulate across
    micro-batches; final totals must equal the batch sum; the alert fires
    exactly once per user that crosses the threshold."""
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(SE.user_spend_tracker_stream(stream, alert_threshold=500.0), "spend_out")
    rows = spark.sql("select * from spend_out").collect()
    assert rows
    # last emission per user == batch total
    import collections

    last: dict[int, float] = {}
    alerts = collections.Counter()
    for r in rows:  # memory sink preserves batch order
        last[r.user_id] = r.total_spend
        if r.alert:
            alerts[r.user_id] += 1
    batch = {
        r.user_id: round(r.s, 2)
        for r in spark.read.parquet(stream_dir)
        .groupBy("user_id")
        .agg(F.sum("value").alias("s"))
        .collect()
    }
    for uid, total in batch.items():
        assert abs(last[uid] - total) < 0.05, uid
    # every user whose total crossed 500 alerted exactly once
    for uid, total in batch.items():
        assert alerts[uid] == (1 if total >= 500.0 else 0), (uid, total)


def test_foreachbatch_snapshot_sink(spark, stream_dir, tmp_path):
    from spark_data_engineering_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    stream = SE.read_event_stream(spark, stream_dir)
    q = SE.stream_to_snapshot_store(stream, store, "hourly_metrics")
    q.awaitTermination()
    final = store.read_latest(spark, "hourly_metrics")
    got = {(r.hour, r.event_type): r.n_events for r in final.collect()}
    assert got
    batch = (
        spark.read.parquet(stream_dir)
        .groupBy(F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type")
        .agg(F.count("*").alias("n"))
    )
    want = {(r.hour, r.event_type): r.n for r in batch.collect()}
    # every emitted window in the store matches the batch truth; windows
    # inside the final watermark horizon may be absent
    for key, n in got.items():
        assert want[key] == n, key
    assert len(got) >= len(want) * 0.9


def test_stream_stream_interval_join(spark, stream_dir):
    """Stream-stream self-join emits exactly the batch join's pairs
    (inner join: every pair whose two sides both arrived must appear,
    and nothing else)."""
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(
        SE.click_purchase_join_stream(stream, max_delay="30 minutes"), "cp_join_out"
    )
    got = {
        (r.click_id, r.purchase_id)
        for r in spark.sql("select * from cp_join_out").collect()
    }
    ev = spark.read.parquet(stream_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("puser"),
        F.col("ts").alias("pts"),
    )
    want = {
        (r.click_id, r.purchase_id)
        for r in c.join(
            p,
            (F.col("user_id") == F.col("puser"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
        ).collect()
    }
    assert got  # non-trivial join
    assert got <= want  # nothing fabricated
    assert len(got) >= len(want) * 0.9  # at most watermark-horizon misses


def test_stream_stream_left_outer_join(spark, stream_dir):
    """leftOuter: unconverted clicks emit exactly once with null
    purchase columns, and only clicks that truly had no purchase in the
    interval may do so."""
    stream = SE.read_event_stream(spark, stream_dir)
    SE.run_to_memory(
        SE.click_purchase_join_stream(
            stream, max_delay="30 minutes", watermark="1 hour", how="leftOuter"
        ),
        "cp_louter_out",
    )
    rows = spark.sql("select * from cp_louter_out").collect()
    assert rows
    matched = {r.click_id for r in rows if r.purchase_id is not None}
    nulls = [r.click_id for r in rows if r.purchase_id is None]
    # a click is either matched or null-emitted, never both
    assert not (set(nulls) & matched)
    # each unconverted click emits at most once
    assert len(nulls) == len(set(nulls))
    # null rows must be clicks the batch join also fails to match
    ev = spark.read.parquet(stream_dir)
    c = ev.filter(F.col("event_type") == "click").select(
        F.col("event_id").alias("click_id"), "user_id", F.col("ts").alias("cts")
    )
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("puser"), F.col("ts").alias("pts")
    )
    batch_matched = {
        r.click_id
        for r in c.join(
            p,
            (F.col("user_id") == F.col("puser"))
            & (F.col("pts") >= F.col("cts"))
            & (F.col("pts") <= F.col("cts") + F.expr("INTERVAL 30 minutes")),
            "left_semi",
        ).collect()
    }
    assert not (set(nulls) & batch_matched)
    assert nulls  # the stream really exercised the outer path


def test_snapshot_sink_fresh_run_not_dropped(spark, stream_dir, tmp_path):
    """Regression: epoch ids restart at 0 for a new checkpoint, so a
    second run against the same table must NOT collide with the first
    run's partitions (which would silently drop its batches). The
    run-namespaced batch ts makes each run's upserts land and keeps
    read_latest pointing at the newest state."""
    from spark_data_engineering_spark.sources.snapshot import SnapshotStore

    store = SnapshotStore(str(tmp_path))
    SE.stream_to_snapshot_store(
        SE.read_event_stream(spark, stream_dir), store, "hourly_metrics"
    ).awaitTermination()
    first = {
        (r.hour, r.event_type): r.n_events
        for r in store.read_latest(spark, "hourly_metrics").collect()
    }
    assert first
    # fresh query, fresh (implicit) checkpoint: epochs restart at 0
    SE.stream_to_snapshot_store(
        SE.read_event_stream(spark, stream_dir), store, "hourly_metrics"
    ).awaitTermination()
    second = {
        (r.hour, r.event_type): r.n_events
        for r in store.read_latest(spark, "hourly_metrics").collect()
    }
    # same input replayed through a new lineage: upserts must have
    # executed (not been swallowed) and converged to the same state
    assert second == first


def test_stream_static_enrichment_matches_batch(spark, stream_dir, sf_dir):
    """Stream-static broadcast join: end-of-stream complete-mode state
    equals the batch join+agg over the same files."""
    dim = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    stream = SE.read_event_stream(spark, stream_dir)
    agg = (
        SE.enrich_with_dim_stream(stream, dim, "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    q = (
        agg.writeStream.outputMode("complete")  # unwindowed agg: complete
        .format("memory")
        .queryName("enriched_out")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    got = {
        (r.c_mktsegment, r.event_type): (r.n, r.s)
        for r in spark.sql("select * from enriched_out").collect()
    }
    batch = (
        spark.read.parquet(stream_dir)
        .join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("s"))
    )
    want = {(r.c_mktsegment, r.event_type): (r.n, r.s) for r in batch.collect()}
    assert got == want and got


def test_stream_static_enrichment_exactly_once_replay(spark, stream_dir, sf_dir, tmp_path):
    """Restarting the checkpointed enrichment stream after completion
    reprocesses NOTHING — the file source's checkpoint is the
    exactly-once ledger; a second run must deliver zero rows."""
    dim = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("user_id"), "c_mktsegment")
    )
    delivered = []

    def sink(bdf, epoch_id):
        delivered.append(bdf.count())

    ckpt = str(tmp_path / "ckpt")

    def run():
        stream = SE.read_event_stream(spark, stream_dir)
        q = (
            SE.enrich_with_dim_stream(stream, dim, "user_id")
            .writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

    run()
    total_first = sum(delivered)
    n_batch = spark.read.parquet(stream_dir).join(F.broadcast(dim), "user_id").count()
    assert total_first == n_batch  # every enriched row delivered exactly once
    delivered.clear()
    run()  # same checkpoint: the replay must deliver zero rows
    assert sum(delivered) == 0


# ---- drain: the one stream lifecycle ------------------------------------

_PROVIDER = "spark.sql.streaming.stateStore.providerClass"
_ROCKSDB = "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
_HDFS = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"


def test_drain_runs_file_stream_over_batches_to_batch_answer(spark, stream_dir):
    """A file stream drained in several micro-batches ends at the batch
    answer, with the start-time state width in force."""
    agg = SE.read_event_stream(spark, stream_dir).groupBy("event_type").count()
    q = SE.drain(
        agg.writeStream.outputMode("complete").format("memory").queryName("drain_multi"),
        confs={"spark.sql.shuffle.partitions": "3"},
    )
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) >= 2
    assert {p.stateOperators[0].numShufflePartitions for p in batches} == {3}
    got = {r.event_type: r["count"] for r in spark.table("drain_multi").collect()}
    want = {
        r.event_type: r["count"]
        for r in spark.read.parquet(stream_dir).groupBy("event_type").count().collect()
    }
    assert got == want and got
    assert not q.isActive and spark.streams.active == []


def test_drain_failed_batch_propagates_and_leaves_nothing_active(spark, stream_dir):
    def fail(batch_df, epoch_id):
        raise ValueError("batch function failed")

    writer = SE.read_event_stream(spark, stream_dir).writeStream.foreachBatch(fail)
    with pytest.raises(Exception, match="batch function failed"):
        SE.drain(writer)
    assert spark.streams.active == []


@pytest.fixture
def provider_conf(spark):
    """Leave the state-store provider conf as the test found it."""
    prev = spark.conf.getAll.get(_PROVIDER)
    yield
    if prev is None:
        spark.conf.unset(_PROVIDER)
    else:
        spark.conf.set(_PROVIDER, prev)


def _plain_writer(spark, stream_dir, name):
    return (
        SE.read_event_stream(spark, stream_dir)
        .writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
    )


def test_drain_restores_a_preset_conf(spark, stream_dir, provider_conf):
    spark.conf.set(_PROVIDER, _HDFS)
    width = spark.conf.get("spark.sql.shuffle.partitions")
    SE.drain(
        _plain_writer(spark, stream_dir, "drain_preset"),
        confs={_PROVIDER: _ROCKSDB, "spark.sql.shuffle.partitions": "7"},
    )
    assert spark.conf.get(_PROVIDER) == _HDFS
    assert spark.conf.get("spark.sql.shuffle.partitions") == width


def test_drain_unsets_a_conf_that_was_absent(spark, stream_dir, provider_conf):
    spark.conf.unset(_PROVIDER)
    SE.drain(_plain_writer(spark, stream_dir, "drain_absent"), confs={_PROVIDER: _ROCKSDB})
    assert _PROVIDER not in spark.conf.getAll


def test_drain_conf_scope_holds_when_start_raises(spark, stream_dir, provider_conf):
    """Complete mode over a stream with no aggregation fails in
    ``start()``: the preset conf is restored, the absent one unset, the
    error propagates and no query is left active."""
    spark.conf.set(_PROVIDER, _HDFS)
    absent = "spark.sql.streaming.noDataMicroBatches.enabled"
    assert absent not in spark.conf.getAll
    writer = (
        SE.read_event_stream(spark, stream_dir)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("drain_bad_start")
    )
    with pytest.raises(Exception, match="(?i)complete"):
        SE.drain(writer, confs={_PROVIDER: _ROCKSDB, absent: "false"})
    assert spark.conf.get(_PROVIDER) == _HDFS
    assert absent not in spark.conf.getAll
    assert spark.streams.active == []
