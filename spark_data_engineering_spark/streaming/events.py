"""Structured Streaming over the events table.

The reference batch-loads its clickstream like every other table
(reference bronze/clickstream.py:75 — no streaming anywhere, SURVEY.md
§2.6); this module is the streaming extension surface: the same logical
plans as the batch queries (`hourly_event_stats`), executed incrementally
with watermarked state.

Local testing drives a file source with ``availableNow`` so a finite
parquet directory flushes through the stream deterministically; in
production the source would be Kafka/kinesis with the identical plan.

Scale notes: state is keyed by (window, event_type) — bounded by the
watermark horizon × type cardinality, so state stays small no matter the
input rate. ``dropDuplicatesWithinWatermark`` covers at-least-once
sources. Output mode "append" emits only finalized windows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from spark_data_engineering_spark.cacheutil import scratch_dir

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_event_stream(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream of event parquet files (one file per
    micro-batch by default)."""
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def enrich_with_dim_stream(
    events: DataFrame, dim: DataFrame, on: str | list, how: str = "inner"
) -> DataFrame:
    """Stream-static equi join — the most common production streaming
    shape (enrich an event stream with a slowly-changing dimension; the
    reference's is_active customer enrichment, done streaming —
    reference etl/jobs/daily_order_report, here at micro-batch time).

    The static side is explicitly ``broadcast()``: Structured Streaming
    re-plans the join per micro-batch, so a broadcast dim means each
    batch is a map-side hash join with NO shuffle of the stream — the
    only plan that keeps up at production event rates. The static frame
    is re-read per batch (by design: a dim updated between batches is
    picked up), which at 100 TB argues for a compact dim table behind a
    fast format. Stateless, so any output mode works and no watermark is
    needed for the join itself."""
    return events.join(F.broadcast(dim), on, how)


def hourly_event_stats_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming twin of the batch ``hourly_event_stats`` query:
    tumbling 1-hour windows per event_type with late-data tolerance."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("sum_value"))
        .select(
            F.col("w.start").alias("hour"),
            "event_type",
            "n_events",
            "sum_value",
        )
    )


def dedup_event_stream(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Streaming exact dedup on event_id within the watermark horizon —
    the streaming counterpart of the batch exact-dedup operator (needed
    for at-least-once upstream delivery)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def sessionize_stream(events: DataFrame, gap: str = "30 minutes", watermark: str = "2 hours") -> DataFrame:
    """Session windows per user: events separated by < gap merge into one
    session (built-in session_window — no custom state needed)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 2).alias("session_value"),
        )
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
            "session_value",
        )
    )


# The state shuffle width of the stateful gate queries (see ``drain``).
# Gates whose foreachBatch function or sink runs batch plans keep the
# session width: those plans run on the stream's cloned session, which
# would carry this width into every shuffle they make.
STATE_CONFS = {"spark.sql.shuffle.partitions": "8"}


def drain(
    writer: DataStreamWriter,
    *,
    checkpoint: str | None = None,
    confs: dict[str, str] | None = None,
) -> StreamingQuery:
    """Run a configured stream writer to the end of its available input
    and return the stopped query: the one stream lifecycle every gate
    query shares.

    ``confs`` are session confs set only around ``start()`` and then
    restored (or unset again if they were absent). Start-time confs
    such as the state shuffle width or the state-store provider are
    baked into the checkpoint at FIRST start, so the scope has to wrap
    ``start()`` and nothing else; the batches themselves run on the
    stream's cloned session and keep what it saw at start. Stateful
    operators keep one state store per shuffle partition and commit a
    delta file per partition per micro-batch, so at gate volume a wide
    session default is mostly store-commit overhead (measured ~2x on the
    interval join and the transformWithState query); production sizes
    it by key rate x state size.

    The checkpoint is a fresh ``scratch_dir("stream_ckpt")`` unless the
    caller passes one (to replay a checkpoint, say). The trigger is
    ``availableNow``: everything present at start is processed, then
    the query ends. A source without native ``availableNow`` support
    (the txn format's Python source) runs as ONE micro-batch to the
    offset it reports at start, so a paced source (``maxFilesPerTrigger``
    on a txn snapshot) would stop after its first chunk. ``stop()`` runs
    in a ``finally``, so a failing query leaves nothing active and its
    error propagates."""
    spark = writer._spark
    confs = confs or {}
    prev = spark.conf.getAll
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        q = (
            writer.option("checkpointLocation", checkpoint or scratch_dir("stream_ckpt"))
            .trigger(availableNow=True)
            .start()
        )
    finally:
        for k in confs:
            if k in prev:
                spark.conf.set(k, prev[k])
            else:
                spark.conf.unset(k)
    try:
        q.awaitTermination()
    finally:
        q.stop()
    return q


def run_to_memory(
    stream_df: DataFrame,
    name: str,
    mode: str = "append",
    confs: dict[str, str] | None = None,
) -> DataFrame:
    """``drain`` into the in-memory table ``name`` and return it."""
    drain(
        stream_df.writeStream.outputMode(mode).format("memory").queryName(name),
        confs=confs,
    )
    return stream_df.sparkSession.table(name)


def user_spend_tracker_stream(events: DataFrame, alert_threshold: float = 1000.0) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: per-user
    cumulative spend across micro-batches, emitting one row per user per
    batch with the running total and an alert flag when it first crosses
    ``alert_threshold``.

    This is the shape built-in windowed aggs can't express: state is a
    running scalar over the whole stream (no window), and emission logic
    (first-crossing alert) depends on the state transition. State per
    user = 16 bytes — bounded by user cardinality, not event volume.
    """
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    def track(key, pdfs, state: GroupState):
        import pandas as pd

        (user_id,) = key
        total, alerted = state.get if state.exists else (0.0, False)
        batch_sum = 0.0
        for pdf in pdfs:
            batch_sum += float(pdf["value"].sum())
        new_total = total + batch_sum
        crossed = (not alerted) and new_total >= alert_threshold
        state.update((new_total, alerted or crossed))
        yield pd.DataFrame(
            {
                "user_id": [user_id],
                "total_spend": [round(new_total, 2)],
                "alert": [crossed],
            }
        )

    return events.groupBy("user_id").applyInPandasWithState(
        track,
        outputStructType="user_id bigint, total_spend double, alert boolean",
        stateStructType="total double, alerted boolean",
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_to_snapshot_store(
    events: DataFrame,
    store,
    table: str,
    watermark: str = "2 hours",
):
    """Exactly-once-ish sink: hourly aggregates upserted into the
    SnapshotStore via foreachBatch. Each micro-batch MERGEs its windows
    by key, so a replayed batch (failure recovery) converges to the same
    state instead of duplicating rows — the foreachBatch idempotent-sink
    pattern.

    Returns the StreamingQuery (caller awaits/stops)."""
    import datetime as dt
    import logging

    from pyspark.sql import functions as F2

    agg = (
        events.withWatermark("ts", watermark)
        .groupBy(F2.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F2.count("*").alias("n_events"), F2.round(F2.sum("value"), 2).alias("sum_value"))
        .select(F2.col("w.start").alias("hour"), "event_type", "n_events", "sum_value")
    )

    # Per-run namespace for batch timestamps. Epoch ids alone are NOT a
    # safe partition key: a new/reset checkpoint restarts epochs at 0, so
    # a fresh run against an existing table would collide with old
    # partitions and the immutability guard would silently DROP its
    # batches. The query-start wall clock (a) distinguishes run lineages,
    # (b) is monotonic across runs, so read_latest ("max partition")
    # still resolves to the newest run, and (c) is captured in the
    # closure, so an in-run epoch replay (task retry after a sink
    # failure) still lands on the same partition name and hits the
    # idempotency guard as intended.
    run_base = dt.datetime.now(dt.timezone.utc).replace(tzinfo=None)

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        ts = run_base + dt.timedelta(seconds=epoch_id)
        try:
            store.upsert(
                batch_df.sparkSession, table, batch_df, keys=["hour", "event_type"], batch_ts=ts
            )
        except FileExistsError:
            # true replay of this run's epoch after a successful commit —
            # converged already, but say so instead of vanishing
            logging.getLogger(__name__).warning(
                "snapshot sink: epoch %d for table %r already committed at %s; "
                "skipping replayed write",
                epoch_id,
                table,
                ts.isoformat(),
            )

    return (
        agg.writeStream.outputMode("update")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def stream_to_txn_table(
    events: DataFrame, table, app_id: str, auto_compact: bool = False
):
    """Exactly-once raw ingest into a transaction-logged table: each
    micro-batch is one ``append_idempotent`` commit carrying the
    (app_id, epoch_id) watermark IN the commit record, so a replayed
    batch — foreachBatch re-delivers after any sink failure, and a
    restarted checkpoint re-runs the last uncommitted epoch — commits
    nothing. This is Delta's txnAppId/txnVersion streaming sink
    (reference writes Delta: spark/conf/spark-defaults.conf:14); unlike
    the snapshot-store sink above, no convergence argument is needed —
    duplicate delivery is structurally impossible because the dedup
    decision and the data land in the same atomic log entry.

    ``app_id`` identifies the logical stream across restarts (pass the
    same id with a fresh checkpoint and already-ingested epochs stay
    deduplicated). Caveat, inherited from Delta: epochs are compared
    numerically, so reusing an app_id with a RESET checkpoint over a
    source that has since grown will skip the low-numbered epochs — keep
    (app_id, checkpoint) paired, or use a new app_id for a new lineage.

    ``auto_compact=True`` runs ``table.compact_small`` after each
    committed epoch (Delta's autoOptimize.autoCompact): a streaming
    sink writes one file per task per epoch, and unchecked that
    compounds into thousands of KB-scale files whose per-file open
    cost eventually dominates every scan; the check itself is
    metadata-only and no-ops until enough small files accumulate.
    Compaction is a separate net-zero commit — replays and downstream
    CDF/stream readers skip it by the existing action triage.
    Returns the StreamingQuery."""

    def sink(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        table.append_idempotent(batch_df, app_id=app_id, epoch_id=epoch_id)
        if auto_compact:
            table.compact_small(batch_df.sparkSession)

    return (
        events.writeStream.outputMode("append")
        .foreachBatch(sink)
        .trigger(availableNow=True)
        .start()
    )


def click_purchase_join_stream(
    events: DataFrame,
    max_delay: str = "30 minutes",
    watermark: str = "4 hours",
    how: str = "inner",
) -> DataFrame:
    """Stream-stream interval self-join: each purchase matched to the
    same user's clicks in the preceding ``max_delay`` (the streaming twin
    of the batch ``signup_click_purchase_funnel`` / as-of attribution).

    ``how="leftOuter"`` keeps unconverted clicks: a click with no
    purchase inside the interval emits once with null purchase columns —
    but only after the watermark passes the end of its match interval
    (Spark must prove no future purchase can match before emitting the
    null row). That delay is the price of correct outer semantics on
    unbounded streams.

    Both sides carry a watermark and the join condition time-bounds each
    side against the other, so Spark derives the state-retention horizon
    and evicts buffered rows automatically — state is O(rate x
    (watermark + max_delay)), not O(stream length). Inner joins emit a
    match as soon as both rows have arrived (no window-close latency).

    At scale both branches read the same Kafka source; Spark partitions
    join state by user_id, so throughput scales with shuffle partitions
    while per-key state stays tiny.
    """
    clicks = (
        events.filter(F.col("event_type") == "click")
        .select(
            F.col("event_id").alias("click_id"),
            F.col("user_id").alias("click_user"),
            F.col("ts").alias("click_ts"),
        )
        .withWatermark("click_ts", watermark)
    )
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("purchase_ts", watermark)
    )
    return clicks.join(
        purchases,
        (F.col("click_user") == F.col("purchase_user"))
        & (F.col("purchase_ts") >= F.col("click_ts"))
        & (F.col("purchase_ts") <= F.col("click_ts") + F.expr(f"INTERVAL {max_delay}")),
        how,
    ).select(
        F.col("click_user").alias("user_id"),
        "click_id",
        "purchase_id",
        "click_ts",
        "purchase_ts",
        "purchase_value",
    )
