"""Structured-Streaming queries under the correctness gate: each
stream's end-of-stream state must hash-match the SAME DuckDB oracle as
its batch twin. Every gate runs its stream through
``streaming.events.drain``; what differs between gates is the plan."""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_data_engineering_spark.cacheutil import (
    cache_path,
    cached,
    resume_dir,
    scratch_dir,
)
from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.queries.incremental_q import (
    orders_ds_table,
    txn_cached,
)
from spark_data_engineering_spark.registry import query
from spark_data_engineering_spark.sources import load_table
from spark_data_engineering_spark.streaming.events import (
    EVENT_SCHEMA,
    STATE_CONFS,
    drain,
    run_to_memory,
)


def _staged_events(spark: SparkSession, sf_dir: str) -> str:
    """The events table staged once into an 8-file copy, so
    maxFilesPerTrigger yields genuine incremental micro-batches. Shared
    by every streaming query over the plain events schema."""

    def build(tmp: str) -> None:
        load_table(spark, "events", sf_dir).repartition(8).write.parquet(tmp)

    return cached("stream_input", "events", sf_dir, build, tables=("events",))


@query(
    "streaming_hourly_event_stats",
    oracle="""
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """,
)
def streaming_hourly_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drive the events table through a real streaming query (file
    source, multiple micro-batches, stateful window aggregation in
    COMPLETE mode) and return the end-of-stream state. Complete mode —
    not append — because the gate wants every window, including those a
    watermark would still be holding open at end-of-stream.

    The input is staged once into a multi-file copy
    (``_staged_events``).
    """
    staged = _staged_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 4).parquet(staged)
    )
    agg = stream.groupBy(F.window("ts", "1 hour").alias("w"), "event_type").agg(
        F.count("*").alias("n_events"), F.sum("value").alias("sum_value_raw")
    )
    out = run_to_memory(agg, "streaming_hourly_gate", "complete", STATE_CONFS)
    return out.select(
        F.col("w.start").alias("hour"),
        "event_type",
        "n_events",
        NR.round2(F.col("sum_value_raw")).alias("sum_value"),
    )


@query(
    "streaming_enriched_event_stats",
    oracle="""
    SELECT c.c_mktsegment AS segment,
           e.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR((SUM(e.value)) * 100 + 0.5) / 100 AS sum_value
    FROM events e
    JOIN customer c ON e.user_id = c.c_custkey
    WHERE c.c_acctbal > 0
    GROUP BY 1, 2
    """,
)
def streaming_enriched_event_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STATIC enrichment join under the gate (VERDICT r6 task 7):
    the event stream is joined per micro-batch against the broadcast
    active-customer dimension (``enrich_with_dim_stream`` — a map-side
    hash join, no stream shuffle), then aggregated per (segment,
    event_type) in complete mode; the end-of-stream state must
    hash-match the one-shot batch join SQL. This is the reference's
    is_active enrichment re-expressed streaming — the shape every
    production event pipeline runs first. Exactly-once replay of the
    enrichment is pinned in tests/test_streaming.py (same checkpoint →
    zero rows reprocessed)."""
    from spark_data_engineering_spark.streaming.events import (
        enrich_with_dim_stream,
    )

    staged = _staged_events(spark, sf_dir)
    dim = (
        load_table(spark, "customer", sf_dir)
        .filter(F.col("c_acctbal") > 0)
        .select(F.col("c_custkey").alias("user_id"), F.col("c_mktsegment"))
    )
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(staged)
    )
    agg = enrich_with_dim_stream(stream, dim, "user_id").groupBy(
        "c_mktsegment", "event_type"
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("sum_value_raw"))
    out = run_to_memory(agg, "streaming_enriched_gate", "complete", STATE_CONFS)
    return out.select(
        F.col("c_mktsegment").alias("segment"),
        "event_type",
        "n_events",
        NR.round2(F.col("sum_value_raw")).alias("sum_value"),
    )


@query(
    "streaming_dedup_documents",
    oracle="SELECT DISTINCT md5(text) AS fp FROM documents",
)
def streaming_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream the documents table WITH injected content duplicates
    (every 7th doc re-delivered under a new id) through the watermarked
    streaming dedup; the emitted fingerprint set must equal the batch
    ``SELECT DISTINCT md5(text)`` — i.e. every duplicate was dropped
    in-flight, whether it landed in the same micro-batch as its
    original or a later one (maxFilesPerTrigger forces multiple
    batches). Only the fingerprint column is returned: which *row* is
    first-seen depends on arrival order, the fingerprint set does not.
    """
    from spark_data_engineering_spark.streaming.dedup import fingerprint_dedup_stream

    def build(tmp: str) -> None:
        docs = load_table(spark, "documents", sf_dir)
        dupes = docs.filter(F.col("doc_id") % 7 == 0).withColumn(
            "doc_id", F.col("doc_id") + F.lit(10_000_000)
        )
        # synthetic event time: one doc per second from a fixed epoch;
        # re-deliveries arrive 10 minutes after their original, well
        # inside the dedup watermark delay
        full = docs.unionByName(dupes).withColumn(
            "ts",
            F.timestamp_seconds(
                F.lit(1735689600) + (F.col("doc_id") % F.lit(10_000_000)) + F.when(F.col("doc_id") >= 10_000_000, F.lit(600)).otherwise(F.lit(0))
            ),
        )
        full.repartition(8).write.parquet(tmp)

    staged = cached("stream_input", "dedup", sf_dir, build, tables=("documents",))
    schema = spark.read.parquet(staged).schema
    stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 4).parquet(staged)
    deduped = fingerprint_dedup_stream(stream, text_col="text", event_time_col="ts", delay="2 hours")
    out = run_to_memory(deduped, "streaming_dedup_gate", confs=STATE_CONFS)
    return out.select("fp")


@query(
    "streaming_sessionize_events",
    oracle="""
    WITH flagged AS (
        SELECT user_id, ts, value,
               CASE WHEN ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                         > INTERVAL 30 MINUTE OR
                         LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                    THEN 1 ELSE 0 END AS new_session
        FROM events
    ),
    numbered AS (
        SELECT user_id, ts, value,
               SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                      ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged
    )
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR((SUM(value)) * 100 + 0.5) / 100 AS session_value
    FROM numbered
    GROUP BY user_id, session_id
    """,
)
def streaming_sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming sessionization via the built-in session_window state
    (sessions merge across micro-batches), gate-checked against the
    batch lag-gap oracle: session_window's [first_ts, last_ts + gap)
    windows must coincide exactly with gap-based sessionization —
    including sessions the stream saw split across many batches.
    Complete mode (not append) so end-of-stream state includes every
    session, same reasoning as streaming_hourly_event_stats."""
    staged = _staged_events(spark, sf_dir)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA).option("maxFilesPerTrigger", 4).parquet(staged)
    )
    agg = stream.groupBy(
        F.session_window("ts", "30 minutes").alias("w"), "user_id"
    ).agg(F.count("*").alias("n_events"), F.sum("value").alias("_raw"))
    out = run_to_memory(agg, "streaming_sessionize_gate", "complete", STATE_CONFS)
    return out.select(
        "user_id",
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        "n_events",
        NR.round2(F.col("_raw")).alias("session_value"),
    )


from spark_data_engineering_spark.streaming.protobuf_compat import ensure_protobuf

if ensure_protobuf():
    # transformWithStateInPandas speaks protobuf to the JVM state server;
    # registration is gated on a usable runtime (present on this host via
    # protobuf_compat's borrowed google-cloud-sdk runtime) so the registry
    # never advertises a query that cannot execute.
    @query(
        "streaming_user_totals_tws",
        oracle="""
        SELECT user_id,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               FLOOR((SUM(value)) * 100 + 0.5) / 100 AS total_value
        FROM events
        GROUP BY user_id
        """,
    )
    def streaming_user_totals_tws(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Per-user running totals on the Spark 4 StatefulProcessor API
        (``transformWithStateInPandas`` + RocksDB state store, see
        streaming/stateful2.py): the stream re-emits each user's refreshed
        state every micro-batch (Update mode); the LAST emission per user
        — selected via max(struct) on the strictly-increasing event count
        — must equal the batch per-user aggregate."""
        from spark_data_engineering_spark.streaming.stateful2 import (
            running_user_totals,
        )

        def build(tmp: str) -> None:
            load_table(spark, "events", sf_dir).select(
                "user_id", "value", "ts"
            ).repartition(8).write.parquet(tmp)

        staged = cached("stream_input", "tws", sf_dir, build, tables=("events",))
        # 4 files/trigger keeps the cross-batch state accumulation the
        # query exists to prove (2 micro-batches) without paying
        # scheduling for 4.
        stream = (
            spark.readStream.schema("user_id bigint, value double, ts timestamp")
            .option("maxFilesPerTrigger", 4)
            .parquet(staged)
        )
        out = run_to_memory(
            running_user_totals(stream),
            "streaming_tws_gate",
            "update",
            {
                **STATE_CONFS,
                "spark.sql.streaming.stateStore.providerClass": (
                    "org.apache.spark.sql.execution.streaming.state."
                    "RocksDBStateStoreProvider"
                ),
            },
        )
        last = F.max(F.struct("n_events", "total_value")).alias("s")
        return (
            out.groupBy("user_id")
            .agg(last)
            .select(
                "user_id",
                F.col("s.n_events").alias("n_events"),
                NR.round2(F.col("s.total_value")).alias("total_value"),
            )
        )


_NEARDUP_SURVIVOR_ORACLE = """
    WITH sh AS (
        SELECT doc_id,
               UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
                   RANGE(LEN(STRING_SPLIT(text, ' ')) - 2),
                   i -> STRING_SPLIT(text, ' ')[i + 1] || ' ' ||
                        STRING_SPLIT(text, ' ')[i + 2] || ' ' ||
                        STRING_SPLIT(text, ' ')[i + 3]))) AS shingle
        FROM documents
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS i
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY a.doc_id, b.doc_id
    ),
    pairs AS (
        SELECT id_a, id_b
        FROM inter
        JOIN sizes sa ON id_a = sa.doc_id
        JOIN sizes sb ON id_b = sb.doc_id
        WHERE FLOOR((CAST(i AS DOUBLE) / (sa.sz + sb.sz - i)) * 10000 + 0.5) / 10000 >= 0.8
    ),
    bounds AS (
        SELECT CAST(FLOOR(MAX(doc_id) / 3) AS BIGINT) AS t1,
               CAST(FLOOR(2 * MAX(doc_id) / 3) AS BIGINT) AS t2
        FROM documents
    ),
    bat AS (
        SELECT doc_id,
               CASE WHEN doc_id < t1 THEN 0
                    WHEN doc_id < t2 THEN 1
                    ELSE 2 END AS batch
        FROM documents, bounds
    ),
    -- batch 0: drop b iff a smaller-id batch-0 doc pairs with it
    s0 AS (
        SELECT d.doc_id FROM bat d
        WHERE d.batch = 0 AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN bat a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id AND a.batch = 0)
    ),
    -- batch 1: smaller-id batch-1 doc (surviving or not), or any batch-0
    -- SURVIVOR (contiguous ranges: history ids are always smaller)
    s1 AS (
        SELECT d.doc_id FROM bat d
        WHERE d.batch = 1
          AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN bat a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id AND a.batch = 1)
          AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN s0 a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id)
    ),
    s2 AS (
        SELECT d.doc_id FROM bat d
        WHERE d.batch = 2
          AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN bat a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id AND a.batch = 2)
          AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN s0 a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id)
          AND NOT EXISTS (
            SELECT 1 FROM pairs p JOIN s1 a ON a.doc_id = p.id_a
            WHERE p.id_b = d.doc_id)
    )
    SELECT CAST(doc_id AS BIGINT) AS doc_id FROM s0
    UNION ALL SELECT CAST(doc_id AS BIGINT) FROM s1
    UNION ALL SELECT CAST(doc_id AS BIGINT) FROM s2
"""


def _stage_doc_batches(sf_dir: str) -> str:
    """Split the documents table into THREE fixed micro-batch files
    (contiguous doc_id thirds) under a digest-keyed staging dir, with
    pinned mtimes so the file source replays them in order. Shared by
    every streaming-replay query over documents."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    def build(tmp: str) -> None:
        tbl = pq.read_table(f"{sf_dir}/documents.parquet", columns=["doc_id", "text"])
        max_id = pa.compute.max(tbl["doc_id"]).as_py()
        t1, t2 = max_id // 3, 2 * max_id // 3
        ids = tbl["doc_id"].to_pylist()
        masks = [
            [i < t1 for i in ids],
            [t1 <= i < t2 for i in ids],
            [i >= t2 for i in ids],
        ]
        os.makedirs(tmp)
        base = 1735689600
        for k, mask in enumerate(masks):
            path = os.path.join(tmp, f"batch{k}.parquet")
            pq.write_table(tbl.filter(pa.array(mask)), path)
            # the file source orders micro-batches by mtime: pin it
            os.utime(path, (base + 60 * k, base + 60 * k))

    return cached("stream_input", "docbatches", sf_dir, build, tables=("documents",))


@query("streaming_neardup_survivors", oracle=_NEARDUP_SURVIVOR_ORACLE)
def streaming_neardup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replay the documents corpus through the streaming near-dup ingest
    (streaming/neardup.py) in THREE fixed micro-batches (contiguous
    doc_id thirds, file-source availableNow + maxFilesPerTrigger=1) and
    return the surviving doc ids — the corpus-table contents after the
    stream drains.

    The oracle replays the greedy keep-first semantics in SQL from the
    exact 3-gram Jaccard pair set (same shingle/threshold SQL that
    ``minhash_lsh_pairs`` hash-matches, so banded-LSH recall=1 on this
    corpus carries over): per batch, a doc drops iff a smaller-id doc of
    the SAME batch pairs with it, or a SURVIVOR of an earlier batch
    does. Exactly-once machinery is live in the replay: the TxnTable
    root is digest-keyed and reused, so a rerun re-derives identical
    decisions and `append_idempotent` commits nothing twice.
    """
    from spark_data_engineering_spark.operators import dedup as _dedup_mod
    from spark_data_engineering_spark.streaming import neardup as _nd_mod
    from spark_data_engineering_spark.streaming.neardup import NearDupIngest

    staged = _stage_doc_batches(sf_dir)
    # the TxnTable holds DERIVED state: key it on the deriving code too,
    # else a code change replays against old epochs (all skipped) and the
    # gate records evidence for a path that never ran
    root = cache_path(
        "neardup",
        "neardup",
        sf_dir,
        streaming_neardup_survivors,
        tables=("documents",),
        modules=(_nd_mod, _dedup_mod),
    )
    ingest = NearDupIngest(resume_dir(root))
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
    )
    ingest.run(stream)
    return ingest.docs.read(spark).select(F.col("doc_id").cast("bigint").alias("doc_id"))


@query(
    "streaming_heavy_hitters",
    oracle="""
    WITH tokens AS (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS total FROM tokens)
    SELECT token,
           CAST(COUNT(*) AS BIGINT) AS tf,
           (COUNT(*) > (SELECT total FROM n) / 200.0) AS guaranteed
    FROM tokens
    GROUP BY token
    ORDER BY tf DESC, token ASC
    LIMIT 20
    """,
)
def streaming_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters maintained ACROSS micro-batches: replay the
    documents corpus in three fixed batches through a foreachBatch
    Misra-Gries accumulator (streaming/heavyhitters.py — per-batch
    distributed sketch folded into a kilobyte JSON state, exactly-once
    via an (app, epoch) watermark with atomic snapshot writes), then
    recount the final state's candidates exactly with the same
    proof-or-fallback as the batch twin. The mergeable-summaries bound
    makes the accumulated state exactly as strong as one batch pass
    over everything, so the result must hash-match the SAME exact
    top-20 oracle as ``heavy_hitter_tokens`` — end-of-stream state
    equals the batch answer, the contract every streaming query here
    obeys. A rerun replays epochs the state has already applied and
    folds nothing twice."""
    from spark_data_engineering_spark.operators import sketches as _sk_mod
    from spark_data_engineering_spark.operators.sketches import exact_topk_via_sketch
    from spark_data_engineering_spark.streaming import heavyhitters as _hh_mod
    from spark_data_engineering_spark.streaming.heavyhitters import (
        StreamingHeavyHitters,
    )

    staged = _stage_doc_batches(sf_dir)
    mg_k = 200
    # keyed on data, deriving code, AND k: a k edit must not reopen a
    # state whose accumulated error bound was set by the old k
    state_dir = cache_path(
        "mgstream",
        "mg",
        sf_dir,
        streaming_heavy_hitters,
        tables=("documents",),
        modules=(_sk_mod, _hh_mod),
        params=(mg_k,),
    )
    hh = StreamingHeavyHitters(resume_dir(state_dir), "token", k=mg_k)
    schema = spark.read.parquet(staged).schema
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(staged)
        .select(F.explode(F.split("text", " ")).alias("token"))
    )
    drain(stream.writeStream.foreachBatch(hh.process_batch))
    mg = hh.summary()
    docs = load_table(spark, "documents", sf_dir)
    tokens = docs.select(F.explode(F.split("text", " ")).alias("token"))
    base = exact_topk_via_sketch(tokens, "token", mg, topk=20)
    return (
        base.withColumn("guaranteed", F.col("tf") > F.lit(mg.n) / 200.0)
        .orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(20)
    )


def _kmv_streaming_oracle() -> str:
    from spark_data_engineering_spark.queries.events_analytics import _kmv_oracle

    return _kmv_oracle()


@query("streaming_distinct_users", oracle=_kmv_streaming_oracle())
def streaming_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct users per event type maintained ACROSS micro-batches:
    replay the events table through a foreachBatch KMV(1024) accumulator
    (streaming/kmv.py — per-batch distributed sketch folded by lossless
    union+truncate into a kilobyte JSON state, exactly-once via an
    (app, epoch) watermark with atomic snapshots). KMV's merge is
    EXACT (the k smallest of a union are the k smallest of the
    per-batch k-smallest), so the end-of-stream state is bit-identical
    to the batch sketch and the result must hash-match the SAME oracle
    as ``kmv_distinct_users`` — end-of-stream equals the batch answer,
    the contract every streaming query here obeys. A rerun replays
    epochs the state already applied and folds nothing twice. This is
    the distinct-count bound HLL cannot give a streaming state: below
    k the accumulated sketch is provably the exact distinct set."""
    from spark_data_engineering_spark.operators import sketches as _sk_mod
    from spark_data_engineering_spark.queries.events_analytics import (
        _KMV_K,
        _kmv_report,
    )
    from spark_data_engineering_spark.streaming import kmv as _kmv_mod
    from spark_data_engineering_spark.streaming.kmv import StreamingKMV

    staged = _staged_events(spark, sf_dir)
    # derived state: keyed on data, deriving code, AND k (a k edit must
    # not reopen a state truncated at the old k)
    state_dir = cache_path(
        "kmvstream",
        "kmv",
        sf_dir,
        streaming_distinct_users,
        tables=("events",),
        modules=(_sk_mod, _kmv_mod),
        params=(_KMV_K,),
    )
    acc = StreamingKMV(resume_dir(state_dir), "event_type", "user_id", k=_KMV_K)
    stream = (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", 4)
        .parquet(staged)
    )
    drain(stream.writeStream.foreachBatch(acc.process_batch))
    rows = [
        (grp, int(hv)) for grp, hs in acc.sketches().items() for hv in hs
    ]
    sketch = spark.createDataFrame(rows, "grp string, hv bigint")
    return _kmv_report(spark, sf_dir, sketch)


@query(
    "streaming_txn_source_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue,
           FLOOR((MAX(o_totalprice)) * 100 + 0.5) / 100 AS max_price
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def streaming_txn_source_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-read the txn table format through the ``format("txn")``
    Python streaming source (sources/txn_datasource.py:203) and fold it
    into a complete-mode aggregate: a fresh checkpoint emits the table's
    INITIAL SNAPSHOT (live files at stream start, DV-applied, planned
    from the commit log — never a directory listing; Delta semantics, so
    historical rewrites neither abort nor double-emit) and then tails
    later commits (mid-stream rewrites abort unless ``ignoreChanges``),
    and the end-of-stream state must hash-match one-shot SQL over the
    source parquet. Shares the cached two-commit table with
    ``txn_datasource_revenue`` so batch and stream gates read the SAME
    log; incremental multi-batch tailing + the non-append abort are
    pinned in tests/test_txn_datasource.py. This is the lakehouse CDC
    shape (Delta/Iceberg streaming source) under the correctness gate."""
    table = orders_ds_table(spark, sf_dir)
    stream = spark.readStream.format("txn").load(table.table_dir)
    agg = stream.groupBy("o_orderstatus").agg(
        F.count("*").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
        .cast("double")
        .alias("revenue"),
        F.max("o_totalprice").alias("max_price_raw"),
    )
    out = run_to_memory(agg, "streaming_txn_source_gate", "complete", STATE_CONFS)
    return out.select(
        "o_orderstatus",
        "n_orders",
        "revenue",
        NR.round2(F.col("max_price_raw")).alias("max_price"),
    )


@query(
    "streaming_txn_sink_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def streaming_txn_sink_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The native STREAMING SINK under the gate (round 7,
    txn_datasource.py::TxnStreamArrowWriter): a txn->txn streaming PIPE
    through nothing but the standard APIs —
    ``readStream.format("txn")`` over the shared two-commit orders
    table (the same cached log ``txn_datasource_revenue`` and
    ``streaming_txn_source_revenue`` gate) piped into
    ``writeStream.format("txn")`` on a fresh sink table, then the SINK
    is batch-read back through the connector and its aggregate must
    hash-match SQL over the source parquet. Each epoch lands as one
    atomic commit carrying an ``(txnAppId, batchId)`` watermark, so a
    crash-redelivered epoch commits nothing (exactly-once via the
    standard writeStream API — no foreachBatch); restart-replay and the
    required-txnAppId / append-only contracts are pinned in
    tests/test_txn_stream_sink.py.

    Scale: per epoch the sink does one parquet file per task (no extra
    shuffle) plus one JSON log append regardless of epoch size; the
    watermark check is one metadata read of the last commit chain."""
    src = orders_ds_table(spark, sf_dir)
    run = scratch_dir("streamsink")
    sink_dir = f"{run}/orders_sink"
    drain(
        spark.readStream.format("txn")
        .load(src.table_dir)
        .writeStream.format("txn")
        .option("txnAppId", "gate-pipe")
        .option("path", sink_dir)
    )
    return (
        spark.read.format("txn")
        .load(sink_dir)
        .groupBy("o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def orders_cdf_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached) the orders txn table with a
    change-feed-worthy history — two appends and a
    merge-on-read DV delete — shared by ``streaming_txn_cdf_revenue``
    (in-memory fold) and ``streaming_materialized_view_revenue``
    (persistent exactly-once fold), so both gates stream the SAME log."""
    from spark_data_engineering_spark.sources.txn import TxnTable
    from spark_data_engineering_spark.sources.txn_datasource import register_txn

    register_txn(spark)

    def build(tmp_root: str) -> None:
        t = TxnTable(tmp_root, "orders_cdf")
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t.append(o.filter(F.col("o_orderkey") % 2 == 0).repartition(3))
        t.append(o.filter(F.col("o_orderkey") % 2 == 1).repartition(2))
        t.delete_where_dv(spark, F.col("o_orderkey") % 9 == 4)

    root = txn_cached("cdf", sf_dir, build)
    return TxnTable(root, "orders_cdf").table_dir


@query(
    "streaming_txn_cdf_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 9 = 4)
    GROUP BY o_orderstatus
    """,
)
def streaming_txn_cdf_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming CHANGE-DATA-FEED under the gate (round 7,
    txn_datasource.py: ``option("readChangeFeed")`` +
    ``option("startingVersion")``): orders land in a txn table over two
    appends and a merge-on-read DV delete; the stream tails the log
    from version 0 — appends arrive as ``_change_type='insert'`` rows,
    the DV commit arrives as DELETE rows fetched from the sidecar's
    positions (the retraction a downstream incremental fold needs,
    where the plain stream must abort) — and a SIGNED fold
    (insert:+1/price, delete:-1/price, exact decimal sums) of the feed
    must hash-match one-shot SQL over the survivors. A retraction row
    lost, doubled, or mis-signed fails the gate arithmetic exactly.
    Batch/stream agreement with ``read_changes`` plus the
    rewrite-abort and snapshot-mode contracts are pinned in
    tests/test_txn_stream_cdf.py.

    Scale: planning stays metadata-only (added files for inserts; the
    kilobyte DV sidecar names the delete set — one partition per marked
    file, reading only those positions); no row-level diff job ever
    runs, and rewrite-family commits are refused rather than silently
    mis-fed."""
    table_dir = orders_cdf_table_dir(spark, sf_dir)
    stream = (
        spark.readStream.format("txn")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(table_dir)
    )
    sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(
        F.lit(1)
    )
    agg = stream.groupBy("o_orderstatus").agg(
        F.sum(sign).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * sign)
        .cast("double")
        .alias("revenue"),
    )
    out = run_to_memory(agg, "streaming_txn_cdf_gate", "complete", STATE_CONFS)
    return out.select("o_orderstatus", "n_orders", "revenue")


@query(
    "streaming_materialized_view_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders
    WHERE NOT (o_orderkey % 9 = 4)
    GROUP BY o_orderstatus
    """,
)
def streaming_materialized_view_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A STREAMING MATERIALIZED VIEW (the Delta Live Tables shape,
    round 7): the change feed of the shared orders table — the SAME log
    ``streaming_txn_cdf_revenue`` folds in memory — streams through
    ``foreachBatch`` into a PERSISTENT txn state table: each epoch
    aggregates its change rows into signed deltas (insert:+, delete:-,
    exact decimal sums), folds them into the stored state, and lands
    ONE atomic overwrite carrying the ``(app, epoch)`` watermark — so a
    crash-replayed epoch folds NOTHING (the exactly-once contract,
    checked by a restart-replay pytest). The final state must
    hash-match one-shot SQL over the survivors: a delta double-folded
    on replay, a retraction mis-signed, or an epoch lost all break the
    arithmetic. Restart replay + incremental tailing are pinned in
    tests/test_stream_mview.py.

    Scale: per epoch the fold shuffles #groups rows (partial-aggregated
    map-side), reads back #groups state rows, and writes #groups rows +
    one metadata commit — cost tracks CHANGED data and state size,
    never the base table; the state table is time-travelable history of
    the view for free."""
    from spark_data_engineering_spark.sources.txn import TxnTable

    table_dir = orders_cdf_table_dir(spark, sf_dir)
    run = scratch_dir("mview")
    state_root = f"{run}/state"
    app = "mview-gate"

    def fold(batch: DataFrame, batch_id: int) -> None:
        state = TxnTable(state_root, "view")
        if batch_id <= state.last_epoch(app):
            return  # crash-replayed epoch: already folded
        sign = F.when(F.col("_change_type") == "delete", F.lit(-1)).otherwise(
            F.lit(1)
        )
        delta = batch.groupBy("o_orderstatus").agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,2)") * sign)
            .cast("decimal(18,2)")
            .alias("rev_dec"),
            F.sum(sign).cast("bigint").alias("n_orders"),
        )
        if state.version() > 0:
            delta = (
                state.read(spark)
                .unionByName(delta)
                .groupBy("o_orderstatus")
                .agg(
                    F.sum("rev_dec").cast("decimal(18,2)").alias("rev_dec"),
                    F.sum("n_orders").cast("bigint").alias("n_orders"),
                )
            )
        # one atomic commit per epoch, watermarked: replay-proof
        state.overwrite(delta.coalesce(1), txn=(app, batch_id))

    drain(
        spark.readStream.format("txn")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(table_dir)
        .writeStream.foreachBatch(fold)
    )
    return TxnTable(state_root, "view").read(spark).select(
        "o_orderstatus",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
    )


def orders_cdf_merge_table_dir(spark: SparkSession, sf_dir: str) -> str:
    """Build (once, cached) an orders txn table whose history ends in a
    ``merge(cdf=True)`` — two appends,
    a merge-on-read DV delete, then a MERGE that updates the %7==3 keys
    (price+100, status 'U'), deletes the %11==6 keys via delete markers,
    and inserts new 'N' keys for %13==5 — the MERGE-heavy lakehouse
    shape whose change feed is only streamable through the persisted
    update images (round 8; a diff-planned stream must abort here)."""
    from spark_data_engineering_spark.sources.txn import TxnTable
    from spark_data_engineering_spark.sources.txn_datasource import register_txn

    register_txn(spark)

    def build(tmp_root: str) -> None:
        t = TxnTable(tmp_root, "orders_cdfm")
        k = F.col("o_orderkey")
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t.append(o.filter(k % 2 == 0).repartition(3))
        t.append(o.filter(k % 2 == 1).repartition(2))
        t.delete_where_dv(spark, k % 9 == 4)
        survivors = o.filter(~(k % 9 == 4))
        src = (
            survivors.filter((k % 7 == 3) & ~(k % 11 == 6))
            .select(
                k.alias("o_orderkey"),
                F.lit("U").alias("o_orderstatus"),
                (F.col("o_totalprice") + F.lit(100.0)).alias("o_totalprice"),
            )
            .unionByName(
                # delete markers: price<0 trips matched_delete_condition
                survivors.filter(k % 11 == 6).select(
                    k.alias("o_orderkey"),
                    F.lit("X").alias("o_orderstatus"),
                    F.lit(-1.0).alias("o_totalprice"),
                )
            )
            .unionByName(
                o.filter(k % 13 == 5).select(
                    (k + F.lit(10_000_000)).alias("o_orderkey"),
                    F.lit("N").alias("o_orderstatus"),
                    F.lit(50.0).alias("o_totalprice"),
                )
            )
        )
        t.merge(
            spark,
            src,
            on=["o_orderkey"],
            matched_delete_condition=F.col("o_totalprice") < 0,
            cdf=True,
        )

    root = txn_cached("cdfm", sf_dir, build)
    return TxnTable(root, "orders_cdfm").table_dir


@query(
    "streaming_txn_cdf_merge_revenue",
    oracle="""
    WITH base AS (
        SELECT o_orderkey, o_orderstatus, o_totalprice
        FROM orders WHERE NOT o_orderkey % 9 = 4
    ),
    merged AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 3 THEN 'U'
                    ELSE o_orderstatus END AS o_orderstatus,
               CASE WHEN o_orderkey % 7 = 3 THEN o_totalprice + 100
                    ELSE o_totalprice END AS o_totalprice
        FROM base WHERE NOT o_orderkey % 11 = 6
        UNION ALL
        SELECT o_orderkey + 10000000, 'N', 50.0
        FROM orders WHERE o_orderkey % 13 = 5
    )
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM merged GROUP BY o_orderstatus
    """,
)
def streaming_txn_cdf_merge_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE update-images in the STREAMING change feed (round 8,
    VERDICT r7 task 3): the table's history ends in ``merge(cdf=True)``
    — updates, delete-markers, and inserts in one commit — and the
    stream tails the whole log from version 0. The appends arrive as
    inserts, the DV commit as sidecar-fetched delete rows, and the
    MERGE as its PERSISTED change files (``update_preimage`` /
    ``update_postimage`` / ``delete`` / ``insert`` — Delta CDF
    granularity; without them the stream must abort, which
    tests/test_txn_cdf_merge.py pins). A signed fold (preimage/delete:
    -1, postimage/insert: +1, exact decimal sums) of the feed must
    hash-match one-shot SQL that replays the merge semantics — a missed
    image, a mis-signed retraction, or a double-read of the rewritten
    files all break the arithmetic.

    Scale: the merge's stream cost is the persisted change rows
    (bounded by matched+inserted rows), never the rewritten files — the
    property that makes a MERGE-heavy 100 TB table's CDF streamable at
    all. Plan: commit-log metadata only; one partition per change file."""
    table_dir = orders_cdf_merge_table_dir(spark, sf_dir)
    stream = (
        spark.readStream.format("txn")
        .option("readChangeFeed", "true")
        .option("startingVersion", "0")
        .load(table_dir)
    )
    sign = F.when(
        F.col("_change_type").isin("delete", "update_preimage"), F.lit(-1)
    ).otherwise(F.lit(1))
    agg = stream.groupBy("o_orderstatus").agg(
        F.sum(sign).cast("bigint").alias("n_orders"),
        F.sum(F.col("o_totalprice").cast("decimal(18,2)") * sign)
        .cast("double")
        .alias("revenue"),
    )
    out = run_to_memory(agg, "streaming_txn_cdf_merge_gate", "complete", STATE_CONFS)
    return (
        out.filter(F.col("n_orders") > 0)
        .select("o_orderstatus", "n_orders", "revenue")
    )


@query(
    "streaming_click_purchase_join",
    oracle="""
    WITH c AS (SELECT user_id, ts AS click_ts FROM events
               WHERE event_type = 'click'),
         p AS (SELECT user_id, ts AS purchase_ts, value FROM events
               WHERE event_type = 'purchase')
    SELECT date_trunc('day', c.click_ts) AS click_day,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           FLOOR((SUM(p.value)) * 100 + 0.5) / 100 AS purchase_value
    FROM c JOIN p ON c.user_id = p.user_id
         AND p.purchase_ts >= c.click_ts
         AND p.purchase_ts <= c.click_ts + INTERVAL 1 HOUR
    GROUP BY date_trunc('day', c.click_ts)
    """,
)
def streaming_click_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-STREAM interval join under the gate: the click stream and
    the purchase stream (two independent file sources over per-topic
    staged copies, multiple micro-batches each) are joined in Spark's
    symmetric stateful hash join on user_id plus the time-range
    condition ``click_ts <= purchase_ts <= click_ts + 1 hour`` —
    click->purchase attribution, the canonical two-live-streams shape
    the stream-static enrichment join cannot express. Matched pairs are
    emitted append-mode exactly once regardless of which micro-batch
    each side arrived in; the end-of-stream pair set must hash-match
    the one-shot batch interval join SQL.

    The watermark delay (45 days) exceeds the staged table's full time
    span on purpose: the staged copy is repartitioned, so micro-batches
    arrive in arbitrary ts order, and any smaller delay would make
    matched-pair completeness depend on delivery order — in production
    the delay is sized from measured disorder, and state stays bounded
    by rate x gap x delay (the module docstring's contract). The final
    per-day rollup happens BATCH-side over the sink table: chaining a
    streaming aggregation after a stream-stream join needs no
    demonstration here and would couple the gate to multi-stateful
    watermark propagation."""
    from spark_data_engineering_spark.streaming.joins import (
        interval_join_streams,
    )

    # each stream gets its OWN staged topic (clicks / purchases, only
    # the columns that side carries) — in production the two sides ARE
    # separate topics; sharing one staged copy would make every trigger
    # scan both event types twice and discard 80% of the bytes read
    def build(tmp: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        ev.filter(F.col("event_type") == "click").select(
            F.col("user_id").alias("click_user"), F.col("ts").alias("click_ts")
        ).repartition(3).write.parquet(f"{tmp}/clicks")
        ev.filter(F.col("event_type") == "purchase").select(
            F.col("user_id").alias("purchase_user"),
            F.col("ts").alias("purchase_ts"),
            F.col("value").alias("purchase_value_raw"),
        ).repartition(3).write.parquet(f"{tmp}/purchases")

    staged = cached("stream_input", "cpjoin", sf_dir, build, tables=("events",))

    def side(topic: str, schema: str) -> DataFrame:
        return (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(f"{staged}/{topic}")
        )

    clicks = side("clicks", "click_user bigint, click_ts timestamp")
    purchases = side(
        "purchases",
        "purchase_user bigint, purchase_ts timestamp, purchase_value_raw double",
    )
    joined = interval_join_streams(
        clicks,
        purchases,
        "click_user",
        "purchase_user",
        "click_ts",
        "purchase_ts",
        max_gap="1 hour",
        watermark="45 days",
    ).select("click_ts", "purchase_value_raw")
    out = run_to_memory(joined, "streaming_click_purchase_gate", confs=STATE_CONFS)
    return (
        out.groupBy(F.date_trunc("day", F.col("click_ts")).alias("click_day"))
        .agg(
            F.count("*").alias("n_pairs"),
            NR.round2(F.sum("purchase_value_raw")).alias("purchase_value"),
        )
    )


@query(
    "streaming_txn_upsert_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def streaming_txn_upsert_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming MERGE upsert sink under the gate (round 8, Delta's
    foreachBatch+MERGE): a keyed state table is seeded with HALF the
    order keys at poison price -1, then the full orders stream (multi-
    file source, several micro-batches) upserts through
    ``stream_upsert_to_txn`` — seeded keys UPDATE to their real price,
    unseeded keys INSERT, each epoch one merge commit carrying the
    (app, epoch) watermark. Every key appears exactly once in the
    stream, so the end state is arrival-order-independent and must
    hash-match plain SQL over orders: a lost epoch leaves -1 poison in
    the sum, a double-applied epoch fails MERGE's duplicate-key
    refusal, an un-updated seed row breaks both count and sum. Build
    pins: pre-stream count == #seeded keys, post-stream watermark
    advanced past epoch 0. Per-epoch cost is the merge's (broadcast
    key semi-join + copy-on-write of touched files) — state table size
    never enters it; cached build keyed on data + code digest,
    steady-state is the read-back."""
    from spark_data_engineering_spark.sources.txn import TxnTable
    from spark_data_engineering_spark.streaming import upsert as _ups_mod
    from spark_data_engineering_spark.streaming.upsert import stream_upsert_to_txn

    def build(tmp_root: str) -> None:
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        t = TxnTable(tmp_root, "orders_state")
        seeded = o.filter(F.col("o_orderkey") % 2 == 0).withColumn(
            "o_totalprice", F.lit(-1.0)
        )
        t.append(seeded.repartition(2))
        n_seed = t.count_rows()
        staged = f"{tmp_root}/stream_in"
        o.repartition(4).write.parquet(staged)
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, o_totalprice double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(staged)
        )
        q = stream_upsert_to_txn(stream, t, "ups-gate", on=["o_orderkey"])
        q.awaitTermination()
        if t.last_epoch("ups-gate") < 1:
            raise AssertionError("upsert stream committed fewer than 2 epochs")
        n_final = t.count_rows()
        if not 0 < n_seed < n_final:
            raise AssertionError(
                f"seed/final counts off ({n_seed} / {n_final})"
            )

    root = txn_cached("ups", sf_dir, build, modules=(_ups_mod,))
    table = TxnTable(root, "orders_state")
    return (
        table.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )


@query(
    "streaming_expectations_quarantine",
    oracle="""
    WITH f AS (
      SELECT o_orderstatus, o_totalprice,
             COALESCE(o_totalprice < 300000, FALSE) AS p_cap,
             COALESCE(o_orderkey % 10 <> 0, FALSE) AS p_key
      FROM orders
    )
    SELECT 'kept:' || o_orderstatus AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS amount
    FROM f WHERE p_cap AND p_key GROUP BY 1
    UNION ALL
    SELECT 'dead:' || CASE
             WHEN NOT p_key AND NOT p_cap THEN '["key_mod","price_cap"]'
             WHEN NOT p_key THEN '["key_mod"]'
             ELSE '["price_cap"]' END,
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
    FROM f WHERE NOT (p_cap AND p_key) GROUP BY 1
    """,
)
def streaming_expectations_quarantine(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """STREAMING EXPECTATIONS end-to-end (round 8; the DLT composition
    of pipeline/expectations.py): the orders stream (multi-file source,
    several micro-batches) flows through two drop-policy expectations
    per epoch — passing rows append to a MAIN txn table, diverted rows
    land in a QUARANTINE table carrying their failed_expectations
    reasons — each table advancing its own (app, epoch) watermark, so
    redelivery re-commits neither half. The gate hashes BOTH tables at
    once: kept revenue by status AND quarantined counts by exact reason
    set (including rows failing both expectations) against plain SQL
    over orders — a dropped row that leaked into main, a lost
    quarantine epoch, or a mis-attributed reason array each breaks the
    hash. Per-epoch cost is one persist + two map-side filters of the
    micro-batch; table sizes never enter it."""
    from spark_data_engineering_spark.pipeline import expectations as _exp_mod
    from spark_data_engineering_spark.pipeline.expectations import (
        Expectation,
        stream_with_expectations,
    )
    from spark_data_engineering_spark.sources.txn import TxnTable

    exps = (
        Expectation("price_cap", "o_totalprice < 300000", "drop"),
        Expectation("key_mod", "o_orderkey % 10 <> 0", "drop"),
    )

    def build(tmp_root: str) -> None:
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        staged = f"{tmp_root}/stream_in"
        o.repartition(4).write.parquet(staged)
        main = TxnTable(tmp_root, "orders_clean")
        dead = TxnTable(tmp_root, "orders_dead")
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, o_totalprice double"
            )
            .option("maxFilesPerTrigger", 2)
            .parquet(staged)
        )
        q = stream_with_expectations(stream, exps, main, dead, "sexp-gate")
        q.awaitTermination()
        if main.last_epoch("sexp-gate") < 1 or dead.last_epoch("sexp-gate") < 1:
            raise AssertionError("expectations stream ran fewer than 2 epochs")

    root = txn_cached("sexp", sf_dir, build, modules=(_exp_mod,))
    main = TxnTable(root, "orders_clean")
    dead = TxnTable(root, "orders_dead")
    kept = (
        main.read(spark)
        .groupBy(
            F.concat(F.lit("kept:"), F.col("o_orderstatus")).alias("bucket")
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("amount"),
        )
    )
    diverted = (
        dead.read(spark)
        .groupBy(
            F.concat(F.lit("dead:"), F.col("failed_expectations")).alias(
                "bucket"
            )
        )
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("amount"),
        )
    )
    return kept.unionByName(diverted)


@query(
    "txn_autocompact_revenue",
    oracle="""
    SELECT o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS revenue
    FROM orders GROUP BY o_orderstatus
    """,
)
def txn_autocompact_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUTO-COMPACTION under the gate (round 8; Delta's
    autoOptimize.autoCompact): the orders stream ingests through
    ``stream_to_txn_table(auto_compact=True)`` — one file per task per
    epoch, then ``compact_small`` after each committed epoch bin-packs
    the accumulated sub-threshold files in a separate net-zero commit
    (metadata-only check until enough accumulate; big files never
    rewritten). The build pins the POINT of the feature with a
    files-read assertion: the live-file count must stay bounded by the
    compaction threshold instead of growing with epoch count — on a
    100 TB streaming table this is the difference between scans paying
    per-epoch file-open costs forever and a bounded manifest. The
    read-back aggregate hash-matches plain SQL, proving the interleaved
    compact commits never dropped or duplicated a row (exactly-once
    epoch watermarks ride the append commits, compaction is net-zero)."""
    from spark_data_engineering_spark.sources.txn import TxnTable
    from spark_data_engineering_spark.streaming import events as _ev_mod
    from spark_data_engineering_spark.streaming.events import (
        stream_to_txn_table,
    )

    def build(tmp_root: str) -> None:
        o = load_table(spark, "orders", sf_dir).select(
            "o_orderkey", "o_orderstatus", "o_totalprice"
        )
        staged = f"{tmp_root}/stream_in"
        o.repartition(8).write.parquet(staged)
        t = TxnTable(tmp_root, "orders_ac")
        stream = (
            spark.readStream.schema(
                "o_orderkey bigint, o_orderstatus string, o_totalprice double"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(staged)
        )
        q = stream_to_txn_table(stream, t, "acomp-gate", auto_compact=True)
        q.awaitTermination()
        if t.last_epoch("acomp-gate") < 4:
            raise AssertionError("auto-compact stream ran fewer than 5 epochs")
        # the pinned point: live files bounded by the compaction
        # threshold (default min_files=8), NOT by epoch count — without
        # auto_compact this table would hold >= 8 files (one per epoch)
        n_live = len(t.live_files())
        if n_live >= 8:
            raise AssertionError(
                f"auto-compact left {n_live} live files (epoch-count "
                "growth — compaction never fired)"
            )

    root = txn_cached("acomp", sf_dir, build, modules=(_ev_mod,))
    t = TxnTable(root, "orders_ac")
    return (
        t.read(spark)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("revenue"),
        )
    )
