"""Source-format breadth under the correctness gate: the same hourly
aggregation must produce the same hash whether the events arrive as
parquet (the native testdata), JSON-lines (how crawl/event feeds
actually land), or ORC (the other columnar format Spark ships).

Each query stages a one-time converted copy of the events table (a
cached build, see cacheutil), reads it back with an EXPLICIT schema
(never schema inference — at 100 TB an inference pass is a full extra
scan, and inferred types drift between files), and runs the identical
aggregation. Timestamps cross the JSON boundary as ISO-8601 strings
(JSON has no timestamp type) and are parsed back with to_timestamp —
the gate proves the round-trip is lossless at micros precision."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spark_data_engineering_spark.cacheutil import cached, scratch_dir
from spark_data_engineering_spark.functions import numeric as NR
from spark_data_engineering_spark.registry import query
from spark_data_engineering_spark.sources import load_table

_HOURLY_ORACLE = """
    SELECT date_trunc('hour', ts) AS hour,
           event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           FLOOR((SUM(value)) * 100 + 0.5) / 100 AS sum_value
    FROM events
    GROUP BY date_trunc('hour', ts), event_type
    """


def _staged(spark: SparkSession, sf_dir: str, fmt: str) -> str:
    """Path of the events table staged in ``fmt`` (json, csv, orc or
    xml), written on first use."""

    def build(tmp: str) -> None:
        ev = load_table(spark, "events", sf_dir)
        if fmt != "orc":
            # none of these formats carries a timestamp type: ship ISO strings
            ev = ev.withColumn(
                "ts", F.date_format("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
            )
        w = ev.repartition(4).write
        if fmt == "csv":
            w = w.option("quote", '"').option("escape", '"')
        if fmt == "xml":
            w = w.option("rootTag", "events").option("rowTag", "event")
        w.format(fmt).save(tmp)

    return cached(f"fmt/{fmt}", fmt, sf_dir, build, tables=("events",))


def _hourly(df: DataFrame) -> DataFrame:
    return (
        df.groupBy(F.date_trunc("hour", "ts").alias("hour"), "event_type")
        .agg(
            F.count("*").alias("n_events"),
            NR.round2(F.sum("value")).alias("sum_value"),
        )
    )


@query("jsonl_events_hourly_stats", oracle=_HOURLY_ORACLE)
def jsonl_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events round-tripped through JSON-lines (explicit schema, ISO
    timestamp strings parsed back to micros) must aggregate to the same
    hash as the parquet original."""
    staged = _staged(spark, sf_dir, "json")
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    ev = (
        spark.read.schema(schema)
        .json(staged)
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    )
    return _hourly(ev)


@query("orc_events_hourly_stats", oracle=_HOURLY_ORACLE)
def orc_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregation over an ORC restage — ORC keeps native
    timestamps, so no string round-trip is involved; this pins the
    format-agnostic reader path (predicate/column pushdown works for
    ORC like parquet)."""
    staged = _staged(spark, sf_dir, "orc")
    ev = spark.read.orc(staged)
    return _hourly(ev)


@query("csv_events_hourly_stats", oracle=_HOURLY_ORACLE)
def csv_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same aggregation over a CSV restage — quoted fields protect the
    embedded-JSON props column, timestamps travel as ISO strings. CSV is
    the rawest feed format a pipeline meets; explicit schema + explicit
    timestamp format keep the read single-pass and type-stable."""
    staged = _staged(spark, sf_dir, "csv")
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    ev = (
        spark.read.schema(schema)
        .option("header", "false")
        .option("quote", '"')
        .option("escape", '"')
        .csv(staged)
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    )
    return _hourly(ev)


@query("xml_events_hourly_stats", oracle=_HOURLY_ORACLE)
def xml_events_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Events round-tripped through XML (round 6 — Spark 4's built-in
    XML source, the enterprise-feed format): staged once with
    ``rowTag`` records and ISO timestamp strings (XML carries no
    timestamp type, same contract as the JSON/CSV variants), read back
    with an EXPLICIT schema (inference on XML is an extra full scan
    plus type drift), parsed to micros, and aggregated — must hash the
    same oracle as the parquet original, proving the round-trip
    lossless."""
    staged = _staged(spark, sf_dir, "xml")
    schema = (
        "event_id bigint, ts string, user_id bigint, event_type string, "
        "value double, props string"
    )
    ev = (
        spark.read.schema(schema)
        .format("xml")
        .option("rowTag", "event")
        .load(staged)
        .withColumn("ts", F.to_timestamp("ts", "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"))
    )
    return _hourly(ev)


# ---- corrupt-record quarantine (round 7) -------------------------------
#
# Real crawl/event feeds arrive with malformed lines; the production
# pattern is PERMISSIVE parsing with columnNameOfCorruptRecord, a split
# into good rows vs a quarantine sink (the "dead-letter" path), and an
# audit that accounts for EVERY input line. Here the documents corpus is
# staged as JSONL with deterministic corruption injected (every line
# whose doc_id % 13 == 3 loses its closing brace — guaranteed invalid
# JSON), the reader splits the feed, bad raw lines land in a quarantine
# parquet, and the report must hash-match the oracle's arithmetic over
# the source table: n_good/n_bad counts, good-side token sum and
# order-independent md5-prefix crc, and the quarantine-sink row count
# read BACK from the written files (so a lost dead-letter is a gate
# failure, not a silent drop).


@query(
    "corrupt_record_quarantine",
    oracle="""
    SELECT CAST(COUNT(CASE WHEN doc_id % 13 <> 3 THEN 1 END) AS BIGINT) AS n_good,
           CAST(COUNT(CASE WHEN doc_id % 13 = 3 THEN 1 END) AS BIGINT) AS n_bad,
           CAST(COUNT(CASE WHEN doc_id % 13 = 3 THEN 1 END) AS BIGINT)
               AS n_quarantined,
           CAST(SUM(CASE WHEN doc_id % 13 <> 3
                THEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) + 1 END)
                AS BIGINT) AS good_tokens,
           CAST(SUM(CASE WHEN doc_id % 13 <> 3
                THEN CAST(('0x' || SUBSTR(MD5(text), 1, 8)) AS BIGINT) END)
                AS BIGINT) AS good_crc
    FROM documents
    """,
)
def corrupt_record_quarantine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERMISSIVE-mode ingest with a dead-letter quarantine (see block
    comment). Scale: the split is one pass (corrupt column is NULL for
    good rows — a map-side predicate), the quarantine write shuffles
    nothing, and the audit is two partial-aggregated scans. The
    explicit read schema keeps the reader off the inference pass."""
    from spark_data_engineering_spark.functions import text as TX

    # the staged bytes come from the injection code below, and the key
    # always covers this module, so an edit to the corruption rule
    # invalidates the stage
    def build(tmp: str) -> None:
        clean = load_table(spark, "documents", sf_dir).select("doc_id", "text")
        lines = clean.select(F.to_json(F.struct("doc_id", "text")).alias("value"))
        # inject: drop the closing brace on every doc_id % 13 == 3 line
        corrupted = lines.select(
            F.when(
                F.get_json_object("value", "$.doc_id").cast("bigint") % 13 == 3,
                F.substring(F.col("value"), 1, F.length("value") - 1),
            )
            .otherwise(F.col("value"))
            .alias("value")
        )
        corrupted.repartition(4).write.text(tmp)

    staged = cached(
        "fmt/quarantine", "quarantine", sf_dir, build, tables=("documents",)
    )

    parsed = (
        spark.read.schema("doc_id bigint, text string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(staged)
    )
    # parsed feeds two jobs (the dead-letter write and the audit agg);
    # cut the lineage once. NOTE this is an optimization, not a
    # correctness dependency: the dead-letter select below carries
    # doc_id alongside the corrupt column, so even under
    # SPARK_GRAFT_MATERIALIZE=none the plan never references ONLY the
    # internal corrupt-record column (the SPARK-38747 restriction) —
    # pinned in tests/test_round7_queries.py.
    from spark_data_engineering_spark.materialize import materialize

    parsed = parsed.transform(materialize)
    bad = parsed.filter(F.col("_corrupt_record").isNotNull()).select(
        "doc_id", F.col("_corrupt_record").alias("raw_line")
    )
    qdir = scratch_dir("deadletter") + "/data"
    bad.write.parquet(qdir)
    n_quarantined = (
        spark.read.parquet(qdir).agg(F.count(F.lit(1)).alias("n")).select("n")
    )
    crc = F.conv(
        F.substring(F.md5(F.col("text").cast("binary")), 1, 8), 16, 10
    ).cast("bigint")
    report = parsed.agg(
        F.count(F.when(F.col("_corrupt_record").isNull(), 1)).alias("n_good"),
        F.count(F.when(F.col("_corrupt_record").isNotNull(), 1)).alias("n_bad"),
        F.sum(
            F.when(F.col("_corrupt_record").isNull(), TX.token_count(F.col("text")))
        )
        .cast("bigint")
        .alias("good_tokens"),
        F.sum(F.when(F.col("_corrupt_record").isNull(), crc)).alias("good_crc"),
    )
    return report.crossJoin(F.broadcast(n_quarantined)).select(
        "n_good",
        "n_bad",
        F.col("n").cast("bigint").alias("n_quarantined"),
        "good_tokens",
        "good_crc",
    )
