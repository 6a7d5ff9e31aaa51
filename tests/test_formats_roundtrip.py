"""Source-format round trips at ROW level: the events table staged to
JSONL / CSV / ORC / XML and read back with the explicit schemas the
format queries use must be value-identical to the parquet original —
stronger than the hourly-agg oracle hash, which could mask column-level
corruption that cancels in the aggregate (e.g. a props mangling or a
row swap)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from spark_data_engineering_spark.queries.formats import _staged
from spark_data_engineering_spark.sources import load_table

_SCHEMA = (
    "event_id bigint, ts string, user_id bigint, event_type string, "
    "value double, props string"
)
_TS_FMT = "yyyy-MM-dd'T'HH:mm:ss.SSSSSS"


def _rows(df):
    return sorted(
        (r.event_id, r.ts, r.user_id, r.event_type, r.value, r.props)
        for r in df.collect()
    )


@pytest.mark.parametrize("fmt", ["json", "csv", "orc"])
def test_roundtrip_value_identical(spark, sf_dir, fmt):
    want = _rows(load_table(spark, "events", sf_dir))
    staged = _staged(spark, sf_dir, fmt)
    if fmt == "orc":
        got = spark.read.orc(staged)
    else:
        reader = spark.read.schema(_SCHEMA)
        if fmt == "csv":
            reader = reader.option("quote", '"').option("escape", '"')
        got = getattr(reader, fmt)(staged).withColumn(
            "ts", F.to_timestamp("ts", _TS_FMT)
        )
    assert _rows(got) == want


def test_xml_roundtrip_value_identical(spark, sf_dir):
    # the same staged copy xml_events_hourly_stats reads
    staged = _staged(spark, sf_dir, "xml")
    got = (
        spark.read.schema(_SCHEMA)
        .format("xml")
        .option("rowTag", "event")
        .load(staged)
        .withColumn("ts", F.to_timestamp("ts", _TS_FMT))
    )
    assert _rows(got) == _rows(load_table(spark, "events", sf_dir))
