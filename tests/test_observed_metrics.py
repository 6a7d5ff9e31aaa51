"""observe()-based quality checks: collected during the main action,
no second scan."""

from spark_data_engineering_spark import checks as C


def test_observed_metrics_ride_the_write(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a"), (2, None), (3, "c"), (4, None)], "id int, v string"
    )
    observed_df, failures = C.observe_checks(
        df, (C.not_null("id", "v"), C.row_count_min(4), C.row_count_min(5))
    )
    # the WRITE is the only action; metrics come from the same pass
    observed_df.write.mode("overwrite").parquet(str(tmp_path / "out"))
    assert failures() == ["nulls in {'v': 2}", "row count 4 < required 5"]
