"""Catalog reads: the parquet schema is inferred once per file version,
and a rewritten file is read with its new schema."""

from __future__ import annotations

import uuid

import pandas as pd
from pyspark.sql.types import TimestampType

from hadoop_20_warehouse_spark.catalog import load_table


def _jobs_launched(spark, fn) -> int:
    """Number of Spark jobs ``fn()`` launches, counted by job group."""
    sc = spark.sparkContext
    group = f"catalog-test-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "catalog test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_table_launches_no_job(spark, sf_dir):
    load_table(spark, sf_dir, "orders")
    assert _jobs_launched(spark, lambda: load_table(spark, sf_dir, "orders")) == 0


def test_pandas_file_rewritten_in_place_shows_added_column(spark, tmp_path):
    path = tmp_path / "region.parquet"
    pd.DataFrame({"r_regionkey": [0, 1], "r_name": ["A", "B"]}).to_parquet(path)
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"
    ]
    pd.DataFrame(
        {"r_regionkey": [0, 1], "r_name": ["A", "B"], "r_comment": ["x", "y"]}
    ).to_parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert sorted(df.collect()) == [(0, "A", "x"), (1, "B", "y")]


def test_spark_directory_rewritten_in_place_shows_added_column(spark, tmp_path):
    path = str(tmp_path / "region.parquet")
    spark.createDataFrame([(0, "A")], "r_regionkey long, r_name string").write.parquet(
        path
    )
    assert load_table(spark, str(tmp_path), "region").columns == [
        "r_regionkey", "r_name"
    ]
    spark.createDataFrame(
        [(0, "A", "x")], "r_regionkey long, r_name string, r_comment string"
    ).write.mode("overwrite").parquet(path)
    df = load_table(spark, str(tmp_path), "region")
    assert df.columns == ["r_regionkey", "r_name", "r_comment"]
    assert df.collect() == [(0, "A", "x")]


def test_events_loaded_twice_reads_identical_timestamps(spark, sf_dir):
    first = load_table(spark, sf_dir, "events")
    second = load_table(spark, sf_dir, "events")
    for df in (first, second):
        assert isinstance(df.schema["ts"].dataType, TimestampType)
    assert sorted(first.collect()) == sorted(second.collect())
