"""Sink tests: CSV, partitioned parquet, idempotent day overwrite, and
the gated JDBC path (no driver jar in this container — the error must be
clear, not a silent no-op)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.sources.sinks import (
    overwrite_day_partitions,
    read_jdbc,
    write_csv,
)
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


def test_csv_sink_round_trip(spark, tmp_path):
    nation = load(spark, SF_DIR, "nation")
    write_csv(nation, str(tmp_path / "csv"), mode="overwrite")
    back = spark.read.option("header", "true").option("inferSchema", "true").csv(
        str(tmp_path / "csv")
    )
    assert back.count() == nation.count()
    assert set(back.columns) == set(nation.columns)


def test_partitioned_parquet_and_day_overwrite(spark, tmp_path):
    path = str(tmp_path / "months")
    orders = load(spark, SF_DIR, "orders").withColumn(
        "dt", F.date_format("o_orderdate", "yyyyMM")
    )
    two_months = orders.filter(F.col("dt").isin("199506", "199507"))
    assert two_months.count() > 4
    overwrite_day_partitions(two_months, path)
    n_before = spark.read.parquet(path).count()

    # rerun month 1 with HALF its rows: dynamic overwrite must replace
    # only that partition (fewer rows), leaving month 2 untouched
    m1 = orders.filter(F.col("dt") == "199506")
    half = m1.limit(max(m1.count() // 2, 1))
    overwrite_day_partitions(half, path)
    after = spark.read.parquet(path)
    assert after.filter(F.col("dt") == 199507).count() == two_months.filter(
        F.col("dt") == "199507"
    ).count()
    assert after.count() < n_before


def test_jdbc_gated_with_clear_error(spark):
    with pytest.raises(Exception, match="(?i)driver|jdbc|class"):
        read_jdbc(spark, "jdbc:postgresql://nowhere/db", "t").collect()


def test_jdbc_round_trip_executed(spark, tmp_path):
    """EXECUTED JDBC round-trip (the reference's real sink shape,
    dags/insert_data.py:53-61) against Derby — the embedded JDBC engine
    that ships inside Spark's own jars, so the exact production code
    path (write_jdbc batched INSERTs, read_jdbc with a partitioned
    parallel scan) runs with no external server. Swapping the url +
    driver option to jdbc:postgresql://... is configuration, not code."""
    from airflow_scraping_etl_tutorial_spark.sources.sinks import write_jdbc

    url = f"jdbc:derby:{tmp_path}/derbydb;create=true"
    driver = "org.apache.derby.iapi.jdbc.AutoloadedDriver"
    src = load(spark, "/root/testdata/sf0.001", "nation").select(
        "n_nationkey", "n_name", "n_regionkey"
    )
    write_jdbc(src, url, "nation_rt", mode="append", driver=driver)

    back = read_jdbc(spark, url, "nation_rt", driver=driver)
    assert back.count() == src.count()
    assert {r.n_name for r in back.collect()} == {r.n_name for r in src.collect()}

    # Partitioned parallel read: num_partitions range queries on the key
    par = read_jdbc(
        spark,
        url,
        "nation_rt",
        partition_column="n_nationkey",
        lower_bound=0,
        upper_bound=25,
        num_partitions=4,
        driver=driver,
    )
    assert par.rdd.getNumPartitions() == 4
    assert par.count() == src.count()


def test_continuous_rollup_incremental_refresh(spark, tmp_path):
    """Hypertable-style rollup: full load, then a single-day refresh
    touches only that day's partition."""
    from airflow_scraping_etl_tutorial_spark.operators.rollup import (
        read_rollup,
        refresh_rollup,
    )

    events = load(spark, SF_DIR, "events")
    path = str(tmp_path / "rollup")
    refreshed = refresh_rollup(spark, events, path)
    assert len(refreshed) >= 25  # ~30 days of events
    full = read_rollup(spark, path)
    n_total = full.count()

    # rerun ONE day with its full slice: that day's rows are replaced
    # in place, every other partition untouched
    day = refreshed[0]
    one_day = events.filter(F.date_format(F.date_trunc("hour", "ts"), "yyyyMMdd") == day)
    again = refresh_rollup(spark, one_day, path)
    assert again == [day]
    after = read_rollup(spark, path)
    assert after.count() == n_total
    # and the rollup agrees with a direct aggregation of the source
    direct = (
        events.groupBy(F.date_trunc("hour", "ts").alias("bucket"), "event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .count()
    )
    assert after.count() == direct
