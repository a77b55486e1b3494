"""Continuous aggregate (hypertable-style rollup): a persisted
time-bucketed aggregate table maintained incrementally.

The reference's `investment_data` IS this shape — a daily rollup row
appended per day (create_table.sql). Generalized: `refresh_rollup`
recomputes ONLY the time buckets present in the new data slice and
dynamic-partition-overwrites exactly those buckets, so a late-arriving
hour triggers one bucket's recompute, never a full-table rebuild.

Scale: the rollup table is partitioned by bucket date; refresh cost is
O(dirty buckets x rows in them). The stream form of an hourly
aggregate is streaming/events.py::hourly_counts (q80's operator): the
same hour buckets kept as watermarked streaming state instead of
reprocessable partitions. The rollup also counts distinct users, an
aggregate a streaming state cannot maintain.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.sinks import overwrite_day_partitions


def hourly_rollup(events: DataFrame) -> DataFrame:
    """The rollup definition: hour-bucketed per-type counts/sums, plus
    the partition key (bucket date) the sink overwrites by."""
    return (
        events.groupBy(
            F.date_trunc("hour", "ts").alias("bucket"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum("value").alias("total_value"),
            F.count_distinct("user_id").alias("n_users"),
        )
        .withColumn("bucket_date", F.date_format("bucket", "yyyyMMdd"))
    )


def refresh_rollup(
    spark: SparkSession, new_events: DataFrame, rollup_path: str
) -> list[str]:
    """Incremental refresh: recompute the rollup for every bucket_date
    present in `new_events` and overwrite exactly those partitions.

    Returns the refreshed partition keys. Correct under reruns and late
    data by construction: recomputing a partition from ALL its source
    rows is idempotent (same reasoning as the TWSE daily load, SURVEY
    §7 hard-part 1) — but note the source slice passed in must contain
    the FULL data for each dirty date, not a delta.
    """
    rolled = hourly_rollup(new_events)
    dirty = [r.bucket_date for r in rolled.select("bucket_date").distinct().collect()]
    overwrite_day_partitions(rolled, rollup_path, "bucket_date")
    return sorted(dirty)


def read_rollup(spark: SparkSession, rollup_path: str) -> DataFrame:
    """Read the rollup (bucket_date restored to string — partition
    column type inference would return int)."""
    return spark.read.parquet(rollup_path).withColumn(
        "bucket_date", F.col("bucket_date").cast("string")
    )
