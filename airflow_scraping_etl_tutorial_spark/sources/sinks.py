"""Sinks and external connectors (SURVEY.md §2.1 S3-S6).

The reference's sink is a scalar Jinja-templated INSERT into Postgres
(Final_app.py:106-128) with a CSV alternative mentioned in README.md:38.
Engine forms, all set-oriented:

- idempotent daily load = dynamic partition overwrite on the date key
  (``overwrite_day_partitions``, the one writer of it: the TWSE daily
  load and the rollup refresh both call it; equivalent in effect to a
  Delta MERGE keyed on dt for this append-only daily pattern);
- CSV append sink (S6);
- JDBC read/write (S3/S5): implemented against Spark's built-in jdbc
  format and EXECUTED in tests against Derby (the embedded JDBC engine
  bundled in Spark's own jars — tests/test_sinks.py::
  test_jdbc_round_trip_executed runs write_jdbc + read_jdbc incl. the
  partitioned parallel scan). Pointing at the reference's Postgres
  (create_table.sql) is a url/driver option change; no Postgres driver
  jar ships in this container, so that specific target stays untested
  and raises a clear error.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession


def overwrite_day_partitions(df: DataFrame, path: str, partition_col: str = "dt") -> None:
    """Idempotent daily append: replace exactly the partitions present
    in df, leave everything else untouched (SURVEY §7 hard-part 1)."""
    (
        df.write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy(partition_col)
        .parquet(path)
    )


def write_csv(df: DataFrame, path: str, mode: str = "append") -> None:
    """CSV sink (reference S6: '存入資料庫 or csv file'). Header on;
    one directory of part files — readable back by any engine."""
    df.write.mode(mode).option("header", "true").csv(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int = 8,
    **options: str,
) -> DataFrame:
    """JDBC scan (reference S3: PostgresHook SELECT * + fetchall).

    With partition_column/bounds the scan issues num_partitions range
    queries in parallel (the fetchall-into-one-process anti-pattern,
    SURVEY §4, becomes a parallel pushdown scan: Catalyst pushes filters
    and projections into the generated WHERE/SELECT).
    Requires a JDBC driver jar on the Spark classpath.
    """
    reader = spark.read.format("jdbc").option("url", url).option("dbtable", table)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions))
        )
    for k, v in options.items():
        reader = reader.option(k, v)
    return reader.load()


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    **options: str,
) -> None:
    """JDBC append sink (reference S5, set-oriented: batched prepared
    statements instead of one templated INSERT string per row)."""
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
        .mode(mode)
    )
    for k, v in options.items():
        writer = writer.option(k, v)
    writer.save()
