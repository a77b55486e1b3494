"""SparkSession factory.

Scale posture: these configs are the local[N] test harness defaults; on a
real cluster the same builder is used but master/memory come from
spark-submit. The knobs that matter at 100 TB are set here declaratively
so every entry point (tests, bench, driver harness) gets the same plan
behavior:

- AQE on (runtime shuffle-partition coalescing, skew-join splitting,
  broadcast demotion/promotion) — replaces hand-tuned partition counts.
- shuffle.partitions sized to cores locally; AQE coalesces down, and on
  a big cluster the initial number is raised by config, not code.
- Arrow on: every pandas_udf / applyInPandas boundary is Arrow-batched.
- Session timezone pinned to UTC so timestamp semantics are identical to
  the DuckDB oracle (duckdb timestamps are UTC-naive).
- Compiled code is kept across queries. Spark caches the classes Janino
  compiles for whole-stage codegen, projections and orderings, by
  source text, in a JVM-wide cache of 100 entries by default. One
  headline pass uses ~510 distinct classes, so at the default each
  query's classes were evicted before it ran again, and every pass of
  a long-lived session (bench, perfbench, the test session, a
  scheduler) recompiled ~600 of them. The cache is sized below to the
  working set.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "airflow_scraping_etl_tutorial_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with the engine's standard config.

    ``SPARK_GRAFT_CPUS`` (driver contract) controls local parallelism;
    defaults to all cores.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = int(os.environ.get("SPARK_SHUFFLE_PARTITIONS", "32"))

    builder = (
        SparkSession.builder.master(master)
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "48g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", "64MB")
        # Files: pack small test files into few tasks; at 100 TB this is
        # the knob that bounds scan-task count (default 128MB is kept on
        # clusters; local override keeps task count sane for tiny SFs).
        .config("spark.sql.files.maxPartitionBytes", "128m")
        # List up to 10k partition directories in-process; by default
        # more than 32 are listed in a Spark job. A full read of the
        # day-partitioned TWSE sink (~5k days in 20 years) then plans
        # with no listing job: on a 4-core box with local disk, a full
        # read of 5,000 partitions took 0.98 s in 1 job, against 6.9 s
        # in 2 jobs of 5,157 tasks.
        .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "10000")
        # Keep the working set of compiled classes (a static conf: it
        # takes effect only for the session that starts the JVM).
        # Measured on a 4-core box, in one process each:
        # - one cold headline pass at sf0.1 compiles 506 distinct
        #   classes; at 2000 entries passes 1-3 then compile 0-20
        #   (at the default 100: ~600 every pass), and Metaspace after
        #   3 passes is 185 MB (default: 195 MB, still growing);
        # - a sweep of all 468 catalog queries at sf0.001 uses 6,829
        #   distinct classes. After it and a System.gc(), Metaspace is
        #   198 MB at 100 entries (11,256 compiles), 213 MB at 2000
        #   (7,334) and 251 MB with no eviction at all.
        .config("spark.sql.codegen.cache.maxEntries", "2000")
        .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
        # Parquet TIMESTAMP(NANOS) (the events fixture) is otherwise
        # unreadable by Spark; read as long and convert in the loader.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    )
    # Extra driver jars (e.g. the Postgres JDBC driver for the
    # reference's real sink — tests/test_postgres_live.py). Comma-
    # separated jar paths; only effective for the process that CREATES
    # the session, like every other builder config.
    extra_jars = os.environ.get("SPARK_GRAFT_EXTRA_JARS")
    if extra_jars:
        builder = builder.config("spark.jars", extra_jars)
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
