"""Contract tests for functions/partitioning.py::fan_out — the helper
the heavy map-side operators (minhash, simhash, vector scoring) rely
on for parallelism on small inputs. The round-9 q154 lesson: a
map-side stage inherits the scan's partition count, so forgetting the
fan-out serializes a quadratic probe; these tests pin the contract so
a refactor can't silently weaken it.
"""

from __future__ import annotations

from collections import Counter

from pyspark.sql import Row

from airflow_scraping_etl_tutorial_spark.functions.partitioning import fan_out


def test_fan_out_memory_relation_reaches_default_parallelism(spark):
    """A memory relation reports zero input files and must always fan
    out to the session's default parallelism (the safe direction for a
    compute-heavy consumer)."""
    df = spark.createDataFrame([Row(k=i % 3, v=i) for i in range(50)])
    out = fan_out(df)
    assert out.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism


def test_fan_out_preserves_row_multiset(spark):
    """Round-robin repartition moves rows, never drops/duplicates them
    — duplicates in the input must survive with their multiplicity."""
    rows = [Row(k=1, v=7)] * 5 + [Row(k=2, v=9)] * 3
    df = spark.createDataFrame(rows)
    got = Counter((r.k, r.v) for r in fan_out(df).collect())
    assert got == Counter({(1, 7): 5, (2, 9): 3})


def test_fan_out_noop_when_splits_already_sufficient(spark, tmp_path):
    """A file-backed input with one file per core already meets the
    target and is returned UNTOUCHED (same object — no redundant
    shuffle)."""
    cores = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "split")
    spark.range(10 * cores).repartition(cores).write.parquet(path)
    df = spark.read.parquet(path)
    assert len(df.inputFiles()) == cores
    assert fan_out(df) is df
