"""Session-wide settings that keep a long-lived session fast."""

from __future__ import annotations


def test_compiled_classes_survive_many_distinct_plans(spark):
    """Spark's compiled-class cache holds more than one headline pass's
    working set (510 classes): after ~150 distinct small plans the
    first plan runs again without a Janino compile. At Spark's default
    of 100 entries its classes are evicted and recompiled."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    plans = [spark.range(3).selectExpr(f"id * 7 + {i} AS v") for i in range(150)]
    for df in plans:
        df.collect()
    before = metrics.METRIC_COMPILATION_TIME().getCount()
    assert [r.v for r in plans[0].collect()] == [0, 7, 14]
    assert metrics.METRIC_COMPILATION_TIME().getCount() - before == 0
