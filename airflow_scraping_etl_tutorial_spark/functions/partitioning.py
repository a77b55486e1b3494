"""The partition-shape helper, `fan_out`.

Spark parallelism is bounded by input partition count. A small parquet
file (or a handful of large row groups) arrives as 1-2 partitions, so a
CPU-heavy map stage (shingling/hashing/vector math) runs on 1-2 cores no
matter how many the cluster has. At 100 TB inputs arrive already split
into thousands of scan tasks and fan_out is a no-op; it exists for the
small-input regime where compute-per-row, not data volume, dominates.
Its target is always the session's default parallelism (one partition
per core); no caller needs another.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def fan_out(df: DataFrame, by: str | None = None) -> DataFrame:
    """Repartition IF the input's file-scan split count is below the
    session's default parallelism (i.e. cores would sit idle). The
    extra shuffle moves each row once — worth it exactly when
    downstream per-row compute exceeds row transfer cost; callers are
    the heavy operators (minhash, simhash, vector scoring).

    Without `by`, the spread is round-robin. With `by`, rows
    hash-partition on that column (r14, guide §2.4 "two operations
    keyed the same way can often share one exchange"): a downstream
    groupBy/join on the SAME key reuses the partitioning — the target
    matches spark.sql.shuffle.partitions in the sessions this engine
    builds — so the fan-out exchange replaces, rather than adds to,
    the aggregation exchange that would follow. Use it when the
    consumer is keyed on a high-cardinality, near-uniform column
    (e.g. an order key at ~4 rows/key); keep round-robin when the
    consumer's key set is small or skewed, where hashing would starve
    cores.

    The split estimate is `df.inputFiles()` — a pure plan inspection
    (no RDD-plan conversion, no job; `df.rdd.getNumPartitions()` would
    force a Python-RDD conversion of the whole query). Files larger
    than `spark.sql.files.maxPartitionBytes` arrive as MORE splits
    than files, so the estimate only under-counts — the failure mode
    is a redundant repartition of an already-parallel input, never a
    starved one. Non-file inputs (memory relations in tests) report
    zero files and always fan out, which is the safe direction for a
    compute-heavy consumer."""
    target = df.sparkSession.sparkContext.defaultParallelism
    if len(df.inputFiles()) < target:
        if by is not None:
            return df.repartition(target, by)
        return df.repartition(target)
    return df
