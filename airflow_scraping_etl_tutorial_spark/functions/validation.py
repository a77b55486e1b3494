"""Data-quality gates — the engine-wide generalization of the
reference's single arity check (P7: len(data)==12, Final_app.py:53).

Each check is a DataFrame -> one-row summary; `run_checks` unions them
into a report. All checks are set-oriented (anti-joins and aggregates,
no collect loops), so the same gates run on a 100 TB table: a
uniqueness check is one groupBy on the key, a referential check is one
broadcast/shuffle anti-join — and both short-circuit to per-partition
work under AQE.

The routing contract mirrors the pipeline's: a failed gate routes to
alert (driver decides on the report), it does not throw mid-plan.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _summary(name: str, n_violations: Column) -> list[Column]:
    # `passed` is projected as INT 0/1 (not BOOLEAN): the driver's
    # canonicalizer hash-compares values across engines, and int is the
    # one representation Spark and DuckDB agree on byte-for-byte.
    return [
        F.lit(name).alias("check_name"),
        n_violations.cast("bigint").alias("n_violations"),
        (n_violations == 0).cast("int").alias("passed"),
    ]


def check_not_null(df: DataFrame, cols: list[str]) -> DataFrame:
    """No NULLs in the given columns."""
    pred = reduce(lambda a, c: a | F.col(c).isNull(), cols, F.lit(False))
    return df.agg(
        *_summary(f"not_null({','.join(cols)})", F.sum(F.when(pred, 1).otherwise(0)))
    )


def check_unique(df: DataFrame, cols: list[str]) -> DataFrame:
    """The given columns form a unique key (PK check)."""
    dupes = (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .agg(F.coalesce(F.sum(F.col("n") - 1), F.lit(0)).alias("extra"))
    )
    return dupes.select(*_summary(f"unique({','.join(cols)})", F.col("extra")))


def check_referential(
    child: DataFrame, child_key: str, parent: DataFrame, parent_key: str
) -> DataFrame:
    """Every child FK exists in the parent (orphan check = anti-join)."""
    orphans = child.join(
        parent.select(F.col(parent_key).alias(child_key)), child_key, "left_anti"
    )
    return orphans.agg(
        *_summary(f"fk({child_key}->{parent_key})", F.count(F.lit(1)))
    )


def check_range(df: DataFrame, col: str, lo: float, hi: float) -> DataFrame:
    """Values fall inside [lo, hi]."""
    bad = F.sum(F.when(~F.col(col).between(lo, hi), 1).otherwise(0))
    return df.agg(*_summary(f"range({col},[{lo},{hi}])", F.coalesce(bad, F.lit(0))))


def run_checks(checks: list[DataFrame]) -> DataFrame:
    """Union the one-row check summaries into a report DataFrame."""
    return reduce(lambda a, b: a.unionByName(b), checks)
