"""As-of join: for each left row, the most recent right row at or before
its timestamp (per key). Spark has no native as-of join; this is the
scalable composition (SURVEY.md §2.10 / common OLAP pattern):

union the two tagged sides, hash-partition by key, sort within the
partition by time, and carry the right side's latest values forward with
a last(ignorenulls) running window. One shuffle (by key), no range
explosion, no per-group pandas — works at any scale and key cardinality.

An applyInPandas/merge_asof variant is deliberately NOT the default: it
pays Arrow transfer + per-group pandas memory and only wins when custom
tolerance semantics are needed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import Window as W
from pyspark.sql import functions as F


def asof_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    tiebreak: str | None = None,
) -> DataFrame:
    """Left rows enriched with ``asof_ts``, the ``ts`` of the latest
    right row with right.ts <= left.ts, per ``on`` key.

    At equal timestamps the right row sorts first, so an exactly-
    simultaneous right row IS visible to the left row. ``tiebreak``
    (a left column) makes ordering among simultaneous left rows
    deterministic.
    """
    left_cols = list(left.columns)
    reserved = {"_ts", "_side", "_right_ts"}
    if reserved & set(left_cols):
        raise ValueError(f"left columns collide with reserved names: {reserved}")

    r = right.select(
        F.col(on),
        F.col("ts").alias("_ts"),
        F.lit(0).alias("_side"),  # right sorts before left at equal ts
        F.col("ts").alias("_right_ts"),
    )
    lt = left.select(
        *left_cols,
        F.col("ts").alias("_ts"),
        F.lit(1).alias("_side"),
    )
    merged = r.unionByName(lt, allowMissingColumns=True)

    order = [F.col("_ts").asc(), F.col("_side").asc()]
    if tiebreak:
        order.append(F.col(tiebreak).asc_nulls_first())
    w = W.partitionBy(on).orderBy(*order).rowsBetween(W.unboundedPreceding, W.currentRow)

    enriched = merged.select(
        "*",
        F.last("_right_ts", ignorenulls=True).over(w).alias("asof_ts"),
    )
    return enriched.filter(F.col("_side") == 1).select(*left_cols, "asof_ts")
