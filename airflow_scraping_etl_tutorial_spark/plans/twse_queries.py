"""The TWSE pipeline's core transforms as oracle-checked catalog queries.

These run on the golden 2022-08-19 payload (sources/golden.py — the
reference's only golden output, ipynb cell-2) rather than the star-schema
fixtures, so the sf_dir argument is unused. The DuckDB oracle rebuilds
the same payload from a VALUES clause and re-implements clean/pivot/
validate in ANSI SQL — putting the reference-parity semantics (P1-P8)
under the driver's hash gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..pipeline.investment import clean_long, pivot_to_sink_schema, validate
from ..sources.golden import GOLDEN_OK
from ..sources.twse import payloads_to_df
from .registry import query

_RAW_VALUES = ",\n      ".join(
    "('" + "', '".join(row) + "')" for row in GOLDEN_OK["data"]
)

_ORACLE_CLEAN = f"""
    WITH raw(unit_name, buy_s, sell_s, dif_s) AS (VALUES
      {_RAW_VALUES}
    ),
    clean AS (
      SELECT '20220819' AS dt, unit_name,
             CAST(REPLACE(buy_s, ',', '') AS BIGINT) AS buy,
             CAST(REPLACE(sell_s, ',', '') AS BIGINT) AS sell,
             CAST(REPLACE(dif_s, ',', '') AS BIGINT) AS dif
      FROM raw WHERE unit_name <> '合計'
    )
"""


@query(
    "q50_twse_clean_long",
    oracle=_ORACLE_CLEAN
    + """
    SELECT dt, unit_name, buy, sell, dif FROM clean ORDER BY unit_name
    """,
    tags=("twse", "etl", "explode"),
)
def q50_twse_clean_long(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P1+P3+P4+P8 in one plan: filter stat='OK', explode the
    nested array, drop the 合計 row by value, de-comma, cast exact."""
    long_df = clean_long(payloads_to_df(spark, [GOLDEN_OK]))
    return long_df.select(
        "dt",
        "unit_name",
        F.col("buy").cast("bigint").alias("buy"),
        F.col("sell").cast("bigint").alias("sell"),
        F.col("dif").cast("bigint").alias("dif"),
    ).orderBy("unit_name")


@query(
    "q51_twse_pivot_daily_row",
    oracle=_ORACLE_CLEAN
    + """
    SELECT dt,
           MAX(CASE WHEN unit_name = '自營商(自行買賣)' THEN buy END) AS dealer_buy,
           MAX(CASE WHEN unit_name = '自營商(自行買賣)' THEN sell END) AS dealer_sell,
           MAX(CASE WHEN unit_name = '自營商(自行買賣)' THEN dif END) AS dealer_dif,
           MAX(CASE WHEN unit_name = '自營商(避險)' THEN buy END) AS dealer_hedge_buy,
           MAX(CASE WHEN unit_name = '自營商(避險)' THEN sell END) AS dealer_hedge_sell,
           MAX(CASE WHEN unit_name = '自營商(避險)' THEN dif END) AS dealer_hedge_dif,
           MAX(CASE WHEN unit_name = '投信' THEN buy END) AS investment_buy,
           MAX(CASE WHEN unit_name = '投信' THEN sell END) AS investment_sell,
           MAX(CASE WHEN unit_name = '投信' THEN dif END) AS investment_dif,
           MAX(CASE WHEN unit_name = '外資及陸資' THEN buy END) AS foreign_buy,
           MAX(CASE WHEN unit_name = '外資及陸資' THEN sell END) AS foreign_sell,
           MAX(CASE WHEN unit_name = '外資及陸資' THEN dif END) AS foreign_dif
    FROM clean GROUP BY dt
    """,
    tags=("twse", "etl", "pivot"),
)
def q51_twse_pivot_daily_row(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P5: long->wide pivot into the 13-column investment_data
    sink row, keyed on category VALUES (not position — survives payload
    reordering, unlike Final_app.py:54-66)."""
    wide = pivot_to_sink_schema(payloads_to_df(spark, [GOLDEN_OK]))
    return wide.select(
        "dt", *[F.col(c).cast("bigint").alias(c) for c in wide.columns if c != "dt"]
    )


@query(
    "q52_twse_validate",
    oracle=_ORACLE_CLEAN
    + """
    SELECT dt,
           CAST(COUNT(*) * 3 AS BIGINT) AS n_values,
           COUNT(*) * 3 = 12 AS arity_ok,
           SUM(CASE WHEN dif <> buy - sell THEN 1 ELSE 0 END) = 0 AS dif_ok
    FROM clean GROUP BY dt
    """,
    tags=("twse", "etl", "validation"),
)
def q52_twse_validate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reference P7 (len(data)==12 gate) plus the dif=buy-sell invariant
    as set-oriented predicates."""
    checks = validate(payloads_to_df(spark, [GOLDEN_OK]))
    return checks.select(
        "dt", F.col("n_values").cast("bigint").alias("n_values"), "arity_ok", "dif_ok"
    )


@query(
    "q53_twse_totals_recompute",
    oracle=f"""
    WITH raw(unit_name, buy_s, sell_s, dif_s) AS (VALUES
      {_RAW_VALUES}
    ),
    typed AS (
      SELECT unit_name,
             CAST(REPLACE(buy_s, ',', '') AS BIGINT) AS buy,
             CAST(REPLACE(sell_s, ',', '') AS BIGINT) AS sell
      FROM raw
    )
    SELECT
      CAST((SELECT SUM(buy) FROM typed WHERE unit_name <> '合計') AS BIGINT) AS buy_total,
      CAST((SELECT SUM(sell) FROM typed WHERE unit_name <> '合計') AS BIGINT) AS sell_total,
      CAST((SELECT SUM(buy) FROM typed WHERE unit_name <> '合計')
        = (SELECT buy FROM typed WHERE unit_name = '合計') AS INT) AS buy_matches,
      CAST((SELECT SUM(sell) FROM typed WHERE unit_name <> '合計')
        = (SELECT sell FROM typed WHERE unit_name = '合計') AS INT) AS sell_matches
    """,
    tags=("twse", "etl", "agg"),
)
def q53_twse_totals_recompute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recompute the 合計 grand-total row the reference discards
    (Final_app.py:49) and verify it against the payload's own total —
    the engine trusts arithmetic, not upstream pre-aggregation (§1.2)."""
    payload = payloads_to_df(spark, [GOLDEN_OK])
    typed = (
        payload.select(F.explode("data").alias("row"))
        .select(
            F.col("row")[0].alias("unit_name"),
            F.regexp_replace(F.col("row")[1], ",", "").cast("bigint").alias("buy"),
            F.regexp_replace(F.col("row")[2], ",", "").cast("bigint").alias("sell"),
        )
    )
    kept = typed.filter(F.col("unit_name") != "合計").agg(
        F.sum("buy").alias("buy_total"), F.sum("sell").alias("sell_total")
    )
    total_row = typed.filter(F.col("unit_name") == "合計").select(
        F.col("buy").alias("buy_claim"), F.col("sell").alias("sell_claim")
    )
    # Driver-compare doctrine (q87/q53 lessons, NOTES.md): SUM stays BIGINT
    # on both sides (DuckDB SUM(BIGINT) is HUGEINT without the cast) and
    # booleans are projected as INT 0/1.
    return kept.crossJoin(total_row).select(
        "buy_total",
        "sell_total",
        (F.col("buy_total") == F.col("buy_claim")).cast("int").alias("buy_matches"),
        (F.col("sell_total") == F.col("sell_claim")).cast("int").alias("sell_matches"),
    )
