"""The reference ETL (scrape -> branch -> clean -> validate -> load ->
notify) re-expressed as ONE declarative Spark plan and one write.

Reference lifecycle (dags/Final_app.py:79-149): five Airflow tasks with
XCom handoffs and Jinja-templated INSERTs. Engine lifecycle (SURVEY.md
§3.4): a single DataFrame flows

    payload -> filter(stat='OK') -> explode(data) -> drop 合計
            -> de-comma/cast Decimal(38,0)
            -> per-day aggregate (12 sink columns + verdicts) -> collect
            -> route -> idempotent write of the good days -> notify

One collect of the per-day aggregate is the only scan of the payload:
the driver routes on its verdicts and writes the good days' rows from
it, so nothing is cached or scanned twice.

Differences from the reference, by design:
- fetch once, not twice (Final_app.py:26 + :45 double-fetch);
- the sink columns key on the 單位名稱 category VALUES, not row position
  (Final_app.py:50-66 breaks if TWSE reorders rows; we don't);
- money is DecimalType(38,0) not TEXT (exact arithmetic beyond float
  range — the reason the reference chose TEXT, README.md:292);
- loads are idempotent: dynamic partition overwrite on dt replaces
  any existing rows for the same day (the reference's retry policy
  double-inserts, Final_app.py:18 + no PK in create_table.sql);
- validation is a DataFrame predicate (P7), routing is driver control
  flow on action results (C1), notification is a callback (S7/S8).

Scale: a single day is one tiny document, but the same plan handles a
20-year backfill unchanged — explode/aggregate are set-oriented, the
driver holds one aggregate row per day (~5k for 20 years) and the sink
is partitioned by dt, so each day lands in its own partition, reruns
replace exactly that partition and a one-day lookup reads only it.
"""

from __future__ import annotations

import re
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..sources.sinks import overwrite_day_partitions
from ..sources.twse import CATEGORIES, TOTAL_ROW_LABEL

EXPECTED_VALUES_PER_DAY = 12  # 4 categories x 3 measures (Final_app.py:53)

# unit_name of the one row run_daily_load makes of a failed fetch
# (a stat=NULL payload); no TWSE category label looks like it.
FETCH_FAILED_LABEL = "<fetch failed>"

MONEY = "decimal(38,0)"
MEASURES = ("buy", "sell", "dif")

# Sink schema = reference create_table.sql:2-16, strongly typed.
SINK_COLUMNS = ("dt",) + tuple(
    f"{prefix}_{measure}" for _, prefix in CATEGORIES for measure in MEASURES
)
SINK_SCHEMA = T.StructType(
    [T.StructField("dt", T.StringType())]
    + [T.StructField(c, T.DecimalType(38, 0)) for c in SINK_COLUMNS[1:]]
)


def clean_long(payloads: DataFrame) -> DataFrame:
    """Payload documents -> long-form (dt, unit_name, buy, sell, dif).

    Columnar re-expression of Final_app.py:48-51: explode the nested
    array (P4), drop the pre-aggregated 合計 row by VALUE not position
    (P1), strip thousands separators (P3), cast to exact decimals.
    Market-closed days (stat != 'OK', P8) simply produce no rows.
    """
    de_comma = lambda c: F.regexp_replace(c, ",", "").cast(MONEY)  # noqa: E731
    return (
        payloads.filter(F.col("stat") == "OK")
        .select(F.col("date").alias("dt"), F.explode("data").alias("row"))
        .select(
            "dt",
            F.col("row")[0].alias("unit_name"),
            de_comma(F.col("row")[1]).alias("buy"),
            de_comma(F.col("row")[2]).alias("sell"),
            de_comma(F.col("row")[3]).alias("dif"),
        )
        .filter(F.col("unit_name") != TOTAL_ROW_LABEL)
    )


def day_aggregate(long_df: DataFrame) -> DataFrame:
    """Long (4 rows/day) -> one row per dt: the 12 sink money columns
    (reference P5) plus validate's verdicts and ``fetch_failed`` (the day
    is the marker row run_daily_load makes of a failed fetch).

    Each money column is the first non-null value of its measure among
    the day's rows with that category label, so it keys on the category
    VALUE (robust to payload reordering) and needs no distinct-scan job.
    """
    unit = F.col("unit_name")
    money = [
        F.first(F.when(unit == label, F.col(measure)), ignorenulls=True).alias(f"{prefix}_{measure}")
        for label, prefix in CATEGORIES
        for measure in MEASURES
    ]
    n_values = F.count(F.lit(1)) * 3
    n_bad_dif = F.sum(F.when(F.col("dif") != F.col("buy") - F.col("sell"), 1).otherwise(0))
    return long_df.groupBy("dt").agg(
        *money,
        n_values.alias("n_values"),
        (n_values == EXPECTED_VALUES_PER_DAY).alias("arity_ok"),
        (n_bad_dif == 0).alias("dif_ok"),
        F.max(unit == FETCH_FAILED_LABEL).alias("fetch_failed"),
    )


def pivot_to_sink_schema(long_df: DataFrame) -> DataFrame:
    """Long (4 rows/day) -> wide (1 row/day, 13 columns): reference P5."""
    return day_aggregate(long_df).select(*SINK_COLUMNS)


def validate(long_df: DataFrame) -> DataFrame:
    """Schema-drift gate (reference P7: len(data)==12, Final_app.py:53)
    plus the dif=buy-sell invariant the source embeds (§1.2).

    Returns one row per dt with boolean verdicts; empty input -> empty
    output (the market-closed no-op, C2).
    """
    return day_aggregate(long_df).select("dt", "n_values", "arity_ok", "dif_ok")


@dataclass
class RunResult:
    """Outcome of one pipeline run (the engine's answer to the DAG's
    branch routes: loaded / market closed / validation alert)."""

    route: str  # 'loaded' | 'market_closed' | 'alert'
    days_loaded: int
    alerts: list[str]
    fetch_failed: list[str] = field(default_factory=list)  # alerted days whose fetch failed


def run_daily_load(
    spark: SparkSession,
    payloads: DataFrame,
    sink_path: str,
    notify: Callable[[str], None] | None = None,
) -> RunResult:
    """End-to-end daily load with branch semantics and idempotent write.

    Control flow (reference C1) happens HERE, on action results — not in
    the plan: Catalyst owns the dataflow, the driver owns routing.
    """
    # A stat=NULL day is a failed fetch, not a closed market: it becomes
    # one marker row, so the same collect, from the same single scan,
    # alerts on it (arity) and names it (fetch_failed).
    marker = F.array(F.lit(FETCH_FAILED_LABEL), *[F.lit(None).cast("string")] * 3)
    marked = payloads.withColumns(  # one projection: both read the input stat
        {
            "stat": F.coalesce("stat", F.lit("OK")),
            "data": F.when(F.col("stat").isNull(), F.array(marker)).otherwise(F.col("data")),
        }
    )
    # The one scan of the payload: every route and every sink row comes
    # from this collect (vs the reference's S1 double-fetch).
    days = day_aggregate(clean_long(marked)).collect()
    if not days:
        # stat != 'OK' everywhere: market closed -> no-op (C2/DummyOperator).
        return RunResult(route="market_closed", days_loaded=0, alerts=[])

    failed = sorted(r.dt for r in days if r.fetch_failed)
    bad = sorted(r.dt for r in days if not (r.arity_ok and r.dif_ok))
    drift = [dt for dt in bad if dt not in failed]
    good = [[r[c] for c in SINK_COLUMNS] for r in days if r.arity_ok and r.dif_ok]
    if notify and failed:
        notify(f"資料抓取失敗: dt={failed}")
    if notify and drift:
        # Reference S8: fixed-text Telegram alert '資料格式有變動...'
        notify(f"資料格式有變動，請確認資料格式: dt={drift}")
    if not good:
        return RunResult(route="alert", days_loaded=0, alerts=bad, fetch_failed=failed)

    # The good days' rows go back as one local Arrow batch (a Python
    # list would be pickled into one slice per core). Rerunning a day
    # replaces exactly that day's partition; other days are untouched.
    import pandas as pd  # deferred: importing the plan catalog must not load pandas

    wide = spark.createDataFrame(pd.DataFrame(good, columns=SINK_COLUMNS), SINK_SCHEMA)
    overwrite_day_partitions(wide, sink_path)
    if notify:
        # Reference S7: success notification with the loaded date(s).
        notify(f"每日盤後資訊已完成更新: dt={sorted(row[0] for row in good)}")
    return RunResult(
        route="loaded" if not bad else "alert",
        days_loaded=len(good),
        alerts=bad,
        fetch_failed=failed,
    )


def read_sink(spark: SparkSession, sink_path: str, dt: str | None = None) -> DataFrame:
    """Read back the sink (reference S3/S4) with the declared
    SINK_SCHEMA, columns in SINK_COLUMNS order.

    With dt, the engine form of `SELECT * WHERE dt='20220819'`: only
    that day's directory is listed and scanned, so a lookup costs one
    partition however long the history is (no listing job, no footer
    job for schema inference). A day with no partition is an empty
    frame; a dt that is not yyyyMMdd raises ValueError, as it names a
    path. Without dt, every partition is listed.
    """
    reader = spark.read.schema(SINK_SCHEMA)
    if dt is None:
        return reader.parquet(sink_path).select(*SINK_COLUMNS)
    if not re.fullmatch(r"\d{8}", dt):
        raise ValueError(f"dt must be yyyyMMdd, got {dt!r}")
    try:
        day = reader.option("basePath", sink_path).parquet(f"{sink_path}/dt={dt}")
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return spark.createDataFrame([], SINK_SCHEMA)
    return day.select(*SINK_COLUMNS)
