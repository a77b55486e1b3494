"""The reference ETL (scrape -> branch -> clean -> validate -> load ->
notify) re-expressed as ONE declarative Spark plan and one write.

Reference lifecycle (dags/Final_app.py:79-149): five Airflow tasks with
XCom handoffs and Jinja-templated INSERTs. Engine lifecycle (SURVEY.md
§3.4): a single DataFrame flows

    payload -> per payload row, in place on its data array:
               keep stat='OK' (a failed fetch is one marker row)
            -> drop 合計 -> de-comma/cast Decimal(38,0)
            -> 12 sink columns + verdicts -> collect
            -> route -> idempotent write of the good days -> notify

One collect of the per-day projection is the only scan of the payload:
the driver routes on its verdicts and writes the good days' rows from
it, so nothing is cached or scanned twice. Each TWSE payload row holds
exactly one day, so the projection reads its nested rows where they
are (as Dremel evaluates a repeated field inside its record) instead of
exploding and regrouping them: no shuffle, and over an in-memory
payload frame Catalyst folds it away, so a loaded day runs one Spark
job, the write.

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
20-year backfill unchanged: the projection is one narrow pass over the
payload rows, the collect returns one row per day (~5k for 20 years) and
the sink is partitioned by dt, so each day lands in its own partition,
reruns replace exactly that partition and a one-day lookup reads only it.
"""

from __future__ import annotations

import re
from collections import Counter
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..sources.sinks import overwrite_day_partitions
from ..sources.twse import CATEGORIES, TOTAL_ROW_LABEL

EXPECTED_VALUES_PER_DAY = 12  # 4 categories x 3 measures (Final_app.py:53)

# unit_name of the one row day_rows makes of a failed fetch (a
# stat=NULL payload); no TWSE category label looks like it.
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


# One payload row as SQL text, composed once at import and shared by
# clean_long and day_rows. A kept row is a typed (unit_name, buy, sell,
# dif) struct whose amounts lose their thousands separators (P3) and are
# cast exact; the 合計 row is dropped by VALUE not position (P1), and so
# is a row with a null label. `get` reads a short row's missing cells as
# NULL; day_rows counts the cells, so such a row fails the arity gate.
_TYPED_ROW = "r -> named_struct('unit_name', get(r, 0), {})".format(
    ", ".join(f"'{m}', CAST(regexp_replace(get(r, {i}), ',', '') AS {MONEY})" for i, m in enumerate(MEASURES, 1))
)
_KEEP_ROW = f"r -> get(r, 0) != '{TOTAL_ROW_LABEL}'"
# A failed fetch (stat NULL) is one marker row, so the same expressions
# alert on it (arity) and name it (fetch_failed). Any stat other than
# 'OK' (a closed market, P8) keeps no rows.
_KEPT_ROWS = (
    f"filter(CASE WHEN stat IS NULL"
    f" THEN array(array('{FETCH_FAILED_LABEL}', NULL, NULL, NULL))"
    f" WHEN stat = 'OK' THEN data END, {_KEEP_ROW})"
)
# The schema-drift gate (P7, Final_app.py:53) counts value CELLS, not
# rows: 4 category rows of exactly 1 label + 3 amounts each. A row that
# lost or gained a column alerts instead of loading NULL or misread
# amounts.
_TYPED_COLUMNS = (
    "dt",
    f"transform(kept, {_TYPED_ROW}) AS rows",
    "aggregate(kept, CAST(0 AS BIGINT), (n, r) -> n + size(r) - 1) AS n_values",
    f"size(kept) * 3 = {EXPECTED_VALUES_PER_DAY} AND forall(kept, r -> size(r) = 4) AS arity_ok",
)
# Each money column is the first non-null value of its measure among the
# day's rows with that category label: it keys on the category VALUE, so
# it survives payload reordering (unlike Final_app.py:54-66).
_DAY_COLUMNS = (
    "dt",
    *(
        f"get(filter(transform(filter(rows, r -> r.unit_name = '{label}'), r -> r.{measure}),"
        f" v -> v IS NOT NULL), 0) AS {prefix}_{measure}"
        for label, prefix in CATEGORIES
        for measure in MEASURES
    ),
    "n_values",
    "arity_ok",
    "NOT exists(rows, r -> coalesce(r.dif != r.buy - r.sell, false)) AS dif_ok",
    f"exists(rows, r -> r.unit_name = '{FETCH_FAILED_LABEL}') AS fetch_failed",
)


def clean_long(payloads: DataFrame) -> DataFrame:
    """Payload documents -> long-form (dt, unit_name, buy, sell, dif).

    Columnar re-expression of Final_app.py:48-51: flatten the nested
    array (P4, ``inline`` of the typed rows), drop the pre-aggregated
    合計 row by VALUE not position (P1), strip thousands separators
    (P3), cast to exact decimals; the same row expressions as
    ``day_rows``. Market-closed days (stat != 'OK', P8) simply produce
    no rows.
    """
    return payloads.where("stat = 'OK'").selectExpr(
        "date AS dt", f"inline(transform(filter(data, {_KEEP_ROW}), {_TYPED_ROW}))"
    )


def day_rows(payloads: DataFrame) -> DataFrame:
    """Payload documents -> one row per payload day: the 12 sink money
    columns (reference P5) plus validate's verdicts and ``fetch_failed``
    (the payload is a failed fetch, stat NULL).

    One projection of each payload row: its ``data`` array is typed and
    read in place by array functions, with no explode and no regroup,
    so nothing is shuffled. Over an in-memory payload frame Catalyst
    folds the whole projection, and its collect runs no Spark job. A
    day with no kept rows (closed market, empty ``data``, only 合計)
    yields no row. A kept row that is not 1 label + 3 amounts fails
    ``arity_ok``. Two payload rows of one date yield two rows;
    run_daily_load alerts on such a date.
    """
    return (
        payloads.selectExpr("date AS dt", f"{_KEPT_ROWS} AS kept")
        .where("size(kept) > 0")
        .selectExpr(*_TYPED_COLUMNS)
        .selectExpr(*_DAY_COLUMNS)
    )


def pivot_to_sink_schema(payloads: DataFrame) -> DataFrame:
    """Payload documents -> wide (1 row/day, 13 columns): reference P5."""
    return day_rows(payloads).select(*SINK_COLUMNS)


def validate(payloads: DataFrame) -> DataFrame:
    """Schema-drift gate (reference P7: len(data)==12, Final_app.py:53)
    plus the dif=buy-sell invariant the source embeds (§1.2).

    Returns one row per payload day with boolean verdicts; no open day
    -> empty output (the market-closed no-op, C2).
    """
    return day_rows(payloads).select("dt", "n_values", "arity_ok", "dif_ok")


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
    # The one scan of the payload: every route and every sink row comes
    # from this collect (vs the reference's S1 double-fetch).
    days = day_rows(payloads).collect()
    if not days:
        # stat != 'OK' everywhere: market closed -> no-op (C2/DummyOperator).
        return RunResult(route="market_closed", days_loaded=0, alerts=[])

    # A date held by two payload rows is never loaded: which row is right
    # is unknown, so it alerts like any other drift.
    seen = Counter(r.dt for r in days)
    ok = [r.arity_ok and r.dif_ok and seen[r.dt] == 1 for r in days]
    failed = sorted({r.dt for r in days if r.fetch_failed})
    bad = sorted({r.dt for r, o in zip(days, ok) if not o})
    drift = [dt for dt in bad if dt not in failed]
    good = [[r[c] for c in SINK_COLUMNS] for r, o in zip(days, ok) if o]
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
    path. Without dt, every partition is listed in-process (session.py
    sets the listing threshold), so no listing job runs.
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
