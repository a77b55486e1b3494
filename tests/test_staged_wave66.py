"""Wave-66 catalog entries (plans/llm_ops65.py): full python replays —
the variant extraction replayed with the stdlib json module, the
SQL-UDF de-comma totals replayed with int arithmetic over the
comma-formatting round-trip."""

from __future__ import annotations

import json
from decimal import Decimal

from airflow_scraping_etl_tutorial_spark.plans import llm_ops65  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops65 import _KEY_CAP
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_variant_extraction_python_replay(spark, duck):
    """Build each order's document with the stdlib json module and
    extract the same four values; the Spark VARIANT path must agree on
    every row. Round-12 form: the document carries exact BIGINT cents
    (never a decimal — its JSON text rendering is engine-specific)."""
    base = duck.sql(
        f"SELECT o_orderkey, o_orderstatus, "
        f"CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents, "
        f"o_orderpriority "
        f"FROM orders WHERE o_orderkey <= {_KEY_CAP} ORDER BY o_orderkey"
    ).fetchall()
    want = {}
    for key, status, cents, prio in base:
        doc = json.dumps(
            {"status": status, "total_cents": int(cents), "tags": [status, prio]}
        )
        parsed = json.loads(doc)
        want[key] = (
            parsed["status"],
            parsed["total_cents"],
            parsed["tags"][1],
            len(parsed["tags"]),
        )
    got = {
        r.o_orderkey: (r.status, int(r.total_cents), r.prio_tag, r.n_tags)
        for r in _REGISTRY["q438_variant_json_extraction"].fn(spark, SF_DIR).collect()
    }
    assert got == want


def test_sql_udf_totals_python_replay(spark, duck):
    """Totals replay: sum of exact cents per status, with the comma
    group round-trip applied in python (f'{cents:,}' -> strip ',')
    to prove the round-trip is the identity the entry relies on."""
    rows = duck.sql(
        "SELECT o_orderstatus, CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 "
        "AS BIGINT) FROM orders"
    ).fetchall()
    want: dict[str, list[int]] = {}
    for status, cents in rows:
        round_trip = int(f"{cents:,}".replace(",", ""))
        assert round_trip == cents
        want.setdefault(status, []).append(round_trip)
    got = {
        r.status: (int(r.total_cents), r.n_orders)
        for r in _REGISTRY["q439_sql_udf_decomma_totals"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (sum(v), len(v)) for s, v in want.items()}


def test_comma_grouped_matches_python_format(spark):
    """The locale-free Catalyst grouping expression (round-12
    replacement for format_number in q439's input path) agrees with
    python's f'{x:,}' on every grouping edge: 0, 1-3 digits, exact
    multiples of 3 digits, and 13/15-digit values."""
    from pyspark.sql import functions as F

    from airflow_scraping_etl_tutorial_spark.plans.llm_ops65 import (
        _comma_grouped,
    )

    vals = [0, 7, 99, 999, 1000, 12345, 999999, 1000000, 1234567890123,
            123456789012345]
    df = spark.createDataFrame([(v,) for v in vals], "x LONG")
    got = {
        r.x: r.s
        for r in df.select("x", _comma_grouped(F.col("x")).alias("s")).collect()
    }
    assert got == {v: f"{v:,}" for v in vals}


def test_decomma_grouping_edges(spark):
    """The grouping edges named in the entry docstring: 0, sub-1000,
    and 15-digit values survive format -> de_comma unchanged."""
    from airflow_scraping_etl_tutorial_spark.operators.udx import (
        register_sql_udfs,
    )

    register_sql_udfs(spark)
    got = spark.sql(
        "SELECT de_comma_money(format_number(0, 0)) a, "
        "de_comma_money(format_number(999, 0)) b, "
        "de_comma_money(format_number(123456789012345, 0)) c"
    ).collect()[0]
    assert (got.a, got.b, got.c) == (
        Decimal(0),
        Decimal(999),
        Decimal(123456789012345),
    )
