"""The twse Python data source (sources/twse.py): schema
must equal the typed PAYLOAD_SCHEMA, partitioning must be one task per
date, golden replay must agree with the payloads_to_df seam, and the
source must compose with the existing pipeline (clean_long) with zero
glue — the crawl->clean hop of the reference as a planned scan."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.pipeline.investment import clean_long
from airflow_scraping_etl_tutorial_spark.sources.golden import GOLDEN_CLOSED, GOLDEN_OK
from airflow_scraping_etl_tutorial_spark.sources.twse import (
    PAYLOAD_SCHEMA,
    _payload_row,
    payloads_to_df,
    register,
)


@pytest.fixture(scope="module", autouse=True)
def _register(spark):
    register(spark)


def _read(spark, dates, **opts):
    r = spark.read.format("twse").option("dates", dates)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_schema_equals_typed_payload_schema(spark):
    df = _read(spark, "20220819")
    assert df.schema == PAYLOAD_SCHEMA


def test_one_partition_per_date(spark):
    df = _read(spark, "20220819,20220820,20100106")
    assert df.rdd.getNumPartitions() == 3
    assert df.count() == 3


def test_golden_replay_agrees_with_payloads_to_df(spark):
    via_source = _read(spark, "20220819").collect()
    via_seam = payloads_to_df(spark, [GOLDEN_OK]).collect()
    assert via_source == via_seam


def test_payloads_to_df_is_one_local_arrow_batch(spark):
    """The seam gives the same typed rows as a pickled list, nulls of a
    failed fetch included, from one batch: a one-day frame is one
    partition. pandas loads only when the seam runs, not with the
    plan catalog that imports it."""
    for payloads in ([], [{"stat": None, "date": "20220104"}], [GOLDEN_CLOSED], [GOLDEN_OK]):
        df = payloads_to_df(spark, payloads)
        assert df.schema == PAYLOAD_SCHEMA
        pickled = spark.createDataFrame([_payload_row(p) for p in payloads], PAYLOAD_SCHEMA)
        assert df.collect() == pickled.collect()
        if payloads:
            assert df.rdd.getNumPartitions() == 1
    probe = "import sys; from airflow_scraping_etl_tutorial_spark.plans import all_queries; all_queries(); print('pandas' in sys.modules)"
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    out = subprocess.run([sys.executable, "-c", probe], cwd=root, capture_output=True, text=True, check=True)
    assert out.stdout.strip() == "False"


def test_unknown_date_yields_closed_shape_for_that_date(spark):
    row = _read(spark, "20990101").collect()[0]
    assert row.date == "20990101"
    assert row.params["dayDate"] == "20990101"
    assert row.data is None  # closed-day payload -> P8 no-op route


def test_composes_with_pipeline_clean_long(spark):
    """The source feeds the existing declarative pipeline directly:
    the golden open day cleans to the same 12-row long frame as the
    test-seam path."""
    long_df = clean_long(_read(spark, "20220819,20220820"))
    seam = clean_long(payloads_to_df(spark, [GOLDEN_OK]))
    got = {
        (r.unit_name): (int(r.buy), int(r.sell))
        for r in long_df.collect()
    }
    want = {
        (r.unit_name): (int(r.buy), int(r.sell))
        for r in seam.collect()
    }
    assert got == want
    assert long_df.count() == seam.count() > 0


def test_missing_dates_option_fails_loudly(spark):
    with pytest.raises(Exception, match="dates"):
        spark.read.format("twse").load().collect()
    # the source is 'golden' or an http(s) URL template with {date}
    with pytest.raises(Exception, match="unknown twse source"):
        _read(spark, "20220819", source="http").collect()


def test_limit_composes_above_the_scan(spark):
    got = _read(spark, "20220819,20220820,20100106").limit(1).select(
        F.col("date")
    )
    assert got.count() == 1
