"""The twse Python data source (sources/twse.py): schema
must equal the typed PAYLOAD_SCHEMA, partitioning must be one task per
date, golden replay must agree with the payloads_to_df seam, and the
source must compose with the existing pipeline (clean_long) with zero
glue — the crawl->clean hop of the reference as a planned scan."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.pipeline.investment import clean_long
from airflow_scraping_etl_tutorial_spark.sources.golden import GOLDEN_OK
from airflow_scraping_etl_tutorial_spark.sources.twse import (
    PAYLOAD_SCHEMA,
    TwseStreamReader,
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


# -- streaming form ----------------------------------------------------------


def _stream(spark, dates, **opts):
    r = spark.readStream.format("twse").option("dates", dates)
    for k, v in opts.items():
        r = r.option(k, v)
    return r.load()


def test_stream_available_now_drains_and_matches_batch(spark):
    """trigger(availableNow) must drain the whole date list in one run
    and produce exactly the batch reader's rows (stream==batch)."""
    dates = "20220819,20220820,20100106"
    q = (
        _stream(spark, dates)
        .writeStream.format("memory")
        .queryName("twse_drain")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = sorted(map(tuple, spark.sql("SELECT * FROM twse_drain").collect()))
    want = sorted(map(tuple, _read(spark, dates).collect()))
    assert got == want


def test_stream_daily_cadence_one_date_per_batch(spark):
    """batch_days=1: each micro-batch consumes exactly one trading day
    (the reference's cadence); the cursor offset makes progress
    exactly-once."""
    q = (
        _stream(spark, "20220819,20220820", batch_days="1")
        .writeStream.format("memory")
        .queryName("twse_daily")
        .outputMode("append")
        .start()
    )
    q.processAllAvailable()
    q.stop()
    rows = sorted(r.date for r in spark.sql("SELECT date FROM twse_daily").collect())
    assert rows == ["20220819", "20220820"]


# -- offset semantics (content-based cursor, round-10 ADVICE) ----------------


def _stream_reader(dates, **opts):
    return TwseStreamReader({"dates": dates, **opts})


def test_duplicate_dates_refused_at_construction():
    """Round-11 ADVICE: the position check resolves a committed date
    with list.index (first occurrence), which is only a sound cursor
    for unique dates — a duplicated day must be refused up front with
    the real diagnosis, not later as a spurious 'mutated before the
    cursor' error."""
    import pytest

    with pytest.raises(ValueError, match="duplicate trading days"):
        _stream_reader("20220819,20220820,20220819")
    # unique lists construct fine
    _stream_reader("20220819,20220820")


def test_offset_is_content_based_and_survives_appended_dates():
    """A restart that APPENDS future trading days to the dates option
    (the normal calendar evolution) must resume exactly after the
    committed date — no skip, no re-read."""
    r1 = _stream_reader("20220819,20220820", batch_days="1")
    rows, off = r1.read(r1.initialOffset())
    assert [t[3] for t in rows] == ["20220819"]
    assert off == {"last_date": "20220819", "n_consumed": 1}
    # restart with a longer list: the committed date is located by
    # CONTENT, so the next batch is 20220820, not a positional guess
    r2 = _stream_reader("20220819,20220820,20100106", batch_days="1")
    rows2, off2 = r2.read(off)
    assert [t[3] for t in rows2] == ["20220820"]
    assert off2 == {"last_date": "20220820", "n_consumed": 2}


def test_offset_replay_between_offsets_is_content_addressed():
    r = _stream_reader("20220819,20220820,20100106")
    got = [
        t[3]
        for t in r.readBetweenOffsets(
            {"last_date": "20220819", "n_consumed": 1},
            {"last_date": "20100106", "n_consumed": 3},
        )
    ]
    assert got == ["20220820", "20100106"]


def test_offset_with_removed_committed_date_fails_loudly():
    r = _stream_reader("20220820,20100106")
    with pytest.raises(ValueError, match="not in the current 'dates'"):
        r.read({"last_date": "20220819", "n_consumed": 1})


def test_offset_with_backfilled_date_before_cursor_fails_loudly():
    """The round-11 review repro: a day backfilled BEFORE the committed
    date must refuse the restart — a bare last_date cursor would
    silently skip the backfilled day forever."""
    r = _stream_reader("20100106,20220819,20220820", batch_days="1")
    with pytest.raises(ValueError, match="mutated before the cursor"):
        r.read({"last_date": "20220819", "n_consumed": 1})


def test_replay_range_with_insertion_inside_fails_loudly():
    """The second review repro: an insertion INSIDE a committed range
    must refuse readBetweenOffsets — replaying would yield rows that
    were never in the originally committed batch."""
    r = _stream_reader("20220819,20100106,20220820")
    with pytest.raises(ValueError, match="mutated before the cursor"):
        list(
            r.readBetweenOffsets(
                {"last_date": "20220819", "n_consumed": 1},
                {"last_date": "20220820", "n_consumed": 2},
            )
        )


def test_legacy_positional_offset_is_refused():
    """A pre-round-11 positional cursor cannot be validated against a
    possibly-reordered list — refuse it instead of replaying the wrong
    days. The first round-11 bare-last_date form is refused for the
    same reason (it cannot detect a mutated prefix)."""
    r = _stream_reader("20220819,20220820")
    with pytest.raises(ValueError, match="unrecognized checkpoint offset"):
        r.read({"next_idx": 1})
    with pytest.raises(ValueError, match="unrecognized checkpoint offset"):
        r.read({"last_date": "20220819"})


def test_drained_stream_offset_is_stable():
    r = _stream_reader("20220819,20220820")
    rows, off = r.read(r.initialOffset())
    assert len(list(rows)) == 2
    assert off == {"last_date": "20220820", "n_consumed": 2}
    rows2, off2 = r.read(off)
    assert list(rows2) == [] and off2 == off
