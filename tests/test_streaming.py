"""Structured Streaming tests: the events fixture replayed through the
file source, driven to completion with availableNow/processAllAvailable.
An operator that a catalog query also calls is drained as a stream and
checked against that query's rows (SURVEY §5 item 5); a stream-only
operator is checked against the batch computation it maintains."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.sources.tables import load
from airflow_scraping_etl_tutorial_spark.streaming.events import (
    daily_counts,
    dedup_within_watermark,
    hourly_counts,
    session_counts,
    sliding_counts,
    stream_from_dir,
    write_with_notify,
)

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def events_dir(spark, tmp_path_factory):
    """Re-land the events fixture as µs-timestamp parquet (the raw file
    is TIMESTAMP(NANOS), unreadable by a plain streaming scan)."""
    path = str(tmp_path_factory.mktemp("events_stream"))
    load(spark, SF_DIR, "events").repartition(4).write.mode("overwrite").parquet(path)
    return path


def _drain(spark, df, name, mode):
    """Run a streaming frame into a memory sink until its input is
    drained; returns the sink table and the micro-batch count."""
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .start()
    )
    q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()
    return spark.sql(f"SELECT * FROM {name}"), n_batches


def _file_stream(spark, df, path, n_files):
    """Land `df` as n_files parquet files and read them back as a
    stream of one file per micro-batch."""
    df.repartition(n_files).write.mode("overwrite").parquet(path)
    return (
        spark.readStream.schema(spark.read.parquet(path).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(path)
    )


def test_streaming_daily_counts_feed_burst_detector(spark, events_dir):
    """The streamed daily aggregate drives the dyadic-decay burst
    detector (wave 10's q240) to the exact batch result: micro-batch
    accumulation of the tumbling day windows is associative, and the
    detector's integer LAG arithmetic sees identical (type, day, cnt)
    rows either way."""
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops9 import (
        dyadic_burst_frame,
        q240_ewma_burst_detection,
    )

    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(spark, daily_counts(stream), "daily_burst", "complete")
    streamed = [tuple(r) for r in dyadic_burst_frame(got).collect()]
    batch = [tuple(r) for r in q240_ewma_burst_detection(spark, SF_DIR).collect()]
    assert streamed == batch
    # the detector actually evaluated: baselines warmed up past day 7
    assert any(r[3] > 0 for r in batch), "no row with a warmed decay baseline"


def test_session_counts_stream_runs(spark, events_dir):
    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(spark, session_counts(stream), "sessions", "complete")
    rows = got.collect()
    assert len(rows) > 0
    assert all(r.session_end > r.session_start for r in rows)


def test_dedup_within_watermark_drops_dupes(spark, tmp_path, events_dir):
    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(spark, dedup_within_watermark(stream), "dedup", "append")
    n_unique_batch = (
        spark.read.parquet(events_dir)
        .select("user_id", "event_type", F.date_trunc("minute", "ts").alias("m"))
        .distinct()
        .count()
    )
    assert got.count() == n_unique_batch


def test_foreach_batch_sink_appends_and_notifies(spark, tmp_path, events_dir):
    msgs = []
    stream = stream_from_dir(spark, events_dir).filter(F.col("event_type") == "purchase")
    q = write_with_notify(
        stream,
        sink_path=str(tmp_path / "out"),
        checkpoint=str(tmp_path / "ckpt"),
        notify=msgs.append,
    )
    q.awaitTermination(120)
    n_expected = spark.read.parquet(events_dir).filter(
        F.col("event_type") == "purchase"
    ).count()
    assert spark.read.parquet(str(tmp_path / "out")).count() == n_expected
    assert msgs and "appended" in msgs[0]


def test_late_data_beyond_watermark_dropped(spark, tmp_path):
    """Deterministic late-row check: two micro-batches landed as files;
    the second contains a row older than watermark horizon behind the
    first batch's max ts -> excluded from append-mode output."""
    d = str(tmp_path / "late_src")
    ckpt = str(tmp_path / "late_ckpt")
    rows1 = [(1, "2024-01-01 00:05:00", 1, "click", 1.0, "{}"),
             (2, "2024-01-01 06:00:00", 1, "click", 1.0, "{}")]
    rows2 = [(3, "2024-01-01 00:10:00", 1, "click", 1.0, "{}"),  # 6h late
             (4, "2024-01-01 07:00:00", 1, "click", 1.0, "{}")]
    cols = "event_id long, ts string, user_id long, event_type string, value double, props string"

    def land(rows, name):
        (
            spark.createDataFrame(rows, cols)
            .withColumn("ts", F.to_timestamp("ts"))
            .coalesce(1)
            .write.mode("append")
            .parquet(d)
        )

    land(rows1, "b1")
    stream = stream_from_dir(spark, d)
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "1 hour").alias("w"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("w.start").alias("ws"), "n")
    )
    q = (
        agg.writeStream.format("memory")
        .queryName("late")
        .outputMode("append")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="1 second")
        .start()
    )
    q.processAllAvailable()  # batch 1: watermark advances to 05:00
    land(rows2, "b2")
    q.processAllAvailable()  # batch 2: 00:10 row is beyond watermark
    q.stop()
    out = {str(r.ws): r.n for r in spark.sql("SELECT * FROM late").collect()}
    # the 00:00 window was finalized with ONLY the on-time row
    assert out.get("2024-01-01 00:00:00") == 1


def test_stateful_user_totals_matches_batch(spark, events_dir):
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        stateful_user_totals,
    )

    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(spark, stateful_user_totals(stream), "totals", "update")
    # update mode: keep the LAST emitted row per user (the final state)
    final = {}
    for r in got.collect():
        final[r.user_id] = (r.n_events, round(r.total_value, 6))
    batch = (
        spark.read.parquet(events_dir)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("v"))
    )
    expected = {r.user_id: (r.n, r.v) for r in batch.collect()}
    assert {u: nv[0] for u, nv in final.items()} == {
        u: nv[0] for u, nv in expected.items()
    }


def test_sliding_counts_stream_equals_q81(spark, events_dir):
    from airflow_scraping_etl_tutorial_spark.plans.streaming_queries import (
        q81_events_sliding_window,
    )

    got, _ = _drain(
        spark, sliding_counts(stream_from_dir(spark, events_dir)), "sliding", "complete"
    )
    streamed = got.select(
        F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias("window_start"),
        "n_events",
        "total_value",
    ).orderBy("window_start")
    want = q81_events_sliding_window(spark, SF_DIR).collect()
    assert [tuple(r) for r in streamed.collect()] == [tuple(r) for r in want]


def test_stream_stream_interval_join(spark, events_dir):
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        purchases_within_hour_of_signup,
    )

    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(
        spark, purchases_within_hour_of_signup(stream), "ssjoin", "append"
    )
    # batch equivalent over the same files
    e = spark.read.parquet(events_dir)
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"), "user_id", F.col("ts").alias("pts")
    )
    s = e.filter(F.col("event_type") == "signup").select(
        F.col("user_id").alias("su"), F.col("ts").alias("sts")
    )
    batch = p.join(
        s,
        (p.user_id == F.col("su"))
        & (F.col("pts") >= F.col("sts"))
        & (F.col("pts") <= F.col("sts") + F.expr("INTERVAL 1 HOUR")),
    )
    got_set = {(r.purchase_id, str(r.signup_ts)) for r in got.collect()}
    batch_set = {(r.purchase_id, str(r.sts)) for r in batch.collect()}
    # append-mode emits only watermark-closed matches; every emitted row
    # must be a true match, and most true matches should have emitted
    assert got_set <= batch_set
    assert len(got_set) >= len(batch_set) * 0.5


def test_rocksdb_state_store_hourly_counts(spark, events_dir):
    """The 100 TB state backend, executed: the same watermarked hourly
    aggregation runs with the RocksDB state store provider (state
    off-heap + spillable — at 10^9 keys the HDFS-backed in-memory map
    OOMs, RocksDB doesn't). Provider is per-query via
    spark.sql.streaming.stateStore.providerClass; results must match
    q80's rows exactly."""
    from airflow_scraping_etl_tutorial_spark.plans.streaming_queries import (
        q80_events_hourly_tumbling,
    )

    provider = (
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
    )
    old = spark.conf.get("spark.sql.streaming.stateStore.providerClass", None)
    spark.conf.set("spark.sql.streaming.stateStore.providerClass", provider)
    try:
        stream = stream_from_dir(spark, events_dir)
        got, _ = _drain(spark, hourly_counts(stream), "hourly_rocks", "complete")
        streamed = got.select(
            F.date_format("window_start", "yyyy-MM-dd HH:mm:ss").alias(
                "window_start"
            ),
            "event_type",
            "n_events",
            "total_value",
        ).orderBy("window_start", "event_type")
        want = q80_events_hourly_tumbling(spark, SF_DIR).collect()
        assert [tuple(r) for r in streamed.collect()] == [tuple(r) for r in want]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set("spark.sql.streaming.stateStore.providerClass", old)


def test_kafka_source_gated_with_clear_error(spark):
    """The Kafka source is the documented production path; without the
    connector jar it must fail fast with Spark's missing-data-source
    error, not something cryptic downstream."""
    import pytest as _pytest

    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        stream_from_kafka,
    )

    with _pytest.raises(Exception, match="(?i)kafka|data.?source|provider"):
        stream_from_kafka(spark, "localhost:9092", "events").writeStream.format(
            "noop"
        ).start()


def test_stream_static_enrichment_matches_batch(spark, events_dir):
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        enrich_with_dimension,
    )

    dim = load(spark, SF_DIR, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_nationkey", "c_mktsegment"
    )
    stream = stream_from_dir(spark, events_dir)
    got, _ = _drain(
        spark,
        enrich_with_dimension(stream, dim).select(
            "event_id", "user_id", "c_nationkey", "c_mktsegment"
        ),
        "enriched",
        "append",
    )
    batch = (
        spark.read.parquet(events_dir)
        .join(dim, "user_id", "left")
        .select("event_id", "user_id", "c_nationkey", "c_mktsegment")
    )
    got_rows = sorted(map(tuple, got.collect()))
    batch_rows = sorted(map(tuple, batch.collect()))
    assert got_rows == batch_rows
    # every event found its dimension row (fixture keys are aligned)
    assert all(r[2] is not None for r in got_rows)


def test_streaming_hll_registers_match_q231_and_q215(spark, tmp_path):
    """The register MAX a stream maintains is the one q231 and q215
    run in batch: documents replayed one file per micro-batch (4
    incremental state updates) end at per-language registers whose
    estimates are q231's, and whose bucket-wise MAX (the set-union
    merge) gives q215's audit of the whole vocabulary."""
    from airflow_scraping_etl_tutorial_spark.operators.sketches import (
        hll_estimate_agg,
        hll_register_max,
        hll_registers,
    )
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops7 import (
        q215_hll_distinct_audit,
    )
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops8 import (
        q231_vocab_overlap_hll,
    )

    docs = load(spark, SF_DIR, "documents")
    stream = _file_stream(spark, docs, str(tmp_path / "docs_hll"), 4)
    toks = stream.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    regs, n_batches = _drain(
        spark, hll_register_max(toks, "lang"), "hll_regs", "complete"
    )
    assert n_batches >= 4  # the state really was built incrementally

    est = regs.groupBy("lang").agg(F.round(hll_estimate_agg(), 4).alias("est"))
    per_lang = {r.lang: r.est for r in est.collect()}
    pairs = q231_vocab_overlap_hll(spark, SF_DIR).collect()
    assert pairs
    for r in pairs:
        assert (per_lang[r.lang_a], per_lang[r.lang_b]) == (
            r.hll_est_a,
            r.hll_est_b,
        )

    merged = regs.groupBy("bucket").agg(F.max("reg").alias("reg"))
    batch = hll_registers(docs.select(F.explode(F.split("text", " ")).alias("tok")))
    assert {r.bucket: r.reg for r in merged.collect()} == {
        r.bucket: r.reg for r in batch.collect()
    }
    got = merged.agg(
        F.count(F.lit(1)).alias("n"),
        F.max("reg").alias("m"),
        F.round(hll_estimate_agg(), 4).alias("e"),
    ).first()
    want = q215_hll_distinct_audit(spark, SF_DIR).first()
    assert (got.n, got.m, got.e) == (
        want.n_buckets_used,
        want.max_register,
        want.hll_estimate,
    )


def test_streaming_countmin_counters_give_q216_estimates(spark, tmp_path):
    """The count-min counter matrix a stream maintains (linear state,
    merges by +) is the batch matrix after the drain, and answers
    q216's point queries: the min over the 4 hash rows of each heavy
    hitter's cells is q216's cm_estimate."""
    from airflow_scraping_etl_tutorial_spark.operators.sketches import (
        CM_D,
        cm_counters,
        cm_hash,
    )
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops7 import (
        q216_countmin_heavy_hitters,
    )

    docs = load(spark, SF_DIR, "documents")
    stream = _file_stream(spark, docs, str(tmp_path / "docs_cm"), 3)
    toks = stream.select(F.explode(F.split("text", " ")).alias("tok"))
    cells, _ = _drain(spark, cm_counters(toks), "cm_counters", "complete")
    counters = {(r.row, r.k): r.v for r in cells.collect()}
    batch = cm_counters(docs.select(F.explode(F.split("text", " ")).alias("tok")))
    assert counters == {(r.row, r.k): r.v for r in batch.collect()}

    q216 = q216_countmin_heavy_hitters(spark, SF_DIR).collect()
    want = {r.token: r.cm_estimate for r in q216}
    hashed = spark.createDataFrame([(t,) for t in want], "tok string").select(
        "tok", *[cm_hash(d).alias(f"h{d}") for d in range(CM_D)]
    )
    got = {
        r.tok: min(counters[(d, r[f"h{d}"])] for d in range(CM_D))
        for r in hashed.collect()
    }
    assert got == want


def test_streaming_bloom_bitmap_matches_batch_and_screens(spark, tmp_path):
    """bloom_bitmap run on the stream drains to the batch bitmap (OR
    is the merge), and probing the corpus's own keys against the
    streamed bitmap yields zero false negatives — a snapshot
    mid-ingest is a valid membership screen."""
    from airflow_scraping_etl_tutorial_spark.operators.membership import (
        bloom_bitmap,
        bloom_probe,
    )

    batch_docs = load(spark, SF_DIR, "documents")
    stream = _file_stream(spark, batch_docs, str(tmp_path / "docs_bloom"), 3)
    streamed, _ = _drain(spark, bloom_bitmap(stream), "bloom_bits", "complete")
    got = {(r.word_idx, r.bits) for r in streamed.collect()}
    want = {(r.word_idx, r.bits) for r in bloom_bitmap(batch_docs).collect()}
    assert got == want

    probed = bloom_probe(batch_docs, streamed)
    assert all(r.bloom_hit == 1 for r in probed.collect())  # no false negatives


def test_streaming_histogram_matches_batch_and_feeds_quantiles(spark, tmp_path):
    """histogram_fixed run on the stream drains to the batch
    histogram (per-bin COUNT merges by + — the property q278 proves
    as data), every event is binned (clamped edges drop nothing), and
    the snapshot supports the q267-style quantile read."""
    from airflow_scraping_etl_tutorial_spark.operators.sketches import (
        histogram_fixed,
    )

    batch_ev = load(spark, SF_DIR, "events")
    stream = _file_stream(spark, batch_ev, str(tmp_path / "events_hist"), 4)
    hist = histogram_fixed(stream, "value", 0.0, 1000.0, 64)
    hist, n_batches = _drain(spark, hist, "hist_bins", "complete")
    got = {r.bin: r.cnt for r in hist.collect()}
    want = {
        r.bin: r.cnt
        for r in histogram_fixed(batch_ev, "value", 0.0, 1000.0, 64).collect()
    }
    assert got == want
    assert n_batches >= 4  # state built incrementally, not in one gulp
    # nothing dropped: clamped edge bins absorb out-of-range values
    n_values = batch_ev.filter(F.col("value").isNotNull()).count()
    assert sum(got.values()) == n_values
    assert all(0 <= b <= 63 for b in got)
    # the snapshot answers a p50 read the q267 way: smallest bin whose
    # cumulative count reaches ceil(n/2)
    rank = (n_values + 1) // 2
    cum, p50_bin = 0, None
    for b in sorted(got):
        cum += got[b]
        if cum >= rank:
            p50_bin = b
            break
    assert p50_bin is not None


def test_fixed_bin_clamps_and_bins_exactly(spark):
    """fixed_bin puts out-of-range values in the edge bins (a stream
    cannot re-derive edges, so drift must not drop rows) and bins
    interior values by the same IEEE floor the q267/q278 oracles
    replay."""
    from airflow_scraping_etl_tutorial_spark.operators.sketches import fixed_bin

    df = spark.createDataFrame(
        [(-5.0,), (0.0,), (3.99,), (4.0,), (39.99,), (40.0,), (999.0,)],
        "v double",
    )
    got = [
        r.bin
        for r in df.select(fixed_bin(F.col("v"), 0.0, 40.0, 10).alias("bin"))
        .collect()
    ]
    #            -5   0  3.99 4.0 39.99 40  999
    assert got == [0,  0,  0,  1,  9,    9,  9]


def test_streaming_ams_matches_batch_and_q314(spark, tmp_path):
    """ams_sums run on the stream drains to the batch counters (fifth
    mergeable shape: signed counters merge by +), and its squared
    counters are exactly the q314 catalog estimates — the sketch is
    LINEAR in events, so replaying the events table one file per
    micro-batch must land on the identical 8 integers."""
    from airflow_scraping_etl_tutorial_spark.operators.sketches import ams_sums
    from airflow_scraping_etl_tutorial_spark.plans import llm_ops24  # noqa: F401
    from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

    batch_ev = load(spark, SF_DIR, "events").select("user_id")
    stream = _file_stream(spark, batch_ev, str(tmp_path / "ev_ams"), 4)
    sums = ams_sums(stream, "user_id")
    sums, n_batches = _drain(spark, sums, "ams_sums", "complete")
    got = {r.est: r.s for r in sums.collect()}
    want = {r.est: r.s for r in ams_sums(batch_ev, "user_id").collect()}
    assert got == want
    assert n_batches >= 4  # state built incrementally
    assert set(got) == set(range(8))
    # the live counters square to the q314 audit's estimates
    q314 = {
        r.estimator: r.estimate
        for r in _REGISTRY["q314_ams_selfjoin_estimate"].fn(spark, SF_DIR).collect()
    }
    assert {j: s * s for j, s in got.items()} == q314


def test_streaming_weighted_sample_matches_batch_q339(spark, tmp_path):
    """The streaming A-ES weighted sample (sixth mergeable shape:
    bounded top-k sets merging by union-then-top-k) lands on exactly
    the q339 batch sample after the drain: shard states stay <= k
    rows each, and the union of the shards' latest emissions,
    re-topped to 50, is the identical ranked doc list."""
    from airflow_scraping_etl_tutorial_spark.plans import llm_ops33  # noqa: F401
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops33 import _wrs_keyed
    from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        streaming_weighted_sample,
    )

    keyed = _wrs_keyed(spark, SF_DIR).select(
        "doc_id",
        (F.col("lnu").cast("double") / F.col("weight").cast("double")).alias(
            "skey"
        ),
    )
    stream = _file_stream(spark, keyed, str(tmp_path / "wrs_stream"), 4)
    sample, n_batches = _drain(
        spark, streaming_weighted_sample(stream), "wrs_sample", "update"
    )
    rows = sample.collect()
    assert n_batches >= 4  # state built incrementally, one file per batch
    latest = {}
    for r in rows:
        latest[r.shard] = max(latest.get(r.shard, 0), r.version)
    assert len(latest) >= 2  # genuinely sharded state
    final = [
        (r.doc_id, r.skey)
        for r in rows
        if r.version == latest[r.shard]
    ]
    per_shard = {}
    for r in rows:
        if r.version == latest[r.shard]:
            per_shard[r.shard] = per_shard.get(r.shard, 0) + 1
    assert all(c <= 50 for c in per_shard.values())  # bounded state
    merged = sorted(final, key=lambda t: (-t[1], t[0]))[:50]
    want = [
        r.doc_id
        for r in sorted(
            _REGISTRY["q339_weighted_sample_aes"].fn(spark, SF_DIR).collect(),
            key=lambda r: r.sample_rank,
        )
    ]
    assert [i for i, _ in merged] == want


def test_streaming_ttl_hits_match_batch(spark, tmp_path):
    """The seventh stateful shape: per-user last-seen TTL scoring.
    The events fixture is replayed in FOUR TIME-ORDERED chunks
    (files dropped into the watched dir one at a time, a drain
    between drops — the replay contract the operator documents), and
    the final per-user emissions, summed, must equal the q382 batch
    pricer's hit counts for every TTL."""
    import glob
    import os
    import shutil

    from airflow_scraping_etl_tutorial_spark.plans import llm_ops46  # noqa: F401
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops46 import TTLS_US
    from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        streaming_ttl_hits,
    )

    batch = load(spark, SF_DIR, "events").select("user_id", "ts", "event_id")
    lo, hi = batch.agg(
        F.unix_micros(F.min("ts")), F.unix_micros(F.max("ts"))
    ).first()
    src = tmp_path / "ttl_stream"
    os.makedirs(src)
    stream = (
        spark.readStream.schema(batch.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = (
        streaming_ttl_hits(stream, TTLS_US)
        .writeStream.format("memory")
        .queryName("ttl_hits")
        .outputMode("update")
        .start()
    )
    step = (hi - lo) // 4 + 1
    for i in range(4):
        chunk = batch.filter(
            (F.unix_micros("ts") >= lo + i * step)
            & (F.unix_micros("ts") < lo + (i + 1) * step)
        )
        stage = tmp_path / f"chunk_{i}"
        chunk.coalesce(1).write.parquet(str(stage))
        (part,) = glob.glob(str(stage / "part-*.parquet"))
        shutil.copy(part, str(src / f"{i:03d}.parquet"))
        q.processAllAvailable()
    n_batches = len(q.recentProgress)
    q.stop()

    rows = spark.sql("SELECT * FROM ttl_hits").collect()
    assert n_batches >= 4  # state really was built incrementally
    latest: dict[int, int] = {}
    for r in rows:
        latest[r.user_id] = max(latest.get(r.user_id, 0), r.version)
    finals = [r for r in rows if r.version == latest[r.user_id]]
    # a user active in several chunks emitted several RUNNING rows
    assert any(latest[u] > 1 for u in latest)

    twin = _REGISTRY["q382_ttl_cache_hit_curve"].fn(spark, SF_DIR).collect()
    want = {r.ttl: (r.n_lookups, r.n_users, r.hits) for r in twin}
    total_lookups = sum(r.lookups for r in finals)
    for lbl, _ in TTLS_US:
        n_lookups, n_users, hits = want[lbl]
        assert total_lookups == n_lookups
        assert len(finals) == n_users
        assert sum(getattr(r, f"hits_{lbl}") for r in finals) == hits
