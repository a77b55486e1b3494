"""Structured Streaming operators over the events feed (SURVEY.md §2.9).

The reference is a daily-cron batch pipeline; its upstream is
semantically a stream (one payload per trading day), and the engine's
fixtures include a true event stream. One definition serves batch and
stream: the window aggregates below are the ones the catalog queries
call (``hourly_counts`` in q80, ``sliding_counts`` in q81,
``daily_counts`` in q240). On a batch frame Spark's optimizer drops
the ``withWatermark`` node, so the executed catalog plans carry no trace
of it.
The stream-only operators (stateful, stream-stream and stream-static
joins, the foreachBatch sink, the sources) have no batch caller; the
mergeable sketches a stream maintains live in operators/sketches.py
and operators/membership.py, and are called on the stream unchanged.
tests/test_streaming.py drives all of them with the file source and
memory/foreachBatch sinks.

Watermark doctrine: every stateful operator keyed on event time bounds
its state with ``withWatermark`` — late rows beyond the watermark are
dropped, so state size is O(windows in the watermark horizon), not
O(stream length). That is the property that lets these plans run
forever on a cluster.
"""

from __future__ import annotations

import json
from collections.abc import Callable, Iterator
from typing import TYPE_CHECKING

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

if TYPE_CHECKING:
    # the catalog imports this module for q80/q81/q240 and must not
    # load pandas; the state functions import it in the worker
    import pandas as pd

EVENT_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def stream_from_dir(spark: SparkSession, path: str) -> DataFrame:
    """File-source stream over a directory of parquet event files (the
    test/replay path; production swaps in stream_from_kafka with the
    same schema — every operator below is source-agnostic)."""
    return spark.readStream.schema(EVENT_SCHEMA).parquet(path)


def stream_from_kafka(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    starting_offsets: str = "latest",
    max_offsets_per_trigger: int | None = None,
) -> DataFrame:
    """Kafka source producing the SAME event schema as stream_from_dir,
    so every downstream operator (windows, dedup, stateful, joins) is
    source-agnostic: value is JSON-decoded against EVENT_SCHEMA, the
    event time comes from the payload (not Kafka's ingest timestamp —
    watermarks must track EVENT time or late-data semantics silently
    change).

    maxOffsetsPerTrigger is the 100 TB backpressure knob: it bounds a
    micro-batch after downtime so catch-up doesn't OOM the state store.

    GATED: the spark-sql-kafka connector jar does not ship in this
    container, so calling this here raises Spark's missing-data-source
    error (tests assert the gate); on a cluster, submit with
    --packages org.apache.spark:spark-sql-kafka-0-10_2.13:<version>.
    """
    reader = (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
    )
    if max_offsets_per_trigger is not None:
        reader = reader.option("maxOffsetsPerTrigger", str(max_offsets_per_trigger))
    raw = reader.load()
    parsed = raw.select(
        F.from_json(F.col("value").cast("string"), EVENT_SCHEMA).alias("e")
    )
    return parsed.select("e.*")


def _window_totals() -> list:
    """Event count and the decimal-exact value total rounded to cents
    (the q80/q81 aggregates the DuckDB oracles replay)."""
    return [
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
        .cast("double")
        .alias("total_value"),
    ]


def hourly_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked tumbling 1-hour windows per event type: the
    aggregate of q80_events_hourly_tumbling, and the same plan run
    incrementally on a stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(*_window_totals())
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


def daily_counts(events: DataFrame) -> DataFrame:
    """Daily counts per event type: the (type, day, cnt) frame that
    q240's dyadic-decay burst detector
    (plans/llm_ops9.py::dyadic_burst_frame) runs its LAG window over,
    in batch and on a stream alike. The day is ``to_date(ts)``, a
    derived key a watermark cannot close, so a stream runs it in
    complete mode; its state is one row per (type, day), which grows
    by the number of event types per day."""
    return (
        events.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def sliding_counts(events: DataFrame, watermark: str = "2 hours") -> DataFrame:
    """Watermarked sliding windows (1 h length, 30 min slide): the
    aggregate of q81_events_sliding_window, batch or stream."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour", "30 minutes").alias("w"))
        .agg(*_window_totals())
        .select(F.col("w.start").alias("window_start"), "n_events", "total_value")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """Session-window aggregation: state merges adjacent events within
    the gap (streaming twin of q82's lag/cumsum batch form)."""
    return (
        events.withWatermark("ts", "2 hours")
        .groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "user_id",
            "n_events",
        )
    )


def dedup_within_watermark(events: DataFrame, watermark: str = "1 hour") -> DataFrame:
    """Stateful streaming dedup on (user_id, event_type, minute): state
    for a key is dropped once the watermark passes it — bounded memory
    on an unbounded stream (the streaming form of q83)."""
    return (
        events.withColumn("minute", F.date_trunc("minute", "ts"))
        .withWatermark("minute", watermark)
        .dropDuplicatesWithinWatermark(["user_id", "event_type", "minute"])
    )


def write_with_notify(
    result: DataFrame,
    sink_path: str,
    checkpoint: str,
    notify: Callable[[str], None] | None = None,
):
    """foreachBatch sink combining the reference's S5 (append) + S7
    (notify) in one transactional micro-batch: parquet append then a
    success message with the batch id/row count. availableNow trigger =
    'process everything then stop' (the engine form of the daily cron).
    """

    def handle_batch(batch_df: DataFrame, epoch_id: int) -> None:
        n = batch_df.count()
        batch_df.write.mode("append").parquet(sink_path)
        if notify:
            notify(f"batch {epoch_id}: {n} rows appended")

    return (
        result.writeStream.foreachBatch(handle_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def stateful_user_totals(events: DataFrame) -> DataFrame:
    """Custom stateful operator via applyInPandasWithState: a running
    per-user accumulator (event count + value sum) that survives across
    micro-batches in the state store and emits an updated row per user
    per batch.

    This is the escape hatch for operators Spark's built-in stateful
    forms (windows/dedup) can't express — per-key mutable state with
    arbitrary Python transition logic, still Arrow-batched and
    checkpoint-recoverable. State is one (long, double) pair per user:
    O(users), not O(events).
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        n, v = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            v += float(pdf["value"].sum())
        state.update((n, v))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "total_value": [v]}
        )

    return events.groupBy("user_id").applyInPandasWithState(
        update,
        outputStructType="user_id long, n_events long, total_value double",
        stateStructType="n long, v double",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def streaming_ttl_hits(
    events: DataFrame,
    ttls_us: tuple[tuple[str, int], ...],
    user_col: str = "user_id",
) -> DataFrame:
    """Live TTL-cache hit counter — the SEVENTH stateful shape
    (after the HLL/count-min/Bloom/histogram/AMS sketches and
    `streaming_weighted_sample`): per-user LAST-SEEN state (one long per
    user — O(users), not O(events)) scoring every arriving event as
    a cache hit or miss for EVERY candidate TTL at once, the live
    form of the q382 batch pricer (plans/llm_ops44-era gap identity:
    hit iff the same user's previous event is within TTL).

    Emits RUNNING per-user totals each micro-batch (update mode):
    lookups and one hits_<label> column per TTL. The LAST emission
    per user, summed across users, equals the batch twin on the
    ingested prefix — asserted in tests/test_streaming.py. Within a
    micro-batch rows are ordered by (us, event_id); equivalence with
    batch assumes per-user event-time-ordered arrival across batches
    (the replay contract a log ingest satisfies; out-of-order arrivals
    would need the full-history state this operator deliberately does
    not keep).

    This is per-key mutable state with arbitrary transition logic —
    Spark's built-in dedup/window forms can't express "distance to
    the previous row per key" — so it uses the applyInPandasWithState
    escape hatch, Arrow-batched and checkpoint-recoverable.
    """
    labels = [lbl for lbl, _ in ttls_us]
    bounds = [us for _, us in ttls_us]

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        if state.exists:
            got = state.get
            last_us, v, lookups = got[0], got[1], got[2]
            hits = list(got[3:])
        else:
            last_us, v, lookups = None, 0, 0
            hits = [0] * len(bounds)
        rows: list[tuple[int, int]] = []
        for pdf in pdfs:
            rows.extend(
                zip(
                    pdf["us"].astype("int64").tolist(),
                    pdf["event_id"].astype("int64").tolist(),
                )
            )
        rows.sort()
        for us, _ in rows:
            lookups += 1
            if last_us is not None:
                gap = us - last_us
                for i, bound in enumerate(bounds):
                    if gap <= bound:
                        hits[i] += 1
            last_us = us
        v += 1
        state.update((last_us, v, lookups, *hits))
        yield pd.DataFrame(
            {
                "user_id": [key[0]],
                "version": [v],
                "lookups": [lookups],
                **{f"hits_{lbl}": [h] for lbl, h in zip(labels, hits)},
            }
        )

    hit_cols = ", ".join(f"hits_{lbl} long" for lbl in labels)
    state_cols = ", ".join(f"h{i} long" for i in range(len(bounds)))
    return (
        events.select(
            F.col(user_col).alias("user_id"),
            F.unix_micros("ts").alias("us"),
            "event_id",
        )
        .groupBy("user_id")
        .applyInPandasWithState(
            update,
            outputStructType=(
                f"user_id long, version long, lookups long, {hit_cols}"
            ),
            stateStructType=f"last_us long, v long, lookups long, {state_cols}",
            outputMode="update",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def purchases_within_hour_of_signup(events: DataFrame) -> DataFrame:
    """Stream-stream interval join: purchases matched to the same
    user's signup that happened at most 1 hour earlier.

    Both sides are watermarked; the join condition bounds the event-time
    distance, so each side's state retains only the watermark+interval
    horizon — the requirement for an unbounded stream-stream join to
    have bounded state. (An unbounded-condition stream join would grow
    state forever; Spark rejects it in append mode.)
    """
    purchases = (
        events.filter(F.col("event_type") == "purchase")
        .select(
            F.col("event_id").alias("purchase_id"),
            F.col("user_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "2 hours")
    )
    signups = (
        events.filter(F.col("event_type") == "signup")
        .select(F.col("user_id"), F.col("ts").alias("signup_ts"))
        .withWatermark("signup_ts", "2 hours")
    )
    return purchases.join(
        signups,
        (purchases.user_id == signups.user_id)
        & (F.col("purchase_ts") >= F.col("signup_ts"))
        & (F.col("purchase_ts") <= F.col("signup_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("purchase_id", purchases.user_id, "purchase_ts", "signup_ts")


def enrich_with_dimension(events: DataFrame, dim: DataFrame) -> DataFrame:
    """Stream-static join: enrich the event stream with a (small) batch
    dimension table. The static side is planned per micro-batch as an
    ordinary broadcast hash join — no state, no watermark required, and
    a dimension refresh is picked up by the next micro-batch because
    the batch plan re-resolves the static source each trigger. This is
    the streaming twin of the reference's read-enrich pattern and the
    standard shape for attaching account/segment metadata to a
    clickstream at 100 TB/day (the stream never shuffles; the dim
    broadcasts).

    `dim` must carry a `user_id` join key column.
    """
    return events.join(F.broadcast(dim), "user_id", "left")


def streaming_weighted_sample(
    df: DataFrame,
    id_col: str = "doc_id",
    key_col: str = "skey",
    k: int = 50,
    n_shards: int = 4,
) -> DataFrame:
    """Running Efraimidis-Spirakis weighted sample over a streaming
    (id, selection-key) column pair — the SIXTH mergeable-state shape
    (HLL merges by MAX, count-min/histogram/AMS by +, Bloom by OR;
    a bounded top-k set merges by union-then-top-k, which q345
    proves as data on the batch side). The caller derives the A-ES
    selection key ln(u)/w deterministically (q339's md5 construction)
    so the sample is a pure function of the items seen — any drain
    point yields exactly the batch sample of the ingested prefix.

    Top-k is not a built-in streaming aggregate, so this is the
    applyInPandasWithState escape hatch: ids are hash-sharded into
    n_shards state keys, each holding AT MOST k rows (a JSON-encoded
    (id, key) list — constant memory per shard regardless of stream
    length), and each micro-batch re-emits the shard's current top-k
    tagged with a version number. The union of the shards' latest
    emissions, re-topped to k, IS the global sample — the same
    union-then-top-k merge a 1000-executor batch job would run, so
    sharding is the scale story, not a compromise.
    """

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import pandas as pd

        if state.exists:
            items, v = json.loads(state.get[0]), state.get[1]
            items = [(int(i), float(s)) for i, s in items]
        else:
            items, v = [], 0
        for pdf in pdfs:
            items.extend(
                zip(
                    pdf[id_col].astype("int64").tolist(),
                    pdf[key_col].astype("float64").tolist(),
                )
            )
        items.sort(key=lambda t: (-t[1], t[0]))
        items = items[:k]
        v += 1
        state.update((json.dumps(items), v))
        yield pd.DataFrame(
            {
                "shard": [key[0]] * len(items),
                "version": [v] * len(items),
                "shard_rank": list(range(1, len(items) + 1)),
                id_col: [i for i, _ in items],
                key_col: [s for _, s in items],
            }
        )

    return df.withColumn(
        "shard", (F.col(id_col) % n_shards).cast("long")
    ).groupBy("shard").applyInPandasWithState(
        update,
        outputStructType=(
            f"shard long, version long, shard_rank int,"
            f" {id_col} long, {key_col} double"
        ),
        stateStructType="s string, v long",
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
