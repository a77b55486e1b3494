"""Table catalog over the driver fixtures (TESTDATA.md).

Spark reads the parquet footers directly — schema comes from the file,
filters and projections are pushed into the scan by Catalyst (check with
``df.explain``: ``PushedFilters`` / ``ReadSchema``). At 100 TB the same
loader points at a partitioned directory tree and partition pruning
applies; nothing here changes.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

def ensure_session_defaults(spark: SparkSession) -> None:
    """Pin the runtime-settable confs every catalog query depends on.

    Queries must be correct even when the CALLER built the session (the
    driver harness does) — session.py's builder defaults only cover our
    own entry points. All three are runtime-settable SQLConfs:
    - nanosAsLong: some fixture drops land events.ts as parquet
      TIMESTAMP(NANOS), unreadable by Spark otherwise (harmless when
      the fixture is µs-typed — load() normalizes either way);
    - session timezone UTC: timestamp formatting must agree with the
      UTC-naive DuckDB oracle;
    - AQE on (default since 3.2, pinned anyway — plans are designed
      around runtime coalescing/skew handling).

    Static confs cannot be set here. A caller-built session keeps
    Spark's 100-entry compiled-class cache
    (``spark.sql.codegen.cache.maxEntries``, sized by session.py's
    builder): its results are the same, but a long-lived caller session
    recompiles most of a headline pass's ~510 classes on every pass.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")


# Plan cache: (session id, resolved path, file mtime_ns) -> DataFrame.
#
# A DataFrame is a PLAN, not data — nothing is materialized by keeping
# it, every action on it still scans the parquet bytes, and
# spark.catalog.clearCache() has nothing of ours to clear. What the
# cache removes is the DRIVER-side planning cost spark.read.parquet
# pays on every call: file listing plus a footer read for schema
# inference (~0.13 s per call measured locally; a bench/correctness
# loop that rebuilds each query per run pays it once per table per
# run). This is the same class of metadata caching Spark itself
# applies to catalog tables (spark.sql.hive.filesourcePartitionFileCacheSize)
# but for our bare-path reads. The mtime key invalidates the entry
# when a fixture is overwritten (tests rewrite tmp dirs); a dead
# session's entries are dropped via the same weakref pattern as
# functions/caching.py.
_PLAN_CACHE: dict[tuple[int, str, int], DataFrame] = {}
_SESSIONS_FINALIZED: set[int] = set()


def _drop_session_plans(key: int) -> None:
    # also forget the finalizer registration: id() values can be reused
    # by a LATER SparkSession object, which must get its own finalizer
    # and must never see the dead session's plans
    _SESSIONS_FINALIZED.discard(key)
    for k in [k for k in _PLAN_CACHE if k[0] == key]:
        _PLAN_CACHE.pop(k, None)


def _path_mtime_ns(path: str) -> int | None:
    """mtime_ns of the file, or of the newest entry for a directory
    (a parquet directory write replaces part-files; the dir mtime
    changes too, but the max over entries also catches in-place
    part-file swaps)."""
    try:
        st = os.stat(path)
        if not os.path.isdir(path):
            return st.st_mtime_ns
        newest = st.st_mtime_ns
        for entry in os.scandir(path):
            newest = max(newest, entry.stat().st_mtime_ns)
        return newest
    except OSError:
        return None


def load(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as a DataFrame.

    Contract: events.ts is ALWAYS TimestampType (an instant) after
    load(), regardless of the on-disk representation. Fixture drops
    have landed ts three different ways across rounds:

    - parquet TIMESTAMP(NANOS): Spark reads it only as a raw long
      (nanosAsLong, pinned by ensure_session_defaults). Convert
      ns -> µs with exact integer division (`div`, not `/` — a double
      division loses precision above 2^53); the values carry only µs
      precision so truncation is lossless.
    - parquet timestamp[us] without timezone: Spark 4 reads this as
      TIMESTAMP_NTZ, which instant functions (unix_micros,
      window, from_utc_timestamp) reject. Cast to TimestampType —
      the session timezone is pinned UTC (ensure_session_defaults),
      so the wall-clock values are reinterpreted as UTC instants,
      identical to what the UTC-naive DuckDB oracle computes.
    - parquet timestamp[us] with timezone: already TimestampType;
      the cast is a no-op.
    """
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    ensure_session_defaults(spark)
    path = f"{sf_dir}/{name}.parquet"
    mtime = _path_mtime_ns(path)
    key = None
    if mtime is not None:
        skey = id(spark)
        key = (skey, path, mtime)
        cached = _PLAN_CACHE.get(key)
        if cached is not None:
            return cached
        if skey not in _SESSIONS_FINALIZED:
            _SESSIONS_FINALIZED.add(skey)
            weakref.finalize(spark, _drop_session_plans, skey)
    df = spark.read.parquet(path)
    if name == "events":
        ts_dtype = dict(df.dtypes).get("ts")
        if ts_dtype == "bigint":
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_dtype is not None and ts_dtype != "timestamp":
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if key is not None:
        # evict superseded entries for this (session, path) before
        # inserting the new mtime key: a fixture rewritten N times in a
        # live session must not leave N dead plans behind (r14 VERDICT
        # item 5 — harmless at current scale, but a leak is a leak)
        skey = key[0]
        for old in [
            k
            for k in _PLAN_CACHE
            if k[0] == skey and k[1] == path and k[2] != mtime
        ]:
            _PLAN_CACHE.pop(old, None)
        _PLAN_CACHE[key] = df
    return df
