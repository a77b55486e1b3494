"""Release of persisted intermediates, read from Spark's own state.

Operators like minhash_near_duplicates persist() an intermediate that
several branches of the returned plan re-read (signatures feed the LSH
self-join AND both verify lookups). The persist is correct — without it
the shingle/hash map work runs 3x — but the cached blocks outlive the
operator call, and a long-lived session that never releases them keeps
them pinned.

Spark already tracks every such block: each materialized persist is an
entry of the SparkContext's persistent-RDD table, and each DataFrame
persist is an entry of the cache manager. So there is no Python-side
registry; a run-a-query-then-clean loop calls:

- `release_session_intermediates(spark)` — unpersists every persistent
  RDD that is not a local checkpoint, then clears the cache manager;
- `release_session_checkpoints(spark)` — unpersists the RDD blocks behind
  every localCheckpoint(), which clearCache never frees; scope it with
  `snapshot_checkpoints` when live checkpointed DataFrames must survive.
"""

from __future__ import annotations

from pyspark.sql import SparkSession


def _persistent_rdds(spark: SparkSession):
    # Walk the Scala iterator by hasNext/next: iterating a py4j-converted
    # Java map ends on a JVM exception, which costs milliseconds per call
    # even on an empty table — paid before every query of a
    # run-a-query-then-clean loop.
    it = spark.sparkContext._jsc.sc().getPersistentRDDs().valuesIterator()
    rdds = []
    while it.hasNext():
        rdds.append(it.next())
    return rdds


def release_session_intermediates(spark: SparkSession, blocking: bool = False) -> int:
    """Unpersist every persistent RDD of the session that is not a local
    checkpoint, then `spark.catalog.clearCache()`. Safe whenever no plan
    is mid-materialization — an unpersisted plan re-executes rather than
    erroring. Returns the number of RDDs unpersisted."""
    n = 0
    for rdd in _persistent_rdds(spark):
        if not rdd.isLocallyCheckpointed():
            rdd.unpersist(blocking)
            n += 1
    spark.catalog.clearCache()
    return n


def _checkpointed_rdds(spark: SparkSession):
    return [rdd for rdd in _persistent_rdds(spark) if rdd.isLocallyCheckpointed()]


def snapshot_checkpoints(spark: SparkSession) -> frozenset[int]:
    """RDD ids of every locally-checkpointed RDD alive right now. Take
    one BEFORE running scoped work, then pass it as `protect` to
    `release_session_checkpoints` so the sweep frees only checkpoints
    created inside the scope — pre-existing live checkpointed
    DataFrames (whose truncated lineage could never be recomputed)
    keep their blocks (r13 ADVICE: the session-wide sweep is a
    foot-gun for callers that hold live checkpoints across it)."""
    return frozenset(rdd.id() for rdd in _checkpointed_rdds(spark))


def release_session_checkpoints(
    spark: SparkSession,
    blocking: bool = False,
    protect: frozenset[int] = frozenset(),
) -> int:
    """Unpersist the RDD blocks behind every localCheckpoint() this
    session still holds (minus `protect`, see `snapshot_checkpoints`).
    localCheckpoint truncates lineage by PERSISTING the RDD outside the
    DataFrame-cache registry, so `spark.catalog.clearCache()` does not
    free those blocks — absent this call they are reclaimed only when
    the ContextCleaner GCs the reference, i.e. nondeterministically
    across a long single-session sweep (r12 ADVICE). Walks
    `sc.getPersistentRDDs` and unpersists exactly the locally
    checkpointed entries, leaving the others to
    `release_session_intermediates`. Safe between queries: a released
    checkpoint's DataFrame must not be re-read afterwards (its lineage
    is gone), which holds for run-a-query-then-clean loops that rebuild each
    plan from its spec. Callers that DO hold live checkpointed
    DataFrames across the sweep must scope it:
    ``snap = snapshot_checkpoints(spark)`` before the scoped work,
    ``release_session_checkpoints(spark, protect=snap)`` after.
    Returns the number released."""
    n = 0
    for rdd in _checkpointed_rdds(spark):
        if rdd.id() not in protect:
            rdd.unpersist(blocking)
            n += 1
    return n
