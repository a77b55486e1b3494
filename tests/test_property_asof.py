"""Property-based check: operators/asof.py::asof_join vs an
INDEPENDENT pure-Python reference on hypothesis-generated key/time
layouts. The q84 oracle proves Spark == DuckDB on the fixture; this
proves the union+window composition matches the as-of definition —
"latest right row with right.ts <= left.ts, per key, exact matches
visible" — including the edges a fixture rarely exercises: left rows
before any right row (NULL), equal-timestamp collisions on both
sides, keys present on only one side, and duplicate left rows.
"""

from __future__ import annotations

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from airflow_scraping_etl_tutorial_spark.operators.asof import asof_join

key_ts = st.tuples(
    st.integers(min_value=0, max_value=3),  # few keys -> dense collisions
    st.integers(min_value=0, max_value=20),  # small time domain -> exact ties
)


def _reference(left, right):
    """asof per definition: for each left (key, ts), the right row with
    the max right_ts <= ts for that key; None when no such row."""
    out = []
    for k, ts in left:
        cands = [rts for rk, rts in right if rk == k and rts <= ts]
        out.append((k, ts, max(cands) if cands else None))
    return out


@settings(max_examples=8, deadline=None, suppress_health_check=list(HealthCheck))
@given(
    left=st.lists(key_ts, min_size=1, max_size=12),
    right=st.sets(key_ts, min_size=0, max_size=12),
)
def test_asof_join_matches_python_reference(spark, left, right):
    left_df = spark.createDataFrame(
        [Row(pid=i, user_id=k, ts=ts) for i, (k, ts) in enumerate(left)]
    )
    if right:
        right_df = spark.createDataFrame(
            [Row(user_id=k, ts=ts) for k, ts in right]
        )
    else:
        right_df = spark.createDataFrame([], "user_id bigint, ts bigint")
    got = {
        r.pid: r.asof_ts
        for r in asof_join(left_df, right_df, on="user_id", tiebreak="pid").collect()
    }
    assert len(got) == len(left)  # every left row survives, duplicates too
    for pid, (k, ts, want_ts) in enumerate(_reference(left, list(right))):
        assert got[pid] == want_ts, (pid, k, ts)
