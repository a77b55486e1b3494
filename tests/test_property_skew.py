"""Property-based check: operators/skew.py::salted_join (an inner
join) produces the IDENTICAL result multiset to the plain unsalted
inner join on hypothesis-generated skewed key layouts. The q26 oracle
proves it on the fixture; this covers the edges the fixture lacks:
keys only in fact, keys only in dim, duplicate rows on BOTH sides
(duplicates must not collapse or multiply), and an empty dim.
"""

from __future__ import annotations

from collections import Counter

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import Row

from airflow_scraping_etl_tutorial_spark.operators.skew import salted_join

# tiny key domain -> heavy skew + deliberate duplicate rows
fact_rows = st.lists(
    st.tuples(st.integers(min_value=0, max_value=3), st.integers(0, 5)),
    min_size=1,
    max_size=15,
)
dim_rows = st.lists(
    st.tuples(st.integers(min_value=2, max_value=6), st.integers(0, 5)),
    min_size=0,
    max_size=8,
)


@settings(max_examples=6, deadline=None, suppress_health_check=list(HealthCheck))
@given(fact=fact_rows, dim=dim_rows)
def test_salted_join_multiset_equals_plain_join(spark, fact, dim):
    fact_df = spark.createDataFrame([Row(k=k, fv=v) for k, v in fact])
    if dim:
        dim_df = spark.createDataFrame([Row(k2=k, dv=v) for k, v in dim])
    else:
        dim_df = spark.createDataFrame([], "k2 bigint, dv bigint")

    got = salted_join(fact_df, dim_df, "k", "k2", n_salts=4)
    want = fact_df.join(dim_df, fact_df["k"] == dim_df["k2"])
    # compare as multisets over the shared column set (salted_join
    # drops its internal salt column)
    cols = sorted(set(got.columns) & set(want.columns))
    assert set(got.columns) == set(want.columns)
    g = Counter(tuple(r[c] for c in cols) for r in got.collect())
    w = Counter(tuple(r[c] for c in cols) for r in want.collect())
    assert g == w, (g - w, w - g)
