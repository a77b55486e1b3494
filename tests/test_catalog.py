"""Catalog contract: every registered query runs at sf0.001 and matches
its DuckDB oracle (the same comparison the per-entry gate in
staged_oracle.py defines, floats compared exactly), and every plan
module that registers queries is in the driver contract."""

from __future__ import annotations

import os
import pathlib
import re

import pytest

from airflow_scraping_etl_tutorial_spark.functions.caching import (
    release_session_checkpoints,
    release_session_intermediates,
    snapshot_checkpoints,
)
from airflow_scraping_etl_tutorial_spark.plans import all_queries
from airflow_scraping_etl_tutorial_spark.plans.registry import _QUERY_MODULES
from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES

from staged_oracle import assert_matches_oracle, duck_views

SF_DIR = "/root/testdata/sf0.001"

SPECS = all_queries()

# Queries whose result is legitimately empty at the tiny sf0.001 scale
# (anti-join finds no orphans; the correlated supplier filter can select
# nobody from a 10-row table).
MAY_BE_EMPTY = {"q11_join_anti", "q49_in_subquery_correlated"}

# all_queries() order, grouped by plan module so each module's entries
# share one DuckDB connection.
_MODULE_RANK = {m: i for i, m in enumerate(_QUERY_MODULES)}
NAMES = sorted(SPECS, key=lambda n: _MODULE_RANK[SPECS[n].fn.__module__])


def test_registry_nonempty_and_unique():
    assert len(SPECS) >= 60
    assert all(spec.doc for spec in SPECS.values()), "every query needs a docstring"
    assert all(spec.oracle for spec in SPECS.values()), "every query needs an oracle"


def test_every_query_module_is_registered():
    """A plan module that defines @query entries but is missing from
    _QUERY_MODULES would be invisible to the driver contract."""
    plans = pathlib.Path(__file__).resolve().parents[1] / (
        "airflow_scraping_etl_tutorial_spark/plans"
    )
    defining = {
        f"airflow_scraping_etl_tutorial_spark.plans.{path.stem}"
        for path in plans.glob("*.py")
        if re.search(r"^@query\(", path.read_text(), re.M)
    }
    assert len(defining) > 70, "the scan must find the catalog modules"
    assert defining <= set(_QUERY_MODULES), sorted(defining - set(_QUERY_MODULES))


@pytest.fixture(scope="module")
def plan_duck():
    """DuckDB connection for one plan module, reopened when the next
    param belongs to another module: a fresh connection drops the
    allocator state that hundreds of oracles accumulate in a process
    shared with Spark's JVM."""
    held: dict[str, object] = {}

    def con_for(module: str):
        if module not in held:
            for con in held.values():
                con.close()
            held.clear()
            held[module] = duck_views(SF_DIR)
        return held[module]

    yield con_for
    for con in held.values():
        con.close()


@pytest.mark.parametrize("name", NAMES)
def test_query_matches_oracle(spark, plan_duck, name):
    spec = SPECS[name]
    kept = snapshot_checkpoints(spark)
    try:
        assert_matches_oracle(
            spark,
            plan_duck(spec.fn.__module__),
            spec,
            SF_DIR,
            may_be_empty=name in MAY_BE_EMPTY,
        )
    finally:
        # Drain the session's persisted intermediates and the entry's
        # own checkpoints, as tools/check_correctness.py does: 468
        # entries' pinned blocks would otherwise stay in the session's
        # JVM for the rest of the run.
        release_session_intermediates(spark)
        release_session_checkpoints(spark, protect=kept)


def test_q397_matches_oracle_on_empty_orders(spark, tmp_path):
    """q397 derives its partition ids from the split keys it collects;
    with zero-row tables (sf0.001 cut to `slice(0, 0)`, schemas kept)
    there are none, and the query still matches its oracle."""
    import pyarrow.parquet as pq

    empty = tmp_path / "empty"
    os.makedirs(empty)
    for t in TABLES:
        table = pq.read_table(f"{SF_DIR}/{t}.parquet")
        pq.write_table(table.slice(0, 0), str(empty / f"{t}.parquet"))
    con = duck_views(str(empty))
    try:
        assert_matches_oracle(
            spark,
            con,
            SPECS["q397_range_split_points"],
            str(empty),
            may_be_empty=True,
        )
    finally:
        con.close()
        release_session_intermediates(spark)
