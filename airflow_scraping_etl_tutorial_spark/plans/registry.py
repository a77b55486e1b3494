"""Registry of (name -> QuerySpec) used by the driver contract.

Register with the ``@query`` decorator::

    @query("q_foo", oracle="SELECT ...")
    def q_foo(spark, sf_dir) -> DataFrame: ...

Rules enforced by convention (driver compare is column-name sorted +
value-hashed):
- every computed/aggregate column is aliased identically on both sides;
- money aggregates are rounded to 2 decimals on both sides (double sums
  are order-dependent in the last ulp; rounding makes them comparable);
- timestamps are projected as DATE or formatted string on both sides
  (Spark timestamps are session-TZ instants, DuckDB's are naive).
"""

from __future__ import annotations

import importlib
import os
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

SparkQuery = Callable[[SparkSession, str], DataFrame]

_REGISTRY: dict[str, "QuerySpec"] = {}

# Modules that register queries on import (order = SURVEY.md §2 order).
_QUERY_MODULES = (
    "airflow_scraping_etl_tutorial_spark.plans.relational",
    "airflow_scraping_etl_tutorial_spark.plans.relational2",
    "airflow_scraping_etl_tutorial_spark.plans.relational3",
    "airflow_scraping_etl_tutorial_spark.plans.functions_catalog",
    "airflow_scraping_etl_tutorial_spark.plans.twse_queries",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops2",
    "airflow_scraping_etl_tutorial_spark.plans.relational4",
    "airflow_scraping_etl_tutorial_spark.plans.streaming_queries",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops3",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops4",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops5",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops6",
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops7",  # wave 8, promoted r7
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops8",  # wave 9, promoted r7
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops9",  # wave 10, promoted r7
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops10",  # wave 11, promoted r7
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops11",  # wave 12, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops12",  # wave 13, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops13",  # wave 14, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops14",  # wave 15, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops15",  # wave 16, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops16",  # wave 17, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops17",  # wave 18, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops18",  # wave 19, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops19",  # wave 20, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops20",  # wave 21, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops21",  # wave 22, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops22",  # wave 23, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops23",  # wave 24, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops24",  # wave 25, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops25",  # wave 26, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops26",  # wave 27, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops27",  # wave 28, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops28",  # wave 29, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops29",  # wave 30, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops30",  # wave 31, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops31",  # wave 32, promoted r8
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops32",  # wave 33, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops33",  # wave 34, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops34",  # wave 35, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops35",  # wave 36, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops36",  # wave 37, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops37",  # wave 38, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops38",  # wave 39, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops39",  # wave 40, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops40",  # wave 41, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops41",  # wave 42, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops42",  # wave 43, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops43",  # wave 44, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops44",  # wave 45, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops45",  # wave 46, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops46",  # wave 47, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops47",  # wave 48, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops48",  # wave 49, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops49",  # wave 50, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops50",  # wave 51, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops51",  # wave 52, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops52",  # wave 53, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops53",  # wave 54, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops54",  # wave 55, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops55",  # wave 56, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops56",  # wave 57, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops57",  # wave 58, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops58",  # wave 59, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops59",  # wave 60, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops60",  # wave 61, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops61",  # wave 62, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops62",  # wave 63, promoted r9
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops63",  # wave 64, promoted r10
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops64",  # wave 65, promoted r10
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops65",  # wave 66, promoted r11
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops66",  # wave 67, promoted r12
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops67",  # wave 68, promoted r12
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops68",  # wave 69, added r12
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops69",  # wave 70, added r12
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops70",  # wave 71, promoted r14
    "airflow_scraping_etl_tutorial_spark.plans.llm_ops71",  # wave 72, promoted r16
)

@dataclass(frozen=True)
class QuerySpec:
    name: str
    fn: SparkQuery
    oracle: str | None  # None => non-SQL-expressible; driver does rows-only check
    doc: str = ""
    tags: tuple[str, ...] = field(default_factory=tuple)


def query(name: str, oracle: str | None = None, tags: tuple[str, ...] = ()):
    """Decorator: register a (spark, sf_dir) -> DataFrame query builder."""

    def deco(fn: SparkQuery) -> SparkQuery:
        if name in _REGISTRY:
            raise ValueError(f"duplicate query name {name!r}")
        _REGISTRY[name] = QuerySpec(
            name=name, fn=fn, oracle=oracle, doc=(fn.__doc__ or "").strip(), tags=tags
        )
        return fn

    return deco


# Driver-priority tiering, computed from the CORRECTNESS_r*.json files
# the driver leaves in the repo root (latest attestation per query wins;
# the driver attests ~50 queries per round, first-come-first-served over
# queries() order). Derived, not hand-maintained:
#   tier 1 — never attested, or latest attestation red: must re-attest;
#   tier 2 — attested green, oldest attestation first (the union rots
#            as shared helpers change, so stale greens recycle through
#            the driver budget before fresh ones).
def _attestation_state(root: str | None = None) -> dict[str, tuple[int, bool]]:
    """name -> (last attested round, was green) from CORRECTNESS_r*.json.

    `root` defaults to the repo root; tests pass a temp directory to
    prove the tiering is invariant to a fresh driver artifact landing
    (the round-6 lesson: hard-coded "first 50" assertions broke the
    moment CORRECTNESS_r06.json attested the staged waves green).
    """
    import glob
    import json
    import re

    if root is None:
        root = os.path.dirname(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        )
    state: dict[str, tuple[int, bool]] = {}
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        m = re.search(r"r(\d+)", os.path.basename(path))
        if not m:
            continue
        rnd = int(m.group(1))
        try:
            with open(path) as f:
                rows = json.load(f)
        except (OSError, ValueError):
            continue
        for name, row in rows.items():
            if not isinstance(row, dict):
                continue
            green = bool(
                row.get("err") is None
                and row.get("rows_match")
                and row.get("schema_match", True)
                and row.get("hash_match", True)
            )
            prev = state.get(name)
            if prev is None or rnd >= prev[0]:
                state[name] = (rnd, green)
    return state


_ATTESTATION = _attestation_state()


def _priority(name: str) -> tuple[int, int]:
    att = _ATTESTATION.get(name)
    if att is None or not att[1]:
        return (1, 0)  # unattested or red: front of the driver budget
    return (2, att[0])  # green: staler attestations recycle first


def all_queries() -> dict[str, QuerySpec]:
    """Import all catalog modules and return the full registry,
    driver-priority ordered (see _priority)."""
    for mod in _QUERY_MODULES:
        importlib.import_module(mod)
    order = {n: i for i, n in enumerate(_REGISTRY)}
    names = sorted(_REGISTRY, key=lambda n: (_priority(n), order[n]))
    return {n: _REGISTRY[n] for n in names}
