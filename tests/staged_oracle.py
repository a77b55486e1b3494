"""Shared oracle-compare helpers for the catalog tests — ONE normalizer
and ONE DuckDB view-setup, so a future change to what "equal" means
(cf. tools/check_correctness.py's normalize) cannot drift across
copies (round-6 review finding)."""

from __future__ import annotations

import math

import duckdb

from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES


def load_explain_audit():
    """Load tools/explain_audit.py as a module (tools/ is not a
    package). ONE copy of the spec_from_file_location boilerplate so a
    move/rename of the tool is fixed here, not in every test file
    (round-11 review finding)."""
    import importlib.util
    import pathlib

    path = (
        pathlib.Path(__file__).resolve().parents[1] / "tools" / "explain_audit.py"
    )
    spec = importlib.util.spec_from_file_location("explain_audit", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def duck_views(sf_dir: str) -> duckdb.DuckDBPyConnection:
    """Fresh in-memory DuckDB with the fixture tables as views."""
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def norm(rows, cols):
    """Column-name-sorted, stringified, order-insensitive row set —
    the driver-comparator-shaped canonical form used by the catalog's
    value-level assertion (floats compare exactly)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def nv(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, float):
            return "NaN" if math.isnan(v) else v
        return str(v)

    out = [tuple(nv(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def assert_matches_oracle(spark, duck, spec, sf_dir, may_be_empty=False):
    """The per-entry catalog gate: non-empty (unless `may_be_empty`),
    HUGEINT-free oracle schema (the round-6 driver-comparator lesson),
    same columns, same canonicalized values."""
    sdf = spec.fn(spark, sf_dir)
    srows = sdf.collect()
    rel = duck.sql(spec.oracle)
    ocols = list(rel.columns)
    otypes = [str(t) for t in rel.types]
    orows = rel.fetchall()
    assert may_be_empty or len(srows) > 0, "catalog queries must be non-empty at sf0.001"
    assert not any("HUGEINT" in t for t in otypes), (
        "oracle output contains HUGEINT — the round-6 lesson: "
        f"cast to BIGINT ({dict(zip(ocols, otypes))})"
    )
    assert sorted(sdf.columns) == sorted(ocols)
    assert norm(srows, sdf.columns) == norm(orows, ocols)
