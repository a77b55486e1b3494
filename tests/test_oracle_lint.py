"""Catalog-wide structural lint over every catalog entry — the
round-6 mirror/driver lesson (VERDICT item 2) as a permanent gate:
every cross-engine trap this repo has been burned by becomes a static
check here, so a new entry cannot reintroduce one and pass CI.

Covers:
- dialect traps in the oracle SQL (bare FILTER clauses, WITH
  ORDINALITY, md5_number endianness, float-quotient -> BIGINT casts,
  unvetted POW);
- oracle OUTPUT schema (no HUGEINT/UHUGEINT — the round-6 root cause
  of the 8 r05 reds; no list/struct/map/blob — the q29 canonicalizer
  crash);
- Spark OUTPUT schema (no array/map/struct/binary/timestamp — only
  scalar types and DATE survive the driver comparator).
"""

from __future__ import annotations

import os
import re

import pytest

from airflow_scraping_etl_tutorial_spark.plans import all_queries

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def specs():
    return all_queries()


# q35 exercises POW deliberately AS the math-function surface; its
# ROUND(POW(int, 2), 2) output is exact and has been driver-attested
# green since round 1. Everything else must write x*x (q98 lesson:
# DuckDB POW differs from Java's in the last ulp).
POW_ALLOWED = {"q35_math_functions"}

# DuckDB CAST(DOUBLE AS BIGINT) ROUNDS where Spark truncates; a float
# quotient cast to BIGINT is the q110 trap. Truncating integer `//` or
# explicit FLOOR must be used instead. The earlier regex guard used
# [^()]* on both sides of the '/', so any CAST with nested parens —
# e.g. CAST(SUM(a)/COUNT(*) AS BIGINT), the realistic offender shape —
# silently never matched (round-6 ADVICE). This scanner walks balanced
# parens instead.


def _strip_calls(body: str, names: tuple[str, ...]) -> str:
    """Remove balanced `name(...)` spans: a '/' inside FLOOR/CEIL is
    already integral before the cast, so it is not the trap."""
    pat = re.compile(r"(?:%s)\s*\(" % "|".join(names), re.I)
    while True:
        m = pat.search(body)
        if not m:
            return body
        depth, i = 1, m.end()
        while i < len(body) and depth:
            if body[i] == "(":
                depth += 1
            elif body[i] == ")":
                depth -= 1
            i += 1
        if depth:  # unbalanced inner call — keep text, let caller flag
            return body
        body = body[: m.start()] + body[i:]


def _float_quotient_bigint_casts(sql: str) -> list[str]:
    """Every CAST(... AS BIGINT) body (balanced-paren extent) whose
    remaining text after stripping FLOOR/CEIL spans and integer `//`
    still contains a float '/'."""
    hits = []
    for m in re.finditer(r"CAST\s*\(", sql, re.I):
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        if depth:
            hits.append(sql[m.start() : m.start() + 80] + " …UNBALANCED")
            continue
        body = sql[m.end() : i - 1]
        if not re.search(r"AS\s+BIGINT\s*$", body, re.I):
            continue
        residue = _strip_calls(body, ("FLOOR", "CEIL")).replace("//", "")
        if "/" in residue:
            hits.append(" ".join(body.split())[:120])
    return hits


def test_no_bare_filter_clause(specs):
    bad = [
        n
        for n, s in specs.items()
        if s.oracle and re.search(r"\)\s*FILTER\s*\(", s.oracle, re.I)
    ]
    assert not bad, f"bare FILTER clause (use CASE WHEN — q155 lesson): {bad}"


def test_no_known_unsupported_or_endian_constructs(specs):
    for pat, why in [
        (r"WITH\s+ORDINALITY", "DuckDB lacks WITH ORDINALITY"),
        (r"md5_number", "md5_number_* is little-endian (use '0x'||SUBSTR cast)"),
    ]:
        bad = [
            n for n, s in specs.items() if s.oracle and re.search(pat, s.oracle, re.I)
        ]
        assert not bad, f"{why}: {bad}"


def test_pow_only_in_vetted_entries(specs):
    bad = [
        n
        for n, s in specs.items()
        if s.oracle
        and re.search(r"\bPOW\s*\(", s.oracle, re.I)
        and n not in POW_ALLOWED
    ]
    assert not bad, f"POW differs from Java in the last ulp — write x*x: {bad}"


# Audited hits of the balanced-paren scanner where the cast body is
# integral by construction despite a '/' in the residue: q98's '/'
# sits in a CASE WHEN *condition* (both value branches are ±FLOOR),
# q187's quotient is ROUND(..., 0)-ed to an integer before the cast
# (and both are driver-attested strict-green). A NEW hit must be
# audited the same way before it may join this set.
_QUOTIENT_CAST_ALLOWED = {
    "q98_embedding_int8_quantization",
    "q187_neyman_allocation",
}


def test_no_float_quotient_bigint_cast(specs):
    bad = {
        n: hits
        for n, s in specs.items()
        if s.oracle
        and n not in _QUOTIENT_CAST_ALLOWED
        and (hits := _float_quotient_bigint_casts(s.oracle))
    }
    assert not bad, (
        "CAST(a/b AS BIGINT) rounds in DuckDB but truncates in Spark "
        f"(q110 lesson — use // on ints or FLOOR on doubles): {bad}"
    )


def test_oracle_output_schemas_are_scalar_and_hugeint_free(specs, duck):
    offenders: dict[str, dict[str, str]] = {}
    for name, spec in specs.items():
        if not spec.oracle:
            continue
        rel = duck.sql(f"SELECT * FROM ({spec.oracle}) LIMIT 0")
        tys = {c: str(t) for c, t in zip(rel.columns, rel.types)}
        bad = {
            c: t
            for c, t in tys.items()
            if "HUGEINT" in t
            or t.endswith("[]")
            or t.startswith(("STRUCT", "MAP", "BLOB", "UNION"))
        }
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "oracle outputs must be scalar and HUGEINT-free (round-6 root "
        f"cause / q29 canonicalizer crash): {offenders}"
    )


# Shadow sites where the alias is numerically identical to the input
# column it shadows (a bigint/coalesce re-cast), so capture cannot
# change values. Audited individually in round 6.
_SHADOW_ALLOWED = {
    ("operators/cluster.py", "u"),  # u/v swap — plain refs bind to input
    ("plans/llm_ops10.py", "n_sessions"),
    ("plans/llm_ops4.py", "n_docs"),
    ("plans/llm_ops5.py", "n_wedges"),
    ("plans/llm_ops6.py", "degree"),
    ("plans/llm_ops7.py", "n_ab"),
    ("plans/llm_ops9.py", "decay_num"),
    ("plans/relational2.py", "cohort_size"),
    ("plans/relational2.py", "n_active_users"),
    ("plans/relational2.py", "n_days"),
}


def test_no_new_lateral_alias_shadows():
    """The q98 sf0.1 lesson: an output alias that shadows an input
    column referenced by a LATER expression in the same select can be
    captured by Spark 4's lateral column alias resolution (observed
    inside higher-order-function lambdas), silently diverging from the
    oracle. Any new shadow site must be audited and added to the
    allowlist — or better, split into two projections."""
    import glob
    import os

    pkg = os.path.join(
        os.path.dirname(__file__), "..", "airflow_scraping_etl_tutorial_spark"
    )
    found = set()
    for path in glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True):
        src = open(path).read()
        rel = os.path.relpath(path, pkg).replace(os.sep, "/")
        for m in re.finditer(r"\.select\(", src):
            # scan to the MATCHING paren over the whole remainder — the
            # earlier 2500-char cap silently skipped exactly the large
            # generated projections where the q98-class capture bug is
            # most likely (round-6 ADVICE)
            chunk = src[m.end() :]
            depth, end = 1, None
            for i, ch in enumerate(chunk):
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    depth -= 1
                    if depth == 0:
                        end = i
                        break
            assert end is not None, (
                f"unbalanced .select( parens while scanning {rel} at "
                f"offset {m.start()} — fix the scanner, don't skip"
            )
            body = chunk[:end]
            for mm in re.finditer(r"\.alias\(\"(\w+)\"\)", body):
                name = mm.group(1)
                if re.search(rf"F\.col\(\"{name}\"\)", body[mm.start() :]):
                    found.add((rel, name))
    new = found - _SHADOW_ALLOWED
    assert not new, (
        "new lateral-alias shadow site(s) — split the projection or "
        f"audit + allowlist: {sorted(new)}"
    )


def test_spark_output_schemas_are_scalar(specs, spark):
    offenders: dict[str, list[tuple[str, str]]] = {}
    for name, spec in specs.items():
        dts = spec.fn(spark, SF_DIR).dtypes
        bad = [
            (c, t)
            for c, t in dts
            if t.startswith(("array", "map", "struct", "binary", "timestamp"))
        ]
        if bad:
            offenders[name] = bad
    assert not offenders, (
        "Spark outputs must be scalar (timestamps project as DATE/"
        f"string/epoch — NOTES doctrine): {offenders}"
    )

# ---------------------------------------------------------------------------
# Round-13 structural rules: the r11/r12 driver-divergence class (judge
# VERDICT r12 item 4 — "make the lesson structural"). Two consecutive
# rounds lost their only driver reds to locale- or decimal-fragile
# compared outputs that the local strict gate CANNOT catch by
# construction (the divergence needs a different JVM locale / engine
# version). Each rule below is grep-able and red on the exact text that
# failed.
# ---------------------------------------------------------------------------

_PKG_DIR = os.path.join(
    os.path.dirname(__file__), "..", "airflow_scraping_etl_tutorial_spark"
)


def _pkg_sources():
    import glob

    for path in glob.glob(os.path.join(_PKG_DIR, "**", "*.py"), recursive=True):
        rel = os.path.relpath(path, _PKG_DIR).replace(os.sep, "/")
        yield rel, open(path).read()


def test_no_locale_sensitive_formatters_in_package():
    """format_number's grouping characters follow the JVM DEFAULT
    LOCALE — on a driver box with a non-US locale the output (and any
    try_to_number parse of it) silently diverges while rows/schema
    still match (q439 r11, q449 r12 — the SAME trap two rounds
    running). Thousands-grouping on a compared path must use the
    locale-free reverse/regexp-lookahead/reverse expression
    (plans/llm_ops65.py::_comma_grouped)."""
    bad = [
        (rel, src[: m.start()].count("\n") + 1)
        for rel, src in _pkg_sources()
        for m in re.finditer(r"\bformat_number\s*\(", src)
    ]
    assert not bad, (
        "format_number is JVM-locale-sensitive — use the locale-free "
        f"_comma_grouped expression (llm_ops65) instead: {bad}"
    )


def _recursive_member_bodies(sql: str) -> list[str]:
    """The text of each recursive member: for every CTE whose body
    references its own name, the part of the body AFTER the top-level
    UNION ALL (the per-level expression — where a rounding difference
    compounds level-over-level; the anchor and the final select run
    once and are fair game)."""
    out = []
    for m in re.finditer(r"(\w+)\s*(?:\([^)]*\))?\s+AS\s*\(", sql, re.I):
        name = m.group(1)
        depth, i = 1, m.end()
        while i < len(sql) and depth:
            if sql[i] == "(":
                depth += 1
            elif sql[i] == ")":
                depth -= 1
            i += 1
        body = sql[m.end() : i - 1]
        if not re.search(rf"\b{name}\b", body, re.I):
            continue  # not self-referencing -> not recursive
        # split on top-level UNION ALL
        depth, j, split = 0, 0, None
        while j < len(body):
            if body[j] == "(":
                depth += 1
            elif body[j] == ")":
                depth -= 1
            elif depth == 0 and body[j : j + 9].upper() == "UNION ALL":
                split = j + 9
            j += 1
        if split is not None:
            out.append(body[split:])
    return out


def test_no_decimal_rounding_inside_recursive_cte(specs):
    """q440 r12: CAST(ROUND(balance*0.005, 2) AS DECIMAL(18,2)) carried
    through ~38 recursion levels — ONE half-cent rounding-tie or
    decimal-precision-rule difference between engine versions compounds
    level-over-level, so rows/schema match and values drift. Iteration
    on money must run in the BIGINT integer-cents lane (half-up =
    (x*k + half) integer-div denom); no engine ROUND or decimal CAST
    may sit inside a recursive member on a compared path."""
    bad = {}
    for n, s in specs.items():
        if not s.oracle or not re.search(r"WITH\s+RECURSIVE", s.oracle, re.I):
            continue
        hits = [
            frag.strip()[:80]
            for body in _recursive_member_bodies(s.oracle)
            for frag in re.findall(
                r"\bROUND\s*\([^\n]*|CAST\s*\([^\n]*?AS\s+DECIMAL[^\n]*",
                body,
                re.I,
            )
        ]
        if hits:
            bad[n] = hits
    assert not bad, (
        "decimal ROUND/CAST inside a recursive member compounds "
        f"cross-version rounding differences (q440 r12 lesson): {bad}"
    )


# Entries whose oracle sums a raw (double-typed) column straight
# through a decimal cast — FROZEN at the round-13 set, every member
# driver-attested green at its latest attestation. The r12 lesson
# (q444: full-table SUM(CAST(o_totalprice AS DECIMAL)) hash-FAILed on
# the driver while its key-capped twin q441 passed) is that this shape
# is hostage to per-row double->decimal rendering agreement across
# engine versions. NEW entries must sum exact integer cents
# (CAST(CAST(x AS DECIMAL(18,2)) * 100 AS BIGINT) — the q439/llm_ops64
# lane) and render decimal at most once, at the edge.
_DECIMAL_SUM_FROZEN = {
    "q04_groupby_agg_pricing_summary", "q06_cube_order_priority",
    "q109_grouped_zscore", "q110_histogram_fixed_width",
    "q122_tpch_q22_inactive_customers", "q125_source_mix_report",
    "q148_merge_upsert_audit", "q14_window_lag_day_over_day",
    "q152_numeric_correlation_matrix", "q15_window_moving_average",
    "q163_embedding_dimension_stats", "q176_order_value_deciles",
    "q177_customer_order_cadence", "q17_window_rank_dense_cume",
    "q184_session_shape_profile", "q190_value_outlier_audit",
    "q193_token_gini", "q202_scd2_point_in_time_join",
    "q210_embedding_norm_profile", "q233_order_reconciliation",
    "q235_bm25_retrieval", "q245_rrf_hybrid_retrieval",
    "q27_stats_aggregates", "q332_retrieval_ndcg_audit",
    "q333_retrieval_precision_recall", "q334_rank_correlation_kendall",
    "q36_decimal_exact_arithmetic", "q393_growth_decomposition",
    "q398_abc_classification", "q423_concentration_drift",
    "q425_preagg_pushdown_equivalence", "q428_change_contributors",
    "q441_pipe_syntax_pricing", "q447_observe_metrics_single_pass",
    "q45_window_range_frame", "q80_events_hourly_tumbling",
    "q81_events_sliding_window", "q85_pandas_udaf_trimmed_mean",
}


def test_no_new_direct_decimal_sums(specs):
    """SUM directly over CAST(raw_col AS DECIMAL...) — allowed only in
    the frozen, driver-attested set above. A new money sum must route
    through exact BIGINT cents (the q444 r12 lesson)."""
    pat = re.compile(r"SUM\s*\(\s*CAST\s*\(\s*\w+\s+AS\s+DECIMAL", re.I)
    bad = [
        n
        for n, s in specs.items()
        if s.oracle and pat.search(s.oracle) and n not in _DECIMAL_SUM_FROZEN
    ]
    assert not bad, (
        "new direct decimal sum of a raw column — sum exact integer "
        "cents instead (CAST(CAST(x AS DECIMAL(18,2))*100 AS BIGINT), "
        f"q444 r12 lesson): {bad}"
    )
