"""LLM-ops wave 66: driver stamps for the two Spark-4-native engine
surfaces round 10 added —

- q438: VARIANT JSON extraction — each order row is serialized to a
  JSON document and read back through Spark's native VARIANT type
  (``parse_json`` once, typed ``variant_get`` path reads including an
  array index and an array length), vs DuckDB building and extracting
  the same document with its json functions. Proves the shredded
  binary path yields the SAME typed scalars as string-based JSON
  access — the engine surface q40-q42 (from_json / get_json_object)
  do NOT cover.
- q439: SQL-UDF de-comma pipeline — the P3 scrub as a pure-Catalyst
  SQL UDF (operators/udx.py::register_sql_udfs) applied to
  comma-grouped money strings, summed per order status. Proves the
  CREATE FUNCTION ... RETURN expression kind computes identically to
  the inline expression — with zero Python workers (plan property
  asserted in tests/test_sql_udfs.py).

ROUND-12 HARDENING (the only two driver hash-FAILs of the 439-entry
catalog in CORRECTNESS_r11 — both passed locally, so the divergence
was driver-environment-sensitive; both compared paths are rebuilt in
the canonical lane the other 437 green entries use):

- q438 previously round-tripped DECIMAL(18,2) THROUGH the JSON/VARIANT
  serialization: the decimal's textual JSON form (trailing zeros,
  shortest-float rendering) is an engine/version detail, and one
  disagreeing row of 2,049 kills the value hash. Money now enters the
  attested DOUBLE -> DECIMAL(18,2) -> BIGINT-cents lane BEFORE
  serialization (the exact lane q432-q437/llm_ops64 attested green),
  so the JSON document carries only strings and integers — forms with
  a single canonical rendering in every JSON writer.
- q439 previously built its comma-grouped input with ``format_number``
  and had the oracle REPLAY the formatting with DuckDB's
  ``format('{:,}')`` — two locale-influenced formatters mirrored
  across engines. The comma grouping is now a deterministic,
  locale-free Catalyst expression (reverse -> regexp ``(\\d{3})``
  with lookahead -> reverse), and the oracle no longer replays any
  formatting at all: it sums the SAME exact cents directly, relying
  on the round-trip identity scrub(group(x)) == x. A SQL UDF that
  mangled any digit (or a grouping expression that dropped one)
  breaks that identity and hash-fails; nothing locale-sensitive
  remains in the compared path.

Output-hardening doctrine (as waves 6-65): compare typed extractions
(string / BIGINT), never raw JSON text (key order and whitespace are
engine-specific); money is exact integer cents end-to-end; every
aggregate is cast on BOTH sides (DuckDB SUM(BIGINT) is HUGEINT — the
round-6 lesson).

Reference parity: the reference's crawl step positionally indexes the
TWSE JSON document (dags/scrapy_develop.ipynb cell-2) and its clean
step strips thousands separators with str.replace (cell-4 /
dags/Final_app.py:52-58); q438/q439 are those two hops on the engine's
newest native surfaces.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_KEY_CAP = 2048  # bounded deterministic slice of the dense orderkey space

# The attested money lane (llm_ops64 / q432-q437, driver-green):
# DOUBLE -> DECIMAL(18,2) -> exact BIGINT cents.
_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _cents() -> Column:
    return (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")


def _comma_grouped(col: Column) -> Column:
    """Thousands-separate a non-negative integer column as a pure
    Catalyst expression: reverse the digit string, insert a comma
    after every complete group of 3 digits that is followed by
    another digit (Java-regex lookahead), reverse back. Locale-free
    by construction — unlike format_number, whose grouping symbols
    follow the JVM default locale (the round-11 driver divergence)."""
    return F.reverse(
        F.regexp_replace(F.reverse(col.cast("string")), r"(\d{3})(?=\d)", r"$1,")
    )


@query(
    "q438_variant_json_extraction",
    oracle=f"""
    WITH js AS (
      SELECT o_orderkey,
             json_object('status', o_orderstatus,
                         'total_cents', {_CENTS},
                         'tags', json_array(o_orderstatus, o_orderpriority))
               AS doc
      FROM orders
      WHERE o_orderkey <= {_KEY_CAP}
    )
    SELECT o_orderkey,
           json_extract_string(doc, '$.status') AS status,
           CAST(json_extract(doc, '$.total_cents') AS BIGINT) AS total_cents,
           json_extract_string(doc, '$.tags[1]') AS prio_tag,
           CAST(json_array_length(json_extract(doc, '$.tags')) AS INT)
             AS n_tags
    FROM js
    ORDER BY o_orderkey
    """,
    tags=("json", "variant", "semistructured"),
)
def q438_variant_json_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize -> parse_json once -> typed variant_get reads. Each
    engine builds its OWN document from the same base rows and
    extracts typed scalars, so key order / whitespace differences in
    the serialized text cannot leak into the comparison. Money is
    converted to exact BIGINT cents BEFORE serialization (the attested
    DOUBLE -> DECIMAL(18,2) -> cents lane), so the document carries
    only strings and integers — the two JSON value forms with one
    canonical rendering in every engine; the array path read and
    array_size cover the non-scalar access shapes. Scale: one parse
    per row, then O(1) shredded path reads — no re-parse per field,
    unlike chained get_json_object."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") <= _KEY_CAP)
    js = o.select(
        "o_orderkey",
        F.to_json(
            F.struct(
                F.col("o_orderstatus").alias("status"),
                _cents().alias("total_cents"),
                F.array(
                    F.col("o_orderstatus"), F.col("o_orderpriority")
                ).alias("tags"),
            )
        ).alias("doc"),
    )
    v = F.parse_json(F.col("doc"))
    return js.select(
        "o_orderkey",
        F.variant_get(v, "$.status", "string").alias("status"),
        F.variant_get(v, "$.total_cents", "bigint").alias("total_cents"),
        F.variant_get(v, "$.tags[1]", "string").alias("prio_tag"),
        F.array_size(F.variant_get(v, "$.tags", "array<variant>")).alias(
            "n_tags"
        ),
    ).orderBy("o_orderkey")


@query(
    "q439_sql_udf_decomma_totals",
    oracle=f"""
    SELECT o_orderstatus AS status,
           CAST(SUM({_CENTS}) AS BIGINT) AS total_cents,
           CAST(COUNT(*) AS BIGINT) AS n_orders
    FROM orders
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("sql-udf", "string", "aggregation"),
)
def q439_sql_udf_decomma_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's de-comma scrub (Final_app.py:52-58 str.replace)
    as a SQL UDF inside a full aggregation: exact cents are
    thousands-grouped with a deterministic locale-free Catalyst
    expression (_comma_grouped — reverse/regexp/reverse, NOT the
    JVM-locale-sensitive format_number), scrubbed back through
    de_comma_money (CREATE FUNCTION ... RETURN — inlined by Catalyst,
    zero Python), and summed as BIGINT per order status. The oracle
    sums the same exact cents DIRECTLY: the entry's claim is the
    round-trip identity de_comma_money(group(cents)) == cents, so a
    UDF that mangled any grouping edge (0, <1000, 13-digit values) or
    a grouping expression that dropped/duplicated a digit changes the
    Spark sum and hash-fails, while nothing locale- or
    formatter-sensitive remains in the compared path."""
    from ..operators.udx import register_sql_udfs

    register_sql_udfs(spark)
    o = load(spark, sf_dir, "orders")
    commified = o.select(
        F.col("o_orderstatus").alias("status"),
        _comma_grouped(_cents()).alias("cents_str"),
    )
    return (
        commified.selectExpr(
            "status", "CAST(de_comma_money(cents_str) AS BIGINT) AS cents"
        )
        .groupBy("status")
        .agg(
            F.sum("cents").alias("total_cents"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("status")
    )
