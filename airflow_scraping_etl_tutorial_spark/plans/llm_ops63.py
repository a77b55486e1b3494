"""LLM-ops wave 64: lake profiling, tokenizer economics, and
conversion effort —

- q432: data dictionary — per (table, column) over the three fact
  tables: row count, distinct count, uniqueness ppm and null count;
  the ANALYZE-style profile a catalog shows before anyone writes a
  query.
- q433: tokenizer fertility — characters per token and tokens per
  document by language; the cost model of a tokenizer (a language
  with high chars/token pays fewer tokens per byte — and the
  inverse decides whose context windows fill up first).
- q434: effort to convert — for each converting user, the number of
  events BEFORE their first purchase, histogrammed by width class
  with the exact nearest-rank median; the product-analytics
  "how much does a conversion cost in attention" table.

Output-hardening doctrine (as waves 6-63): profile counts are exact
(COUNT DISTINCT, not approx) with truncating ppm shares; fertility
ratios are single truncating milli divisions of exact character and
token sums; the conversion median is the (n+1)//2 nearest rank over
the effort values (value-grain cumulative).

Reference parity: q432 is the catalog page for the reference's
warehouse; q433/q434 are the per-language cost and per-conversion
effort readouts of anything built on its data.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q432 — data dictionary profile
# ---------------------------------------------------------------------------

# (table, column) — the profiled surface: the three fact-ish tables.
PROFILE_COLS: tuple[tuple[str, str], ...] = (
    ("documents", "doc_id"),
    ("documents", "lang"),
    ("documents", "n_chars"),
    ("documents", "source"),
    ("events", "event_id"),
    ("events", "event_type"),
    ("events", "user_id"),
    ("orders", "o_custkey"),
    ("orders", "o_orderkey"),
    ("orders", "o_orderpriority"),
    ("orders", "o_orderstatus"),
)


@query(
    "q432_data_dictionary",
    oracle="WITH profile AS ("
    + "\n      UNION ALL".join(
        f"""
      SELECT '{tbl}' AS tbl, '{col}' AS col,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(COUNT(DISTINCT {col}) AS BIGINT) AS n_distinct,
             CAST(SUM(CASE WHEN {col} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_nulls
      FROM {tbl}"""
        for tbl, col in PROFILE_COLS
    )
    + """
    )
    SELECT tbl, col, n_rows, n_distinct, n_nulls,
           CAST(n_distinct * 1000000 // n_rows AS BIGINT) AS uniqueness_ppm
    FROM profile ORDER BY tbl, col
    """,
    tags=("llm", "catalog", "profiling", "data-dictionary"),
)
def q432_data_dictionary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE-style data dictionary over the three fact-ish tables:
    per (table, column), exact row/distinct/null counts and the
    uniqueness share in ppm — 1e6 flags key candidates (the q401
    audit's inputs), low values flag dictionary-encoding wins (the
    q288 pricer's inputs), and nulls flag contract gaps (q385's).
    One profile table feeds three other audits — which is exactly
    what a catalog page is for.

    Scale: one key-grain aggregate per profiled column, each
    map-side combinable; a real lake profiler samples or sketches
    (q215's HLL) past the billion-distinct point — this entry is the
    exact form those approximate."""
    rows = []
    for tbl, col in PROFILE_COLS:
        t = load(spark, sf_dir, tbl)
        rows.append(
            t.agg(
                F.lit(tbl).alias("tbl"),
                F.lit(col).alias("col"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.countDistinct(F.col(col)).cast("bigint").alias("n_distinct"),
                F.sum(
                    F.when(F.col(col).isNull(), 1).otherwise(0)
                )
                .cast("bigint")
                .alias("n_nulls"),
            )
        )
    stacked = rows[0]
    for r in rows[1:]:
        stacked = stacked.unionByName(r)
    return stacked.select(
        "tbl",
        "col",
        "n_rows",
        "n_distinct",
        "n_nulls",
        F.expr("CAST(n_distinct * 1000000 div n_rows AS BIGINT)").alias(
            "uniqueness_ppm"
        ),
    ).orderBy("tbl", "col")


# ---------------------------------------------------------------------------
# q433 — tokenizer fertility
# ---------------------------------------------------------------------------


@query(
    "q433_tokenizer_fertility",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(LENGTH(text) AS BIGINT) AS chars,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS toks
      FROM documents
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(chars) AS BIGINT) AS total_chars,
           CAST(SUM(toks) AS BIGINT) AS total_tokens,
           CAST(SUM(chars) * 1000 // SUM(toks) AS BIGINT)
             AS chars_per_token_milli,
           CAST(SUM(toks) * 1000 // COUNT(*) AS BIGINT)
             AS tokens_per_doc_milli
    FROM d GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "tokenizer", "fertility", "cost-model"),
)
def q433_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer cost model per language: characters per token and
    tokens per document in exact milli (integer character and token
    sums, one truncating division each, the same space tokenizer as
    q235/q429 so the numbers compose). Fertility differences are
    context-window economics: the language with the higher
    chars/token ratio fits more text per token budget, and a vocab
    tuned to one language (q429's OOV gap) inflates every other
    language's token bill — this table is the invoice.

    Scale: one scan, codegen LENGTH/SIZE expressions, lang-grain
    sums."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.length("text").cast("bigint").alias("chars"),
        F.size(F.split("text", " ")).cast("bigint").alias("toks"),
    )
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("chars").cast("bigint").alias("total_chars"),
            F.sum("toks").cast("bigint").alias("total_tokens"),
        )
        .select(
            "lang",
            "n_docs",
            "total_chars",
            "total_tokens",
            F.expr(
                "CAST(total_chars * 1000 div total_tokens AS BIGINT)"
            ).alias("chars_per_token_milli"),
            F.expr("CAST(total_tokens * 1000 div n_docs AS BIGINT)").alias(
                "tokens_per_doc_milli"
            ),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q434 — effort to convert
# ---------------------------------------------------------------------------


@query(
    "q434_effort_to_convert",
    oracle="""
    WITH firstp AS (
      SELECT user_id, MIN(ts) AS fp
      FROM events WHERE event_type = 'purchase' GROUP BY user_id
    ),
    effort AS (
      SELECT f.user_id,
             CAST(COUNT(e.event_id) AS BIGINT) AS n_before
      FROM firstp f
      LEFT JOIN events e ON e.user_id = f.user_id AND e.ts < f.fp
      GROUP BY f.user_id
    ),
    classed AS (
      SELECT CAST(LENGTH(BIN(GREATEST(n_before, 1))) AS BIGINT) AS wclass,
             n_before
      FROM effort
    ),
    ranked AS (
      SELECT n_before,
             ROW_NUMBER() OVER (ORDER BY n_before, n_before) AS r,
             COUNT(*) OVER () AS n
      FROM effort
    ),
    med AS (
      SELECT CAST(n_before AS BIGINT) AS median_effort
      FROM ranked WHERE r = (n + 1) // 2
    )
    SELECT c.wclass,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(c.n_before) AS BIGINT) AS min_effort,
           CAST(MAX(c.n_before) AS BIGINT) AS max_effort,
           m.median_effort
    FROM classed c CROSS JOIN med m
    GROUP BY c.wclass, m.median_effort ORDER BY c.wclass
    """,
    tags=("llm", "product-analytics", "conversion", "effort"),
)
def q434_effort_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion effort: for every user who ever purchased, the
    count of events STRICTLY BEFORE their first purchase (first
    purchase via a user-grain MIN, the count via a timestamp-bounded
    self-join — no window over the event stream), histogrammed by
    log2 width class with min/max per class and the exact
    nearest-rank median effort on every row. The median is the
    number a growth team quotes; the width-class tail is where the
    expensive conversions hide.

    Scale: one filtered user-grain MIN broadcast back against the
    stream (timestamp-bounded semi-style join), user-grain counts,
    a width-class rollup; the median ranks the user-grain frame."""
    events = load(spark, sf_dir, "events")
    firstp = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
        .persist()
    )
    effort = (
        firstp.join(
            events.select("user_id", "ts", "event_id"),
            "user_id",
            "left",
        )
        .select(
            "user_id",
            F.when(F.col("ts") < F.col("fp"), 1).otherwise(0).alias("early"),
        )
        .groupBy("user_id")
        .agg(F.sum("early").cast("bigint").alias("n_before"))
        .persist()
    )
    ranked = effort.select(
        "n_before",
        # global-window-ok: converting-user grain; the 10^9-key form is
        # the q267 two-level bucket rank (q398 doctrine)
        F.row_number().over(W.orderBy("n_before")).alias("r"),
        # global-window-ok: same frame
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    med = ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        F.col("n_before").cast("bigint").alias("median_effort")
    )
    out = (
        effort.select(
            F.length(F.bin(F.greatest(F.col("n_before"), F.lit(1))))
            .cast("bigint")
            .alias("wclass"),
            "n_before",
        )
        .groupBy("wclass")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.min("n_before").cast("bigint").alias("min_effort"),
            F.max("n_before").cast("bigint").alias("max_effort"),
        )
        .crossJoin(F.broadcast(med))
        .select(
            "wclass", "n_users", "min_effort", "max_effort", "median_effort"
        )
        .orderBy("wclass")
    )
    return out
