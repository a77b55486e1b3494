"""LLM-ops wave 48: corpus term dynamics, data-contract integrity, and
transaction-velocity auditing —

- q384: term adaptation (Church's burstiness) — for the top document-
  frequency terms, P(term occurs again | occurred once) as
  df2/df1 in exact ppm beside collection frequency; the corpus
  statistic that says word repetition is bursty, not Poisson — and
  the reason tf saturation (BM25's k1) exists at all.
- q385: referential-integrity audit — orphan counts and ppm for all
  seven TPC-H foreign-key edges in one table; the data-contract
  check every warehouse load runs before anyone trusts a join.
- q386: rapid-repeat-order audit — customer orders placed within 7
  days of each other (velocity signal), the top-20 closest pairs
  with their prices plus the global pair count; the double-charge /
  split-order detector shape over a key-bounded self-join.

Output-hardening doctrine (as waves 6-47): adaptation and orphan
rates are single truncating ppm divisions of exact counts; top-k
selections are fully tiebroken (df DESC, term / days ASC, key_a,
key_b); q386's price columns are SCANNED doubles (bit-identical in
both engines), never computed floats.

Reference parity: the reference appends one day of rows per run;
q385 is the FK hygiene its relational sink assumes, and q386 is the
duplicate-ingest detector for a feed that might double-fire.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q384 — term adaptation (burstiness)
# ---------------------------------------------------------------------------


@query(
    "q384_term_adaptation",
    oracle="""
    WITH dt AS (
      SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS c
      FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
        FROM documents
      ) GROUP BY doc_id, tok
    ),
    terms AS (
      SELECT tok AS term,
             CAST(COUNT(*) AS BIGINT) AS df1,
             CAST(SUM(CASE WHEN c >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS df2,
             CAST(SUM(c) AS BIGINT) AS cf
      FROM dt GROUP BY tok
    )
    SELECT term, df1, df2, cf,
           CAST(df2 * 1000000 // df1 AS BIGINT) AS adaptation_ppm
    FROM terms
    ORDER BY df1 DESC, term LIMIT 20
    """,
    tags=("llm", "text", "burstiness", "corpus-stats"),
)
def q384_term_adaptation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Church adaptation / term burstiness: for the 20 highest
    document-frequency terms, the probability a document that
    contains the term contains it AGAIN — df2/df1 in exact ppm
    (df2 = docs with count >= 2) beside the collection frequency.
    Under a Poisson/independence model adaptation would track the
    per-doc rate; real text is bursty (adaptation far above it),
    which is exactly why BM25's tf saturation (q235) and the Gopher
    repetition gates (q104) work. Same space tokenizer as the BM25 /
    TF-IDF entries, so the numbers compose.

    Scale: tokenize-explode to (doc, term) grain with map-side
    combine, then a term-grain rollup and a global top-20
    (TakeOrderedAndProject) — the explode is the one wide stage and
    it is the same one every retrieval entry already pays."""
    docs = load(spark, sf_dir, "documents")
    dt = (
        docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("tok")
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    terms = dt.groupBy(F.col("tok").alias("term")).agg(
        F.count(F.lit(1)).cast("bigint").alias("df1"),
        F.sum(F.expr("CASE WHEN c >= 2 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("df2"),
        F.sum("c").cast("bigint").alias("cf"),
    )
    return (
        terms.select(
            "term",
            "df1",
            "df2",
            "cf",
            F.expr("CAST(df2 * 1000000 div df1 AS BIGINT)").alias(
                "adaptation_ppm"
            ),
        )
        .orderBy(F.desc("df1"), "term")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q385 — referential-integrity audit
# ---------------------------------------------------------------------------

# (edge label, child table, fk column, parent table, pk column) — the
# seven FK edges of the TPC-H-ish fixture schema.
FK_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _sql_fk_edge(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
      SELECT '{label}' AS edge,
             CAST(COUNT(*) AS BIGINT) AS n_child,
             CAST(SUM(CASE WHEN c.{fk} IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_null_fk,
             CAST(SUM(CASE WHEN c.{fk} IS NOT NULL AND p.{pk} IS NULL
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_orphans
      FROM {child} c
      LEFT JOIN (SELECT DISTINCT {pk} FROM {parent}) p ON p.{pk} = c.{fk}"""


@query(
    "q385_referential_integrity",
    oracle="WITH edges AS ("
    + "\n      UNION ALL".join(_sql_fk_edge(*e) for e in FK_EDGES)
    + """
    )
    SELECT edge, n_child, n_null_fk, n_orphans,
           CAST(CASE WHEN n_child - n_null_fk = 0 THEN 0
                ELSE n_orphans * 1000000 // (n_child - n_null_fk)
                END AS BIGINT) AS orphan_ppm
    FROM edges ORDER BY edge
    """,
    tags=("llm", "quality", "data-contract", "referential-integrity"),
)
def q385_referential_integrity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity audit of all seven FK edges in the
    fixture schema (lineitem->orders/part/supplier,
    orders->customer, customer/supplier->nation, nation->region):
    per edge, the child row count, NULL-FK count (not a violation —
    reported separately), orphan count (non-null FK with no parent)
    and the orphan ppm over non-null children. Green means every
    join in the catalog is lossless by construction; any non-zero
    row names exactly which load broke the contract — the check a
    warehouse runs between ingest and publish.

    Scale: each edge is one LEFT JOIN of the child against the
    DISTINCT parent keys (dimension-sized -> broadcast; the two
    fact-fact edges shuffle on the join key once) collapsed to a
    1-row aggregate — seven key-only passes, no payload columns
    move."""
    rows = []
    for label, child, fk, parent, pk in FK_EDGES:
        c = load(spark, sf_dir, child).select(F.col(fk).alias("_fk"))
        p = (
            load(spark, sf_dir, parent)
            .select(F.col(pk).alias("_pk"))
            .distinct()
        )
        rows.append(
            c.join(p, c["_fk"] == p["_pk"], "left").agg(
                F.lit(label).alias("edge"),
                F.count(F.lit(1)).cast("bigint").alias("n_child"),
                F.sum(F.expr("CASE WHEN _fk IS NULL THEN 1 ELSE 0 END"))
                .cast("bigint")
                .alias("n_null_fk"),
                F.sum(
                    F.expr(
                        "CASE WHEN _fk IS NOT NULL AND _pk IS NULL"
                        " THEN 1 ELSE 0 END"
                    )
                )
                .cast("bigint")
                .alias("n_orphans"),
            )
        )
    edges = rows[0]
    for r in rows[1:]:
        edges = edges.unionByName(r)
    return edges.select(
        "edge",
        "n_child",
        "n_null_fk",
        "n_orphans",
        F.expr(
            "CAST(CASE WHEN n_child - n_null_fk = 0 THEN 0"
            " ELSE n_orphans * 1000000 div (n_child - n_null_fk)"
            " END AS BIGINT)"
        ).alias("orphan_ppm"),
    ).orderBy("edge")


# ---------------------------------------------------------------------------
# q386 — rapid-repeat-order audit
# ---------------------------------------------------------------------------


@query(
    "q386_rapid_repeat_orders",
    oracle="""
    WITH pairs AS (
      SELECT a.o_custkey,
             a.o_orderkey AS key_a, b.o_orderkey AS key_b,
             CAST(ABS(DATEDIFF('day', CAST(a.o_orderdate AS DATE),
                               CAST(b.o_orderdate AS DATE))) AS BIGINT)
               AS days_apart,
             a.o_totalprice AS price_a, b.o_totalprice AS price_b
      FROM orders a
      JOIN orders b
        ON a.o_custkey = b.o_custkey
       AND a.o_orderkey < b.o_orderkey
      WHERE ABS(DATEDIFF('day', CAST(a.o_orderdate AS DATE),
                         CAST(b.o_orderdate AS DATE))) <= 7
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs_total FROM pairs)
    SELECT p.o_custkey, p.key_a, p.key_b, p.days_apart,
           p.price_a, p.price_b, t.n_pairs_total
    FROM pairs p CROSS JOIN tot t
    ORDER BY p.days_apart, p.key_a, p.key_b LIMIT 20
    """,
    tags=("llm", "quality", "velocity", "fraud"),
)
def q386_rapid_repeat_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transaction-velocity audit: pairs of orders by the SAME
    customer placed within 7 days of each other — the shape of a
    double-charge / double-ingest / split-order detector — reporting
    the top-20 closest pairs (days ASC, key tiebreaks) with both
    scanned prices, and the global pair count on every row. The
    fixture has zero exact price duplicates (checked), so the
    velocity window is the signal; a feed that double-fires shows up
    here at days_apart = 0 with equal prices.

    Scale: a self-equi-join on o_custkey — per-customer order counts
    are bounded (TPC-H ~30), so bucket sizes stay tiny and the date
    predicate rides the join; the pair stream collapses to a global
    top-20 (TakeOrderedAndProject) plus a 1-row count broadcast."""
    orders = load(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderkey",
        F.col("o_orderdate").cast("date").alias("d"),
        "o_totalprice",
    ).persist()
    a = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_a"),
        F.col("d").alias("d_a"),
        F.col("o_totalprice").alias("price_a"),
    )
    b = orders.select(
        "o_custkey",
        F.col("o_orderkey").alias("key_b"),
        F.col("d").alias("d_b"),
        F.col("o_totalprice").alias("price_b"),
    )
    pairs = (
        a.join(b, "o_custkey")
        .filter(F.col("key_a") < F.col("key_b"))
        .select(
            "o_custkey",
            "key_a",
            "key_b",
            F.abs(F.datediff("d_a", "d_b")).cast("bigint").alias("days_apart"),
            "price_a",
            "price_b",
        )
        .filter(F.col("days_apart") <= 7)
        .persist()
    )
    tot = pairs.agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs_total"))
    out = (
        pairs.crossJoin(F.broadcast(tot))
        .orderBy("days_apart", "key_a", "key_b")
        .limit(20)
    )
    return out
