"""LLM-ops wave 54: cross-source forensics, lead-lag analysis, and
frequent itemsets —

- q402: cross-source duplication matrix — q68's verified near-dup
  pairs bucketed by (source, source), each cell's observed share
  against the independence expectation and the lift; the matrix
  that says WHICH feeds copy from which before anyone dedups
  "within source" and calls it done.
- q403: daily lead-lag cross-correlation — the click->purchase
  relationship at day lags -3..+3 as exact regression slopes; the
  lead-lag scan behind "does engagement predict conversion this
  week or next".
- q404: frequent brand triples — the a-priori step AFTER q164's
  pairs: 3-itemsets generated only from frequent pairs (candidate
  pruning, the whole point of a-priori), with exact support.

Output-hardening doctrine (as waves 6-53): matrix cells and supports
are exact counts with single truncating ppm divisions; the
independence expectation is the exact integer 2*ca*cb (or ca^2)
against n^2 in DECIMAL(38,0) lanes; lead-lag betas are sign-split
rationals (the q273/q394 slope lanes); all orderings fully tiebroken.

Reference parity: the reference ingests one feed; q402 is the audit
run the day a second feed is added, and q403 the lead-lag read of
its buy/sell series against market volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q402 — cross-source duplication matrix
# ---------------------------------------------------------------------------


@query(
    "q402_cross_source_dup_matrix",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    sp AS (
      SELECT LEAST(da.source, db.source) AS s_lo,
             GREATEST(da.source, db.source) AS s_hi
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_a
      JOIN documents db ON db.doc_id = p.doc_id_b
    ),
    m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM sp),
    srcs AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c FROM documents
      GROUP BY source
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    grid AS (
      SELECT a.source AS s_lo, b.source AS s_hi,
             CASE WHEN a.source = b.source
                  THEN CAST(a.c AS HUGEINT) * a.c
                  ELSE 2 * CAST(a.c AS HUGEINT) * b.c END AS w
      FROM srcs a JOIN srcs b ON a.source <= b.source
    ),
    cells AS (
      SELECT s_lo, s_hi, CAST(COUNT(*) AS BIGINT) AS n_pairs
      FROM sp GROUP BY s_lo, s_hi
    )
    SELECT g.s_lo AS source_a, g.s_hi AS source_b,
           COALESCE(c.n_pairs, 0) AS n_pairs,
           CAST(COALESCE(c.n_pairs, 0) * 1000000 // m1.m AS BIGINT)
             AS obs_ppm,
           CAST(g.w * 1000000 // (CAST(n1.n AS HUGEINT) * n1.n) AS BIGINT)
             AS exp_ppm,
           CAST(CASE WHEN g.w * 1000000 // (CAST(n1.n AS HUGEINT) * n1.n) = 0
                THEN -1
                ELSE (COALESCE(c.n_pairs, 0) * 1000000 // m1.m) * 1000000
                     // (g.w * 1000000 // (CAST(n1.n AS HUGEINT) * n1.n))
                END AS BIGINT) AS lift_ppm
    FROM grid g
    LEFT JOIN cells c ON c.s_lo = g.s_lo AND c.s_hi = g.s_hi
    CROSS JOIN m1 CROSS JOIN n1
    ORDER BY source_a, source_b
    """,
    tags=("llm", "dedup", "provenance", "matrix"),
)
def q402_cross_source_dup_matrix(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-source duplication forensics: every verified near-dup
    pair (q68, jaccard >= 0.5) lands in an unordered (source, source)
    cell; each cell reports its observed share of all dup pairs, the
    share expected if dup endpoints were independent of source
    (2*ca*cb/n^2 off-diagonal, ca^2/n^2 diagonal — exact integer
    lanes), and the lift (ratio of truncated ppms, -1 sentinel when
    the expectation truncates to zero). Diagonal-heavy lift says
    dedup can shard by source; a hot off-diagonal cell names a feed
    pair that syndicates the same text — dedup within source would
    silently keep both copies.

    Scale: the pair table is the bucketed q68 operator; the matrix
    is |sources|^2/2 cells fed by two id-keyed source lookups."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    src = docs.select("doc_id", "source")
    sp = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")
            ),
            "doc_id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")
            ),
            "doc_id_b",
        )
        .select(
            F.least("sa", "sb").alias("s_lo"),
            F.greatest("sa", "sb").alias("s_hi"),
        )
        .persist()
    )
    m1 = sp.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    srcs = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    n1 = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    grid = (
        srcs.select(F.col("source").alias("s_lo"), F.col("c").alias("ca"))
        .join(
            srcs.select(F.col("source").alias("s_hi"), F.col("c").alias("cb")),
            F.col("s_lo") <= F.col("s_hi"),
        )
        .select(
            "s_lo",
            "s_hi",
            F.expr(
                "CASE WHEN s_lo = s_hi THEN CAST(ca AS DECIMAL(38,0)) * ca"
                " ELSE 2 * CAST(ca AS DECIMAL(38,0)) * cb END"
            ).alias("w"),
        )
    )
    cells = sp.groupBy("s_lo", "s_hi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs")
    )
    out = (
        grid.join(cells, ["s_lo", "s_hi"], "left")
        .crossJoin(F.broadcast(m1))
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("s_lo").alias("source_a"),
            F.col("s_hi").alias("source_b"),
            F.coalesce(F.col("n_pairs"), F.lit(0))
            .cast("bigint")
            .alias("n_pairs"),
            F.expr(
                "CAST(COALESCE(n_pairs, 0) * 1000000 div m AS BIGINT)"
            ).alias("obs_ppm"),
            F.expr(
                "CAST(w * 1000000 div (CAST(n AS DECIMAL(38,0)) * n)"
                " AS BIGINT)"
            ).alias("exp_ppm"),
        )
        .select(
            "source_a",
            "source_b",
            "n_pairs",
            "obs_ppm",
            "exp_ppm",
            F.expr(
                "CAST(CASE WHEN exp_ppm = 0 THEN -1"
                " ELSE CAST(obs_ppm AS DECIMAL(38,0)) * 1000000 div exp_ppm"
                " END AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("source_a", "source_b")
    )
    return out


# ---------------------------------------------------------------------------
# q403 — daily lead-lag cross-correlation
# ---------------------------------------------------------------------------

_LAGS = tuple(range(-3, 4))
_LAG_VALUES = ", ".join(f"({lag})" for lag in _LAGS)


@query(
    "q403_daily_lead_lag",
    oracle=f"""
    WITH daily AS (
      SELECT DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
                  AS BIGINT) AS x,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY 1
    ),
    lags(lag) AS (VALUES {_LAG_VALUES}),
    paired AS (
      SELECT l.lag, a.x, b.y
      FROM lags l
      JOIN daily a ON TRUE
      JOIN daily b ON b.day = a.day + l.lag
    ),
    mom AS (
      SELECT lag,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM paired GROUP BY lag
    )
    SELECT CAST(lag AS INT) AS lag, n,
           CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1
                     WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)
             AS beta_sign,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                ELSE ABS(CAST(n AS HUGEINT) * sxy - CAST(sx AS HUGEINT) * sy)
                     * 1000000
                     // (CAST(n AS HUGEINT) * sxx - CAST(sx AS HUGEINT) * sx)
                END AS BIGINT) AS beta_abs_ppm
    FROM mom ORDER BY lag
    """,
    tags=("llm", "timeseries", "lead-lag", "cross-correlation"),
)
def q403_daily_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag scan: the exact regression slope of the daily
    PURCHASE count on the daily CLICK count shifted by -3..+3 days
    ((n*Sxy - Sx*Sy)/(n*Sxx - Sx^2), sign-split rational lanes —
    q394's arithmetic pointed across time). A peak at lag > 0 means
    clicks LEAD purchases by that many days (the campaign-planning
    readout); the fixture's events are independent draws, so the
    scan's flat profile is its own null calibration. Each lag pairs
    only overlapping days (day + lag join), so edge days drop out
    per lag exactly as they should.

    Scale: one scan to day grain; the lag join is a 7-row grid
    against the O(days) frame; moment sums are map-side
    combinable."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.sum(F.expr("CASE WHEN event_type = 'click' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("x"),
        F.sum(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("y"),
    ).persist()
    lags = spark.createDataFrame([(lag,) for lag in _LAGS], "lag int")
    a = daily.select("day", "x")
    b = daily.select(F.col("day").alias("day_b"), "y")
    paired = (
        F.broadcast(lags)
        .join(a)
        .join(b, F.col("day_b") == F.col("day") + F.col("lag"))
    )
    mom = paired.groupBy("lag").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    out = mom.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.expr(
            "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1"
            " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
        ).alias("beta_sign"),
        F.expr(
            "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
            " ELSE ABS(CAST(n AS DECIMAL(38,0)) * sxy"
            " - CAST(sx AS DECIMAL(38,0)) * sy) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * sxx"
            " - CAST(sx AS DECIMAL(38,0)) * sx) END AS BIGINT)"
        ).alias("beta_abs_ppm"),
    ).orderBy("lag")
    return out


# ---------------------------------------------------------------------------
# q404 — frequent brand triples (a-priori)
# ---------------------------------------------------------------------------

_MIN_SUPPORT = 2  # absolute order count: a triple must recur to matter


@query(
    "q404_frequent_brand_triples",
    oracle=f"""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    pair_support AS (
      SELECT a.b AS b1, b.b AS b2, CAST(COUNT(*) AS BIGINT) AS s
      FROM ob a JOIN ob b ON b.o = a.o AND a.b < b.b
      GROUP BY a.b, b.b
      HAVING COUNT(*) >= {_MIN_SUPPORT}
    ),
    cand AS (
      SELECT p.b1, p.b2, q.b2 AS b3
      FROM pair_support p
      JOIN pair_support q ON q.b1 = p.b1 AND q.b2 > p.b2
      JOIN pair_support r ON r.b1 = p.b2 AND r.b2 = q.b2
    ),
    support AS (
      SELECT c.b1, c.b2, c.b3, CAST(COUNT(*) AS BIGINT) AS support
      FROM cand c
      JOIN ob x ON x.b = c.b1
      JOIN ob y ON y.o = x.o AND y.b = c.b2
      JOIN ob z ON z.o = x.o AND z.b = c.b3
      GROUP BY c.b1, c.b2, c.b3
      HAVING COUNT(*) >= {_MIN_SUPPORT}
    ),
    n1 AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n FROM ob)
    SELECT s.b1, s.b2, s.b3, s.support,
           CAST(s.support * 1000000 // n1.n AS BIGINT) AS support_ppm
    FROM support s CROSS JOIN n1
    ORDER BY s.support DESC, s.b1, s.b2, s.b3 LIMIT 20
    """,
    tags=("llm", "itemsets", "apriori", "basket"),
)
def q404_frequent_brand_triples(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """A-priori 3-itemsets over order baskets: candidate triples are
    generated ONLY by joining frequent pairs sharing a prefix and
    checking the third sub-pair (the downward-closure pruning that
    makes a-priori tractable — a triple can't be frequent unless all
    three of its pairs are), then counted exactly by a three-way
    basket join and filtered at the same min-support
    ({_MIN_SUPPORT} orders). Top-20 by support (full lexicographic
    tiebreak) with support ppm of all baskets. q164 is level 2 of
    this lattice; this is level 3 with the pruning step made
    explicit.

    Scale: the basket table is (order, brand)-distinct; pair support
    is a basket self-join (bounded per-order fan-out); the candidate
    join runs on the FREQUENT-pair table (tiny by construction), and
    the final count touches only candidate triples."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    ob = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .select(F.col("l_orderkey").alias("o"), F.col("p_brand").alias("b"))
        .distinct()
        .persist()
    )
    pair_support = (
        ob.alias("a")
        .join(
            ob.alias("x"),
            (F.col("x.o") == F.col("a.o")) & (F.col("a.b") < F.col("x.b")),
        )
        .groupBy(F.col("a.b").alias("b1"), F.col("x.b").alias("b2"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("s"))
        .filter(F.col("s") >= _MIN_SUPPORT)
        .persist()
    )
    ps12 = pair_support.select("b1", "b2")
    ps13 = pair_support.select("b1", F.col("b2").alias("b3"))
    # sequential renames, not a swap projection (lateral-shadow lint)
    ps23 = (
        pair_support.select("b1", "b2")
        .withColumnRenamed("b2", "b3")
        .withColumnRenamed("b1", "b2")
    )
    # downward closure: (b1,b2) and (b1,b3) frequent, then require
    # (b2,b3) frequent too before counting anything
    cand = (
        ps12.join(ps13, "b1")
        .filter(F.col("b3") > F.col("b2"))
        .join(ps23, ["b2", "b3"], "left_semi")
    )
    support = (
        F.broadcast(cand)
        .join(ob.select(F.col("b").alias("b1"), "o"), "b1")
        .join(
            ob.select(F.col("b").alias("b2"), "o"), ["b2", "o"], "left_semi"
        )
        .join(
            ob.select(F.col("b").alias("b3"), "o"), ["b3", "o"], "left_semi"
        )
        .groupBy("b1", "b2", "b3")
        .agg(F.count(F.lit(1)).cast("bigint").alias("support"))
        .filter(F.col("support") >= _MIN_SUPPORT)
    )
    n1 = ob.select("o").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    out = (
        support.crossJoin(F.broadcast(n1))
        .select(
            "b1",
            "b2",
            "b3",
            "support",
            F.expr("CAST(support * 1000000 div n AS BIGINT)").alias(
                "support_ppm"
            ),
        )
        .orderBy(F.desc("support"), "b1", "b2", "b3")
        .limit(20)
    )
    return out
