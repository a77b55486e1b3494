"""LLM-ops wave 62: keep-policy fairness, retention decay, and change
attribution —

- q426: dedup winner bias — among verified near-dup pairs, which
  SOURCE survives the min-doc_id keep policy and at whose expense;
  the fairness audit of a rule everyone assumes is neutral (an
  id-ordered keep policy systematically favors the earlier-ingested
  feed).
- q427: retention decay ratios — the week-over-week survival ratio
  of the pooled retention curve (retained(k)/retained(k-1) in exact
  ppm) with its nearest-rank median; the log-free geometric-decay
  parameter that makes q387's matrix a single tunable number.
- q428: change contributors — the top-10 customers by absolute
  revenue delta between the last two complete months, each with its
  signed share of the total move; the "why did revenue change"
  root-cause table.

Output-hardening doctrine (as waves 6-61): winner/loser cells are
exact counts with truncating ppm shares; decay ratios divide exact
counts once; contributor shares are SIGN-SPLIT against the total
delta with a zero-guard (-1 sentinel when the month pair nets to
zero); money rides the q01 DECIMAL(18,6) lanes.

Reference parity: q426 audits the dedup the reference's corpus
ingest would run; q428 is the first question its monthly revenue
review asks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q426 — dedup winner bias
# ---------------------------------------------------------------------------


@query(
    "q426_dedup_winner_bias",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    wl AS (
      -- min-id keep policy: the pair's smaller doc_id survives
      SELECT dw.source AS winner_source, dl.source AS loser_source
      FROM pairs p
      JOIN documents dw ON dw.doc_id = p.doc_id_a
      JOIN documents dl ON dl.doc_id = p.doc_id_b
    ),
    m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM wl),
    srcs AS (SELECT DISTINCT source FROM documents),
    grid AS (
      SELECT a.source AS winner_source, b.source AS loser_source
      FROM srcs a CROSS JOIN srcs b
    ),
    cells AS (
      SELECT winner_source, loser_source, CAST(COUNT(*) AS BIGINT) AS n
      FROM wl GROUP BY 1, 2
    ),
    wins AS (
      SELECT winner_source AS source, CAST(COUNT(*) AS BIGINT) AS w
      FROM wl GROUP BY 1
    ),
    losses AS (
      SELECT loser_source AS source, CAST(COUNT(*) AS BIGINT) AS l
      FROM wl GROUP BY 1
    )
    SELECT g.winner_source, g.loser_source,
           COALESCE(c.n, 0) AS n_pairs,
           CAST(COALESCE(c.n, 0) * 1000000 // m1.m AS BIGINT) AS share_ppm,
           CAST(COALESCE(w.w, 0) AS BIGINT) AS winner_total_wins,
           CAST(COALESCE(lo.l, 0) AS BIGINT) AS winner_total_losses
    FROM grid g
    LEFT JOIN cells c ON c.winner_source = g.winner_source
                      AND c.loser_source = g.loser_source
    LEFT JOIN wins w ON w.source = g.winner_source
    LEFT JOIN losses lo ON lo.source = g.winner_source
    CROSS JOIN m1
    ORDER BY g.winner_source, g.loser_source
    """,
    tags=("llm", "dedup", "keep-policy", "fairness"),
)
def q426_dedup_winner_bias(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-policy fairness audit: every verified near-dup pair
    (q68; doc_id_a < doc_id_b by construction) is resolved by the
    min-id keep rule — doc_id_a SURVIVES — and the winner/loser
    source matrix shows who that rule favors, with each winner's
    total wins and losses beside every cell. An id-ordered keep
    policy is crawl-order in disguise: if one source's ids are
    systematically smaller, its copies always win, and downstream
    source-mix statistics inherit the bias. The q142-family
    keep-lists choose BY QUALITY; this audits what the lazy default
    would have done.

    Scale: two id-keyed source lookups on the bucketed q68 pair
    table, |sources|^2 grid arithmetic."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    src = docs.select("doc_id", "source")
    wl = (
        pairs.join(
            src.select(
                F.col("doc_id").alias("doc_id_a"),
                F.col("source").alias("winner_source"),
            ),
            "doc_id_a",
        )
        .join(
            src.select(
                F.col("doc_id").alias("doc_id_b"),
                F.col("source").alias("loser_source"),
            ),
            "doc_id_b",
        )
        .select("winner_source", "loser_source")
        .persist()
    )
    m1 = wl.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    srcs = docs.select("source").distinct()
    grid = srcs.select(F.col("source").alias("winner_source")).crossJoin(
        srcs.select(F.col("source").alias("loser_source"))
    )
    cells = wl.groupBy("winner_source", "loser_source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wins = wl.groupBy(F.col("winner_source").alias("wsrc")).agg(
        F.count(F.lit(1)).cast("bigint").alias("w")
    )
    losses = wl.groupBy(F.col("loser_source").alias("lsrc")).agg(
        F.count(F.lit(1)).cast("bigint").alias("l")
    )
    out = (
        grid.join(cells, ["winner_source", "loser_source"], "left")
        .join(wins, grid["winner_source"] == wins["wsrc"], "left")
        .join(losses, grid["winner_source"] == losses["lsrc"], "left")
        .crossJoin(F.broadcast(m1))
        .select(
            "winner_source",
            "loser_source",
            F.coalesce(F.col("n"), F.lit(0)).cast("bigint").alias("n_pairs"),
            F.expr(
                "CAST(COALESCE(n, 0) * 1000000 div m AS BIGINT)"
            ).alias("share_ppm"),
            F.coalesce(F.col("w"), F.lit(0))
            .cast("bigint")
            .alias("winner_total_wins"),
            F.coalesce(F.col("l"), F.lit(0))
            .cast("bigint")
            .alias("winner_total_losses"),
        )
        .orderBy("winner_source", "loser_source")
    )
    return out


# ---------------------------------------------------------------------------
# q427 — retention decay ratios
# ---------------------------------------------------------------------------


@query(
    "q427_retention_decay",
    oracle="""
    WITH uw AS (
      SELECT user_id,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) // 7
               AS week
      FROM events GROUP BY 1, 2
    ),
    first_w AS (
      SELECT user_id, MIN(week) AS cohort_week FROM uw GROUP BY user_id
    ),
    pooled AS (
      SELECT u.week - f.cohort_week AS offset_weeks,
             CAST(COUNT(DISTINCT u.user_id) AS BIGINT) AS retained
      FROM uw u JOIN first_w f ON f.user_id = u.user_id
      GROUP BY 1
    ),
    seq AS (
      SELECT offset_weeks, retained,
             LAG(retained) OVER (ORDER BY offset_weeks) AS prev
      FROM pooled
    ),
    ratios AS (
      SELECT offset_weeks, retained, prev,
             CAST(retained * 1000000 // prev AS BIGINT) AS decay_ppm
      FROM seq WHERE prev IS NOT NULL
    ),
    med AS (
      SELECT CAST(decay_ppm AS BIGINT) AS median_decay_ppm
      FROM (
        SELECT decay_ppm,
               ROW_NUMBER() OVER (ORDER BY decay_ppm, offset_weeks) AS r,
               COUNT(*) OVER () AS n
        FROM ratios
      ) WHERE r = (n + 1) // 2
    )
    SELECT r.offset_weeks, r.retained, r.prev AS prev_retained,
           r.decay_ppm, m.median_decay_ppm
    FROM ratios r CROSS JOIN med m
    ORDER BY r.offset_weeks
    """,
    tags=("llm", "product-analytics", "retention", "decay"),
)
def q427_retention_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention decay parameter without logarithms: the POOLED
    retention curve (all cohorts, by offset week — q387's matrix
    summed over cohorts) yields week-over-week survival ratios
    retained(k)/retained(k-1) in exact ppm; a geometric (constant-
    churn) process has a FLAT ratio sequence, and the nearest-rank
    median of the ratios IS the decay parameter estimate (robust to
    the noisy tail the same way q390's median is). Ratios far below
    the median at specific offsets name the weeks where the product
    loses people.

    Scale: (user, week) dedup, user-grain MIN, offset-grain rollup;
    lag/median windows run on the O(weeks) frame."""
    events = load(spark, sf_dir, "events")
    week = F.expr(
        "CAST(datediff(CAST(ts AS DATE), DATE '1970-01-01') div 7 AS BIGINT)"
    )
    uw = events.select("user_id", week.alias("week")).distinct()
    first_w = uw.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    pooled = (
        uw.join(first_w, "user_id")
        .groupBy((F.col("week") - F.col("cohort_week")).alias("offset_weeks"))
        .agg(F.countDistinct("user_id").cast("bigint").alias("retained"))
    )
    # global-window-ok: offset-week grain, O(weeks) rows
    wo = W.orderBy("offset_weeks")
    ratios = (
        pooled.select(
            "offset_weeks",
            "retained",
            F.lag("retained").over(wo).alias("prev"),
        )
        .filter(F.col("prev").isNotNull())
        .select(
            "offset_weeks",
            "retained",
            "prev",
            F.expr("CAST(retained * 1000000 div prev AS BIGINT)").alias(
                "decay_ppm"
            ),
        )
        .persist()
    )
    ranked = ratios.select(
        "decay_ppm",
        # global-window-ok: ratio frame, O(weeks) rows
        F.row_number()
        .over(W.orderBy("decay_ppm", "offset_weeks"))
        .alias("r"),
        # global-window-ok: ratio frame, O(weeks) rows
        F.count(F.lit(1)).over(W.partitionBy()).alias("n"),
    )
    med = ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        F.col("decay_ppm").cast("bigint").alias("median_decay_ppm")
    )
    out = (
        ratios.crossJoin(F.broadcast(med))
        .select(
            "offset_weeks",
            "retained",
            F.col("prev").alias("prev_retained"),
            "decay_ppm",
            "median_decay_ppm",
        )
        .orderBy("offset_weeks")
    )
    return out


# ---------------------------------------------------------------------------
# q428 — month-over-month change contributors
# ---------------------------------------------------------------------------


@query(
    "q428_change_contributors",
    oracle="""
    WITH mc AS (
      SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
               + EXTRACT(MONTH FROM o_orderdate) - 1 AS month,
             o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS rev_u
      FROM orders GROUP BY 1, 2
    ),
    last2 AS (
      SELECT MAX(month) AS m1, MAX(month) - 1 AS m0 FROM mc
    ),
    cur AS (
      SELECT o_custkey AS k, rev_u FROM mc CROSS JOIN last2
      WHERE month = last2.m1
    ),
    prev AS (
      SELECT o_custkey AS k, rev_u FROM mc CROSS JOIN last2
      WHERE month = last2.m0
    ),
    deltas AS (
      SELECT COALESCE(c.k, p.k) AS custkey,
             COALESCE(c.rev_u, 0) AS rev_cur_u,
             COALESCE(p.rev_u, 0) AS rev_prev_u,
             COALESCE(c.rev_u, 0) - COALESCE(p.rev_u, 0) AS delta_u
      FROM cur c FULL OUTER JOIN prev p ON p.k = c.k
    ),
    tot AS (SELECT CAST(SUM(delta_u) AS BIGINT) AS total_delta FROM deltas)
    SELECT d.custkey, d.rev_prev_u, d.rev_cur_u, d.delta_u, t.total_delta,
           CAST(CASE WHEN t.total_delta = 0 THEN -1
                WHEN (CASE WHEN d.delta_u >= 0 THEN d.delta_u
                           ELSE -d.delta_u END) = 0 THEN 0
                ELSE (CASE WHEN d.delta_u >= 0 THEN d.delta_u
                           ELSE -d.delta_u END) * 1000000
                     // (CASE WHEN t.total_delta >= 0 THEN t.total_delta
                              ELSE -t.total_delta END)
                END AS BIGINT) AS abs_contribution_ppm
    FROM deltas d CROSS JOIN tot t
    ORDER BY CASE WHEN d.delta_u >= 0 THEN d.delta_u ELSE -d.delta_u END
             DESC, d.custkey
    LIMIT 10
    """,
    tags=("llm", "business", "root-cause", "attribution"),
)
def q428_change_contributors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Root-cause table for a metric move: between the last two
    months, the 10 customers with the largest ABSOLUTE revenue delta
    (FULL OUTER join so appearing and vanishing customers both
    count), each with its before/after revenue, signed delta in
    exact micro-currency, the total move, and |delta| as ppm of
    |total| (-1 sentinel when the months net to zero). The first
    question of every revenue review — "who did that" — answered
    deterministically instead of by eyeballing a dashboard.

    Scale: (month, customer) aggregate, two month slices FULL OUTER
    joined at customer grain, global top-10 by |delta|
    (TakeOrderedAndProject)."""
    orders = load(spark, sf_dir, "orders")
    mc = orders.groupBy(
        F.expr(
            "CAST((EXTRACT(YEAR FROM o_orderdate) - 1970) * 12"
            " + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT)"
        ).alias("month"),
        "o_custkey",
    ).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000"
            " AS BIGINT)"
        ).alias("rev_u")
    ).persist()
    last2 = mc.agg(
        F.max("month").alias("m1"), (F.max("month") - 1).alias("m0")
    )
    cur = mc.crossJoin(F.broadcast(last2)).filter(
        F.col("month") == F.col("m1")
    ).select(F.col("o_custkey").alias("k"), F.col("rev_u").alias("cu"))
    prev = mc.crossJoin(F.broadcast(last2)).filter(
        F.col("month") == F.col("m0")
    ).select(F.col("o_custkey").alias("k"), F.col("rev_u").alias("pu"))
    deltas = (
        cur.join(prev, "k", "full_outer")
        .select(
            F.col("k").alias("custkey"),
            F.coalesce(F.col("cu"), F.lit(0)).cast("bigint").alias(
                "rev_cur_u"
            ),
            F.coalesce(F.col("pu"), F.lit(0)).cast("bigint").alias(
                "rev_prev_u"
            ),
        )
        .select(
            "custkey",
            "rev_prev_u",
            "rev_cur_u",
            (F.col("rev_cur_u") - F.col("rev_prev_u")).alias("delta_u"),
        )
        .persist()
    )
    tot = deltas.agg(F.sum("delta_u").cast("bigint").alias("total_delta"))
    out = (
        deltas.crossJoin(F.broadcast(tot))
        .select(
            "custkey",
            "rev_prev_u",
            "rev_cur_u",
            "delta_u",
            "total_delta",
            F.expr(
                "CAST(CASE WHEN total_delta = 0 THEN -1"
                " WHEN ABS(delta_u) = 0 THEN 0"
                " ELSE ABS(delta_u) * 1000000 div ABS(total_delta)"
                " END AS BIGINT)"
            ).alias("abs_contribution_ppm"),
        )
        .orderBy(F.abs(F.col("delta_u")).desc(), "custkey")
        .limit(10)
    )
    return out
