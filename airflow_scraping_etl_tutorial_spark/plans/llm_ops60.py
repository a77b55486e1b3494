"""LLM-ops wave 61: concentration drift, alert run-lengths, and
plan-equivalence pedagogy —

- q423: revenue concentration drift — monthly customer-revenue HHI
  (sum of squared shares, exact ppm) with the sign-split trend; a
  rising HHI means the business is quietly becoming three
  customers in a trench coat.
- q424: alert run lengths — days whose count exceeds the
  median+3*MAD robust threshold (q390's arithmetic), grouped into
  consecutive RUNS by the day-minus-rank islands trick; run counts
  and the longest streak tune any k-consecutive-days alert rule.
- q425: pre-aggregation pushdown equivalence — revenue per nation
  computed the naive way (join facts to dims, then aggregate) and
  the pushed-down way (aggregate facts to the join key FIRST), with
  both results and the rows-into-join counts side by side; the
  plan-shape lesson (partial aggregation is free row reduction)
  stated as data.

Output-hardening doctrine (as waves 6-60): HHI is the exact
rational sum(c^2)*1e6 // (sum(c))^2 per month in DECIMAL(38,0)
lanes; runs come from integer day - ROW_NUMBER island keys (the q369
diagonal trick on the time axis); q425's two revenue lanes both ride
the attested DOUBLE -> DECIMAL(18,6) money path and must agree
bit-for-bit (asserted as an output column, not just a test).

Reference parity: q423 is the reference's by-investor-class
concentration question; q424 tunes the alert on its daily feed; q425
is the optimization its aggregate queries rely on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q423 — revenue concentration drift
# ---------------------------------------------------------------------------


@query(
    "q423_concentration_drift",
    oracle="""
    WITH mc AS (
      SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
               + EXTRACT(MONTH FROM o_orderdate) - 1 AS month,
             o_custkey,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS rev_u
      FROM orders GROUP BY 1, 2
    ),
    monthly AS (
      SELECT month,
             CAST(COUNT(*) AS BIGINT) AS n_customers,
             CAST(SUM(rev_u) AS BIGINT) AS tot_u,
             CAST(SUM(CAST(rev_u AS HUGEINT) * rev_u) AS HUGEINT) AS sq
      FROM mc GROUP BY month
    ),
    pts AS (
      SELECT month AS x, n_customers, tot_u,
             CAST(sq * 1000000 // (CAST(tot_u AS HUGEINT) * tot_u)
                  AS BIGINT) AS hhi_ppm
      FROM monthly
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(hhi_ppm) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * hhi_ppm) AS BIGINT) AS sxy
      FROM pts
    )
    SELECT p.x AS month, p.n_customers, p.hhi_ppm,
           CAST(CASE WHEN m.k * m.sxy - m.sx * m.sy > 0 THEN 1
                     WHEN m.k * m.sxy - m.sx * m.sy < 0 THEN -1 ELSE 0 END
                AS INT) AS trend_sign,
           CAST(CASE WHEN m.k * m.sxx - m.sx * m.sx = 0 THEN 0
                ELSE ABS(CAST(m.k AS HUGEINT) * m.sxy
                         - CAST(m.sx AS HUGEINT) * m.sy)
                     // (CAST(m.k AS HUGEINT) * m.sxx
                         - CAST(m.sx AS HUGEINT) * m.sx)
                END AS BIGINT) AS trend_abs_ppm_per_month
    FROM pts p CROSS JOIN mom m ORDER BY month
    """,
    tags=("llm", "business", "concentration", "hhi"),
)
def q423_concentration_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Concentration drift: per month, the Herfindahl index of
    customer revenue — sum(rev_c^2) * 1e6 // total^2, exact in
    DECIMAL(38,0) lanes over the q01 money path — beside the
    sign-split OLS trend of HHI on month index. 1e6/n_customers is
    perfect equality; drift toward 1e6 is dependence on few
    customers, and the TREND catches it while the level still looks
    healthy (the q169-family indexes are static; this is their time
    derivative).

    Scale: (month, customer) aggregate, month-grain square sums,
    O(months) trend arithmetic."""
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
    )
    monthly = mc.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_customers"),
        F.sum("rev_u").cast("bigint").alias("tot_u"),
        F.sum(F.expr("CAST(rev_u AS DECIMAL(38,0)) * rev_u")).alias("sq"),
    )
    pts = monthly.select(
        F.col("month").alias("x"),
        "n_customers",
        F.expr(
            "CAST(sq * 1000000 div (CAST(tot_u AS DECIMAL(38,0)) * tot_u)"
            " AS BIGINT)"
        ).alias("hhi_ppm"),
    ).persist()
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("hhi_ppm").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * hhi_ppm")).cast("bigint").alias("sxy"),
    )
    out = (
        pts.crossJoin(F.broadcast(mom))
        .select(
            F.col("x").alias("month"),
            "n_customers",
            "hhi_ppm",
            F.expr(
                "CAST(CASE WHEN k * sxy - sx * sy > 0 THEN 1"
                " WHEN k * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
            ).alias("trend_sign"),
            F.expr(
                "CAST(CASE WHEN k * sxx - sx * sx = 0 THEN 0"
                " ELSE ABS(CAST(k AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy)"
                " div (CAST(k AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx) END AS BIGINT)"
            ).alias("trend_abs_ppm_per_month"),
        )
        .orderBy("month")
    )
    return out


# ---------------------------------------------------------------------------
# q424 — alert run lengths (gaps and islands)
# ---------------------------------------------------------------------------


@query(
    "q424_alert_run_lengths",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, day, c,
             ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY c, day)
               AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM daily
    ),
    med AS (
      SELECT event_type, CAST(c AS BIGINT) AS med
      FROM ranked WHERE r = (n + 1) // 2
    ),
    dev AS (
      SELECT d.event_type, d.day, ABS(d.c - m.med) AS adev, m.med, d.c
      FROM daily d JOIN med m ON m.event_type = d.event_type
    ),
    dranked AS (
      SELECT event_type, adev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY adev, day) AS r,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM dev
    ),
    mad AS (
      SELECT event_type, CAST(adev AS BIGINT) AS mad
      FROM dranked WHERE r = (n + 1) // 2
    ),
    flagged AS (
      SELECT d.event_type, d.day
      FROM dev d JOIN mad m ON m.event_type = d.event_type
      WHERE d.c > d.med + 3 * m.mad
    ),
    islands AS (
      SELECT event_type, day,
             day - ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY day) AS island
      FROM flagged
    ),
    runs AS (
      SELECT event_type, island,
             CAST(COUNT(*) AS BIGINT) AS run_len,
             CAST(MIN(day) AS BIGINT) AS run_start
      FROM islands GROUP BY event_type, island
    )
    SELECT r.event_type,
           CAST(SUM(r.run_len) AS BIGINT) AS n_alert_days,
           CAST(COUNT(*) AS BIGINT) AS n_runs,
           CAST(MAX(r.run_len) AS BIGINT) AS longest_run,
           CAST(MIN(CASE WHEN r.run_len = m.mx THEN r.run_start END)
                AS BIGINT) AS longest_run_start
    FROM runs r
    JOIN (SELECT event_type, MAX(run_len) AS mx FROM runs
          GROUP BY event_type) m ON m.event_type = r.event_type
    GROUP BY r.event_type, m.mx ORDER BY r.event_type
    """,
    tags=("llm", "monitoring", "runs", "gaps-islands"),
)
def q424_alert_run_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert streak tuning: days whose count exceeds the robust
    median + 3*MAD threshold (q390's UPPER-side arithmetic) are
    grouped into consecutive runs by the day - ROW_NUMBER islands
    key (equal along any gap-free streak — the q369 diagonal trick
    pointed at the calendar), and each type reports its alert-day
    count, run count, and longest streak with its (earliest) start.
    A 3-consecutive-days alert rule fires exactly on runs >= 3 —
    this table says how often that would have happened, before the
    pager finds out. Types with NO alert days simply have no row
    (both engines drop them identically).

    Scale: day-grain medians (q390 machinery), a day-grain island
    window per type, run-grain rollups — all O(days) frames."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    wt = W.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "day",
        "c",
        F.row_number().over(wt.orderBy("c", "day")).alias("r"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    med = ranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("c").cast("bigint").alias("med")
    )
    dev = daily.join(med, "event_type").select(
        "event_type",
        "day",
        "c",
        "med",
        F.abs(F.col("c") - F.col("med")).alias("adev"),
    ).persist()
    dranked = dev.select(
        "event_type",
        "adev",
        F.row_number().over(wt.orderBy("adev", "day")).alias("r"),
        F.count(F.lit(1)).over(wt).alias("n"),
    )
    mad = dranked.filter(F.col("r") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("adev").cast("bigint").alias("mad")
    )
    flagged = (
        dev.join(mad, "event_type")
        .filter(F.col("c") > F.col("med") + 3 * F.col("mad"))
        .select("event_type", "day")
    )
    islands = flagged.select(
        "event_type",
        "day",
        (
            F.col("day")
            - F.row_number().over(wt.orderBy("day"))
        ).alias("island"),
    )
    runs = islands.groupBy("event_type", "island").agg(
        F.count(F.lit(1)).cast("bigint").alias("run_len"),
        F.min("day").cast("bigint").alias("run_start"),
    ).persist()
    mx = runs.groupBy("event_type").agg(F.max("run_len").alias("mx"))
    out = (
        runs.join(mx, "event_type")
        .groupBy("event_type", "mx")
        .agg(
            F.sum("run_len").cast("bigint").alias("n_alert_days"),
            F.count(F.lit(1)).cast("bigint").alias("n_runs"),
            F.min(
                F.when(F.col("run_len") == F.col("mx"), F.col("run_start"))
            )
            .cast("bigint")
            .alias("longest_run_start"),
        )
        .select(
            "event_type",
            "n_alert_days",
            "n_runs",
            F.col("mx").cast("bigint").alias("longest_run"),
            "longest_run_start",
        )
        .orderBy("event_type")
    )
    return out


# ---------------------------------------------------------------------------
# q425 — pre-aggregation pushdown equivalence
# ---------------------------------------------------------------------------


@query(
    "q425_preagg_pushdown_equivalence",
    oracle="""
    WITH naive AS (
      SELECT n.n_name,
             CAST(ROUND(SUM(CAST(o.o_totalprice AS DECIMAL(18,6))), 2)
                  AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS rows_into_join
      FROM orders o
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    ),
    pushed AS (
      SELECT n.n_name,
             CAST(ROUND(SUM(pre.rev), 2) AS DOUBLE) AS revenue,
             CAST(COUNT(*) AS BIGINT) AS rows_into_join
      FROM (
        SELECT o_custkey,
               SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS rev
        FROM orders GROUP BY o_custkey
      ) pre
      JOIN customer c ON c.c_custkey = pre.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      GROUP BY n.n_name
    )
    SELECT a.n_name,
           a.revenue AS revenue_naive,
           b.revenue AS revenue_pushed,
           CAST(CASE WHEN a.revenue = b.revenue THEN 1 ELSE 0 END AS INT)
             AS identical,
           a.rows_into_join AS naive_join_rows,
           b.rows_into_join AS pushed_join_rows,
           CAST((a.rows_into_join - b.rows_into_join) * 1000000
                // a.rows_into_join AS BIGINT) AS rows_saved_ppm
    FROM naive a JOIN pushed b ON b.n_name = a.n_name
    ORDER BY a.n_name
    """,
    tags=("llm", "planner", "pre-aggregation", "equivalence"),
)
def q425_preagg_pushdown_equivalence(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Partial-aggregation pushdown as data: revenue per nation
    computed the naive way (every order row rides through two joins)
    and the pushed-down way (orders pre-aggregated to customer grain
    BEFORE joining), with both totals (identical by associativity —
    asserted as the `identical` column, both on the exact
    DECIMAL(18,6) money path), the rows each plan carries into the
    join, and the saving in ppm. This is what Catalyst's partial
    aggregation does inside one groupBy; stated across a JOIN it is
    the rewrite a human still has to do — and the saving column is
    the argument for doing it.

    Scale: the pushed lane's join input is customer-grain (~n/10
    here, dimension-bounded in general); both lanes broadcast the
    nation dim."""
    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    nation = load(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    naive = (
        orders.select("o_custkey", "o_totalprice")
        .join(customer, orders["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.expr(
                "CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2)"
                " AS DOUBLE)"
            ).alias("revenue_naive"),
            F.count(F.lit(1)).cast("bigint").alias("naive_join_rows"),
        )
    )
    pre = orders.groupBy("o_custkey").agg(
        F.expr("SUM(CAST(o_totalprice AS DECIMAL(18,6)))").alias("rev")
    )
    pushed = (
        pre.join(customer, pre["o_custkey"] == customer["c_custkey"])
        .join(F.broadcast(nation), customer["c_nationkey"] == nation["n_nationkey"])
        .groupBy("n_name")
        .agg(
            F.expr("CAST(ROUND(SUM(rev), 2) AS DOUBLE)").alias(
                "revenue_pushed"
            ),
            F.count(F.lit(1)).cast("bigint").alias("pushed_join_rows"),
        )
    )
    return (
        naive.join(pushed, "n_name")
        .select(
            "n_name",
            "revenue_naive",
            "revenue_pushed",
            F.expr(
                "CAST(CASE WHEN revenue_naive = revenue_pushed THEN 1"
                " ELSE 0 END AS INT)"
            ).alias("identical"),
            "naive_join_rows",
            "pushed_join_rows",
            F.expr(
                "CAST((naive_join_rows - pushed_join_rows) * 1000000"
                " div naive_join_rows AS BIGINT)"
            ).alias("rows_saved_ppm"),
        )
        .orderBy("n_name")
    )
