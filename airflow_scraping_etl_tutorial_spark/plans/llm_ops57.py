"""LLM-ops wave 58: join economics, count-process diagnostics, and
behavioral co-occurrence —

- q414: join fan-out audit — children-per-parent distribution for
  every FK edge (mean/max fan-out, parents with zero children); the
  join-explosion forecast that q385's orphan audit doesn't cover
  (a clean FK can still fan a join out 7x).
- q415: overdispersion audit — variance-to-mean ratio of daily
  counts per event type with the exact dispersion chi-square
  ((n-1)*s^2/mean vs its chi-square df); Poisson-looking traffic has
  VMR ~ 1, bursty traffic >> 1 — the diagnostic that picks between
  Poisson and negative-binomial alerting thresholds.
- q416: event-type co-occurrence lift — the type x type matrix of
  user-day co-occurrence vs independence; which behaviors actually
  travel together within a day, the behavioral twin of q402's
  source matrix.

Output-hardening doctrine (as waves 6-57): fan-outs and VMRs are
exact integer rationals truncated once (n*S2 - S1^2 variance lanes,
q391 doctrine, but WITHOUT the sqrt — VMR needs none); lift is the
ratio of truncated ppms with -1 zero-guards (q402 doctrine); all
matrices materialize zero cells from grids.

Reference parity: the reference's one-table loads join against
dimensions (q414 prices those joins), its daily row count is the
count process q415 diagnoses, and q416 is the cross-sell readout of
any event log it would ever host.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q414 — join fan-out audit
# ---------------------------------------------------------------------------

# (edge label, child table, fk column, parent table, pk column) — the
# same seven edges as q385, priced for fan-out instead of orphans.
FANOUT_EDGES: tuple[tuple[str, str, str, str, str], ...] = (
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
)


def _sql_fanout_edge(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
      SELECT '{label}' AS edge,
             CAST((SELECT COUNT(*) FROM {parent}) AS BIGINT) AS n_parents,
             CAST(COUNT(*) AS BIGINT) AS matched_parents,
             CAST(COALESCE(SUM(fan), 0) AS BIGINT) AS n_children,
             CAST(COALESCE(MAX(fan), 0) AS BIGINT) AS max_fanout
      FROM (
        SELECT {fk} AS key, COUNT(*) AS fan FROM {child}
        WHERE {fk} IS NOT NULL GROUP BY 1
      ) f
      JOIN (SELECT DISTINCT {pk} AS key FROM {parent}) p ON p.key = f.key"""


@query(
    "q414_join_fanout_audit",
    oracle="WITH edges AS ("
    + "\n      UNION ALL".join(_sql_fanout_edge(*e) for e in FANOUT_EDGES)
    + """
    )
    SELECT edge, n_parents, matched_parents, n_children, max_fanout,
           CAST(n_children * 1000000 // n_parents AS BIGINT)
             AS mean_fanout_micro,
           CAST((n_parents - matched_parents) * 1000000 // n_parents
                AS BIGINT) AS childless_ppm
    FROM edges ORDER BY edge
    """,
    tags=("llm", "planner", "join", "fan-out"),
)
def q414_join_fanout_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-explosion forecast: for each FK edge, the
    children-per-parent distribution — mean fan-out in micro (over
    ALL parents, so childless parents dilute it honestly), the max
    fan-out (the row multiplier a join on this edge can hit), and the
    childless-parent share (rows an inner join DROPS — the dual of
    q385's orphans). mean x parent-count sizes every join's output
    exactly; max bounds its skew. These two numbers decide broadcast
    vs sort-merge vs salting before any stage runs.

    Scale: per edge, one key-grain child aggregate semi-joined to
    the distinct parent keys and collapsed to a 1-row summary —
    key-only passes like q385."""
    rows = []
    for label, child, fk, parent, pk in FANOUT_EDGES:
        c = (
            load(spark, sf_dir, child)
            .select(F.col(fk).alias("key"))
            .filter(F.col("key").isNotNull())
            .groupBy("key")
            .agg(F.count(F.lit(1)).alias("fan"))
        )
        p = load(spark, sf_dir, parent).select(F.col(pk).alias("key")).distinct()
        np_ = p.agg(F.count(F.lit(1)).cast("bigint").alias("n_parents"))
        rows.append(
            c.join(p, "key", "left_semi")
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("matched_parents"),
                F.coalesce(F.sum("fan"), F.lit(0))
                .cast("bigint")
                .alias("n_children"),
                F.coalesce(F.max("fan"), F.lit(0))
                .cast("bigint")
                .alias("max_fanout"),
            )
            .crossJoin(F.broadcast(np_))
            .select(
                F.lit(label).alias("edge"),
                "n_parents",
                "matched_parents",
                "n_children",
                "max_fanout",
            )
        )
    stacked = rows[0]
    for r in rows[1:]:
        stacked = stacked.unionByName(r)
    return stacked.select(
        "edge",
        "n_parents",
        "matched_parents",
        "n_children",
        "max_fanout",
        F.expr("CAST(n_children * 1000000 div n_parents AS BIGINT)").alias(
            "mean_fanout_micro"
        ),
        F.expr(
            "CAST((n_parents - matched_parents) * 1000000 div n_parents"
            " AS BIGINT)"
        ).alias("childless_ppm"),
    ).orderBy("edge")


# ---------------------------------------------------------------------------
# q415 — overdispersion audit
# ---------------------------------------------------------------------------


@query(
    "q415_overdispersion_audit",
    oracle="""
    WITH daily AS (
      SELECT event_type,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    mom AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(c) AS BIGINT) AS s1,
             CAST(SUM(c * c) AS BIGINT) AS s2
      FROM daily GROUP BY event_type
    )
    SELECT event_type, n AS n_days,
           CAST(s1 * 1000000 // n AS BIGINT) AS mean_micro,
           CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                * 1000000
                // (CAST(s1 AS HUGEINT) * (n - 1)) AS BIGINT) AS vmr_micro,
           CAST((CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1)
                // s1 AS BIGINT) AS dispersion_stat,
           CAST(CASE WHEN (CAST(n AS HUGEINT) * s2
                           - CAST(s1 AS HUGEINT) * s1) // s1
                          > 2 * (n - 1) THEN 1 ELSE 0 END AS INT)
             AS overdispersed
    FROM mom ORDER BY event_type
    """,
    tags=("llm", "monitoring", "overdispersion", "poisson"),
)
def q415_overdispersion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-process diagnosis: per event type, the variance-to-mean
    ratio of daily counts as the exact rational
    (n*S2 - S1^2) / (S1*(n-1)) in micro (sample variance over mean —
    no sqrt needed, the q391 moment lanes without the concession),
    and the dispersion statistic (n-1)*s^2/mean = (n*S2 - S1^2)/S1,
    which under Poisson is chi-square with n-1 df — flagged
    overdispersed past the coarse 2x-df bound. VMR ~ 1e6 means
    Poisson alerting thresholds are honest; VMR >> 1e6 means bursts,
    and a negative-binomial (or q390's MAD) monitor is the right
    one.

    Scale: day-grain aggregate, then 1-row-per-type integer moment
    arithmetic."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        "event_type",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    mom = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("s1"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
    )
    return mom.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.expr("CAST(s1 * 1000000 div n AS BIGINT)").alias("mean_micro"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0))"
            " * s1) * 1000000 div (CAST(s1 AS DECIMAL(38,0)) * (n - 1))"
            " AS BIGINT)"
        ).alias("vmr_micro"),
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * s2 - CAST(s1 AS DECIMAL(38,0))"
            " * s1) div s1 AS BIGINT)"
        ).alias("dispersion_stat"),
        F.expr(
            "CAST(CASE WHEN (CAST(n AS DECIMAL(38,0)) * s2"
            " - CAST(s1 AS DECIMAL(38,0)) * s1) div s1 > 2 * (n - 1)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("overdispersed"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q416 — event-type co-occurrence lift
# ---------------------------------------------------------------------------


@query(
    "q416_event_cooccurrence_lift",
    oracle="""
    WITH ud AS (
      SELECT DISTINCT user_id,
             DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             event_type
      FROM events
    ),
    n1 AS (
      SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n FROM ud
    ),
    per_type AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS c FROM ud
      GROUP BY event_type
    ),
    pairs AS (
      SELECT a.event_type AS type_a, b.event_type AS type_b,
             CAST(COUNT(*) AS BIGINT) AS together
      FROM ud a
      JOIN ud b ON b.user_id = a.user_id AND b.day = a.day
                AND a.event_type < b.event_type
      GROUP BY 1, 2
    ),
    grid AS (
      SELECT x.event_type AS type_a, y.event_type AS type_b,
             x.c AS ca, y.c AS cb
      FROM per_type x JOIN per_type y ON x.event_type < y.event_type
    )
    SELECT g.type_a, g.type_b,
           COALESCE(p.together, 0) AS together,
           CAST(COALESCE(p.together, 0) * 1000000 // n1.n AS BIGINT)
             AS obs_ppm,
           CAST(CAST(g.ca AS HUGEINT) * g.cb * 1000000
                // (CAST(n1.n AS HUGEINT) * n1.n) AS BIGINT) AS exp_ppm,
           CAST(CASE WHEN CAST(g.ca AS HUGEINT) * g.cb * 1000000
                          // (CAST(n1.n AS HUGEINT) * n1.n) = 0 THEN -1
                ELSE (COALESCE(p.together, 0) * 1000000 // n1.n) * 1000000
                     // (CAST(g.ca AS HUGEINT) * g.cb * 1000000
                         // (CAST(n1.n AS HUGEINT) * n1.n))
                END AS BIGINT) AS lift_ppm
    FROM grid g
    LEFT JOIN pairs p ON p.type_a = g.type_a AND p.type_b = g.type_b
    CROSS JOIN n1
    ORDER BY g.type_a, g.type_b
    """,
    tags=("llm", "behavior", "co-occurrence", "lift"),
)
def q416_event_cooccurrence_lift(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Behavioral co-occurrence: the (user, day) baskets of event
    types, every unordered type pair's observed share of baskets vs
    the independence expectation ca*cb/n^2, and the lift (ratio of
    truncated ppms, -1 zero-guard — q402's matrix arithmetic on
    behavior instead of provenance). Lift > 1e6 names type pairs
    that travel together within a day (cross-sell / funnel
    adjacency); < 1e6 names substitutes. The basket grain is the
    (user, day) distinct-collapse, so heavy users don't dominate the
    matrix.

    Scale: one distinct-collapse to (user, day, type), a per-type
    count, and a basket self-join bounded by types-per-basket (<= 5)
    — the same bounded-fan-out economics as q164/q404."""
    events = load(spark, sf_dir, "events")
    ud = events.select(
        "user_id",
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day"),
        "event_type",
    ).distinct().persist()
    n1 = (
        ud.select("user_id", "day")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    per_type = ud.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    pairs = (
        ud.alias("a")
        .join(
            ud.alias("b"),
            (F.col("b.user_id") == F.col("a.user_id"))
            & (F.col("b.day") == F.col("a.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("together"))
    )
    grid = (
        per_type.select(F.col("event_type").alias("type_a"), F.col("c").alias("ca"))
        .join(
            per_type.select(
                F.col("event_type").alias("type_b"), F.col("c").alias("cb")
            ),
            F.col("type_a") < F.col("type_b"),
        )
    )
    out = (
        grid.join(pairs, ["type_a", "type_b"], "left")
        .crossJoin(F.broadcast(n1))
        .select(
            "type_a",
            "type_b",
            F.coalesce(F.col("together"), F.lit(0))
            .cast("bigint")
            .alias("together"),
            F.expr(
                "CAST(COALESCE(together, 0) * 1000000 div n AS BIGINT)"
            ).alias("obs_ppm"),
            F.expr(
                "CAST(CAST(ca AS DECIMAL(38,0)) * cb * 1000000"
                " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
            ).alias("exp_ppm"),
        )
        .select(
            "type_a",
            "type_b",
            "together",
            "obs_ppm",
            "exp_ppm",
            F.expr(
                "CAST(CASE WHEN exp_ppm = 0 THEN -1"
                " ELSE CAST(obs_ppm AS DECIMAL(38,0)) * 1000000 div exp_ppm"
                " END AS BIGINT)"
            ).alias("lift_ppm"),
        )
        .orderBy("type_a", "type_b")
    )
    return out
