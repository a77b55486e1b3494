"""LLM-ops wave 59: causal direction checks, diversity metrics, and
capacity windows —

- q417: Simpson reversal detector — per activity stratum, the SIGN
  of the treatment-control conversion gap beside the pooled sign,
  with the reversal flag; the one-table answer to "does the
  aggregate direction survive stratification" (named after the
  paradox everyone quotes and nobody checks).
- q418: effective event-type variety — per user, the inverse-Simpson
  "effective number of event types" n^2/sum(c^2) in exact micro (the
  log-free diversity index), histogrammed by width class with the
  population mean; distinguishes broad users from one-note users
  without an entropy logarithm.
- q419: peak-window concentration — the best 4 consecutive hours
  (circular over the 24-hour clock) per event type and their share
  of traffic; where the batch window does NOT belong.

Output-hardening doctrine (as waves 6-58): all signs come from
integer cross-multiplications (never from subtracting truncated
rates); inverse-Simpson is one truncating micro division of exact
square sums; the circular hour windows are a 24-row unrolled grid
(start hour x 4 offsets, mod 24), earliest-start tiebreak.

Reference parity: the reference's buy-minus-sell direction per
investor class is exactly q417's question; q419 schedules its daily
batch around the market's q419 peak.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q417 — Simpson reversal detector
# ---------------------------------------------------------------------------


@query(
    "q417_simpson_reversal",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_sql_gate("user_id", ":exp2")} AS t,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(LENGTH(BIN(n_events)) AS BIGINT) AS stratum, t, conv
      FROM u
    ),
    per AS (
      SELECT stratum,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(t * conv) AS BIGINT) AS c_t,
             CAST(SUM(1 - t) AS BIGINT) AS n_c,
             CAST(SUM((1 - t) * conv) AS BIGINT) AS c_c
      FROM s GROUP BY stratum
    ),
    pooled AS (
      SELECT CAST(SUM(n_t) AS BIGINT) AS n_t, CAST(SUM(c_t) AS BIGINT) AS c_t,
             CAST(SUM(n_c) AS BIGINT) AS n_c, CAST(SUM(c_c) AS BIGINT) AS c_c
      FROM per
    )
    SELECT p.stratum, p.n_t, p.c_t, p.n_c, p.c_c,
           CAST(CASE WHEN p.c_t * p.n_c > p.c_c * p.n_t THEN 1
                     WHEN p.c_t * p.n_c < p.c_c * p.n_t THEN -1 ELSE 0 END
                AS INT) AS stratum_sign,
           CAST(CASE WHEN g.c_t * g.n_c > g.c_c * g.n_t THEN 1
                     WHEN g.c_t * g.n_c < g.c_c * g.n_t THEN -1 ELSE 0 END
                AS INT) AS pooled_sign,
           CAST(CASE WHEN p.n_t > 0 AND p.n_c > 0
                      AND (CASE WHEN p.c_t * p.n_c > p.c_c * p.n_t THEN 1
                                WHEN p.c_t * p.n_c < p.c_c * p.n_t THEN -1
                                ELSE 0 END)
                        * (CASE WHEN g.c_t * g.n_c > g.c_c * g.n_t THEN 1
                                WHEN g.c_t * g.n_c < g.c_c * g.n_t THEN -1
                                ELSE 0 END) = -1
                THEN 1 ELSE 0 END AS INT) AS reversed
    FROM per p CROSS JOIN pooled g
    ORDER BY p.stratum
    """,
    tags=("llm", "causal", "simpson", "stratification"),
)
def q417_simpson_reversal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Simpson's-paradox scan: user conversion (any purchase) by the
    md5 ':exp2' arm, per activity width-class stratum (the q364
    buckets) — each row carries the stratum's 2x2 counts, the SIGN
    of its conversion-rate gap (integer cross-multiplication
    c_t*n_c vs c_c*n_t — no truncated rates are ever subtracted),
    the pooled sign, and the reversal flag (opposite non-zero
    signs). A null md5 assignment flips small-stratum signs freely
    while the pooled sign hovers at zero lift — which is exactly the
    calibration: any SYSTEMATIC reversal pattern in a real
    assignment means the stratification variable is a confounder and
    q364/q366's adjusted numbers, not the pooled one, are the truth.

    Scale: user-grain aggregate, stratum-grain 2x2s, one pooled
    broadcast — the q364 economics with a sign readout."""
    events = load(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(F.expr("CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("conv"),
    ).select(
        _spark_gate("user_id", ":exp2").alias("t"),
        F.length(F.bin("n_events")).cast("bigint").alias("stratum"),
        "conv",
    )
    per = u.groupBy("stratum").agg(
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(F.expr("t * conv")).cast("bigint").alias("c_t"),
        F.sum(F.expr("1 - t")).cast("bigint").alias("n_c"),
        F.sum(F.expr("(1 - t) * conv")).cast("bigint").alias("c_c"),
    ).persist()
    pooled = per.agg(
        F.sum("n_t").cast("bigint").alias("g_nt"),
        F.sum("c_t").cast("bigint").alias("g_ct"),
        F.sum("n_c").cast("bigint").alias("g_nc"),
        F.sum("c_c").cast("bigint").alias("g_cc"),
    )
    out = (
        per.crossJoin(F.broadcast(pooled))
        .select(
            "stratum",
            "n_t",
            "c_t",
            "n_c",
            "c_c",
            F.expr(
                "CAST(CASE WHEN c_t * n_c > c_c * n_t THEN 1"
                " WHEN c_t * n_c < c_c * n_t THEN -1 ELSE 0 END AS INT)"
            ).alias("stratum_sign"),
            F.expr(
                "CAST(CASE WHEN g_ct * g_nc > g_cc * g_nt THEN 1"
                " WHEN g_ct * g_nc < g_cc * g_nt THEN -1 ELSE 0 END AS INT)"
            ).alias("pooled_sign"),
        )
        .select(
            "*",
            F.expr(
                "CAST(CASE WHEN n_t > 0 AND n_c > 0"
                " AND stratum_sign * pooled_sign = -1 THEN 1 ELSE 0 END"
                " AS INT)"
            ).alias("reversed"),
        )
        .orderBy("stratum")
    )
    return out


# ---------------------------------------------------------------------------
# q418 — effective event-type variety (inverse Simpson)
# ---------------------------------------------------------------------------


@query(
    "q418_user_effective_variety",
    oracle="""
    WITH ut AS (
      SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    per_user AS (
      SELECT user_id,
             CAST(SUM(c) AS BIGINT) AS n,
             CAST(SUM(c * c) AS BIGINT) AS s2,
             CAST(COUNT(*) AS BIGINT) AS n_types
      FROM ut GROUP BY user_id
    ),
    scored AS (
      SELECT user_id, n, n_types,
             CAST(CAST(n AS HUGEINT) * n * 1000000 // s2 AS BIGINT)
               AS d_micro
      FROM per_user
    )
    SELECT CAST(d_micro // 1000000 AS BIGINT) AS variety_floor,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_types) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_raw_types_micro,
           CAST(SUM(d_micro) // COUNT(*) AS BIGINT) AS mean_d_micro,
           CAST(MIN(d_micro) AS BIGINT) AS min_d_micro,
           CAST(MAX(d_micro) AS BIGINT) AS max_d_micro
    FROM scored GROUP BY 1 ORDER BY variety_floor
    """,
    tags=("llm", "behavior", "diversity", "simpson-index"),
)
def q418_user_effective_variety(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Log-free behavioral diversity: per user, the inverse-Simpson
    effective number of event types D = n^2 / sum(c_type^2) in exact
    micro (D = 5e6 means the user's mix behaves like 5 equally-used
    types; a one-note user scores ~1e6 however many types they
    touched once) — the diversity index that needs no entropy
    logarithm, so it stays in the integer lanes. Users are grouped
    by floor(D) with raw type counts beside the effective ones; the
    gap between mean raw types and mean D is exactly how much of the
    apparent variety is token usage.

    Scale: (user, type) aggregate, user-grain square sums, one
    truncating division per user, a <=6-row floor(D) rollup."""
    events = load(spark, sf_dir, "events")
    ut = events.groupBy("user_id", "event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    per_user = ut.groupBy("user_id").agg(
        F.sum("c").cast("bigint").alias("n"),
        F.sum(F.expr("c * c")).cast("bigint").alias("s2"),
        F.count(F.lit(1)).cast("bigint").alias("n_types"),
    )
    scored = per_user.select(
        "n_types",
        F.expr(
            "CAST(CAST(n AS DECIMAL(38,0)) * n * 1000000 div s2 AS BIGINT)"
        ).alias("d_micro"),
    )
    return (
        scored.groupBy(
            F.expr("CAST(d_micro div 1000000 AS BIGINT)").alias(
                "variety_floor"
            )
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.expr(
                "CAST(SUM(n_types) * 1000000 div COUNT(1) AS BIGINT)"
            ).alias("mean_raw_types_micro"),
            F.expr("CAST(SUM(d_micro) div COUNT(1) AS BIGINT)").alias(
                "mean_d_micro"
            ),
            F.min("d_micro").cast("bigint").alias("min_d_micro"),
            F.max("d_micro").cast("bigint").alias("max_d_micro"),
        )
        .orderBy("variety_floor")
    )


# ---------------------------------------------------------------------------
# q419 — peak-window concentration
# ---------------------------------------------------------------------------

_PEAK_HOURS = 4


@query(
    "q419_peak_window_share",
    oracle=f"""
    WITH hourly AS (
      SELECT event_type, CAST(EXTRACT(HOUR FROM ts) AS BIGINT) AS h,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    n1 AS (
      SELECT event_type, CAST(SUM(c) AS BIGINT) AS n FROM hourly
      GROUP BY event_type
    ),
    starts AS (
      SELECT UNNEST(RANGE(0, 24)) AS start_h
    ),
    windows AS (
      SELECT s.start_h, t.event_type,
             CAST(COALESCE(SUM(h.c), 0) AS BIGINT) AS w
      FROM starts s
      CROSS JOIN (SELECT DISTINCT event_type FROM hourly) t
      LEFT JOIN hourly h ON h.event_type = t.event_type
                        AND ((h.h - s.start_h + 24) % 24) < {_PEAK_HOURS}
      GROUP BY s.start_h, t.event_type
    ),
    best AS (
      SELECT w.event_type, CAST(MAX(w.w) AS BIGINT) AS peak_events
      FROM windows w GROUP BY w.event_type
    ),
    at_best AS (
      SELECT w.event_type, CAST(MIN(w.start_h) AS BIGINT) AS peak_start_h
      FROM windows w JOIN best b ON b.event_type = w.event_type
                                AND w.w = b.peak_events
      GROUP BY w.event_type
    )
    SELECT b.event_type, a.peak_start_h, b.peak_events, n1.n AS n_events,
           CAST(b.peak_events * 1000000 // n1.n AS BIGINT) AS peak_share_ppm,
           CAST({_PEAK_HOURS} * 1000000 // 24 AS BIGINT) AS flat_share_ppm
    FROM best b
    JOIN at_best a ON a.event_type = b.event_type
    JOIN n1 ON n1.event_type = b.event_type
    ORDER BY b.event_type
    """,
    tags=("llm", "capacity", "peak", "seasonality"),
)
def q419_peak_window_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Capacity-window scan: for each event type, the best
    {_PEAK_HOURS} CONSECUTIVE hours on the circular 24-hour clock
    (all 24 candidate windows scored via the (h - start + 24) %% 24
    trick — the modular unroll that makes a circular window a flat
    grid join) and that window's share of traffic vs the flat-clock
    {_PEAK_HOURS}/24 baseline. Earliest peak start wins ties. A
    share near the baseline (this fixture's uniform clock) says the
    batch window can go anywhere; a concentrated one names the hours
    to avoid — the capacity question behind every maintenance-window
    calendar.

    Scale: hour-grain aggregate (24 x |types| rows), a 24-start grid
    join on that frame, type-grain argmax — nothing touches row
    grain after the first groupBy."""
    events = load(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type", F.hour("ts").cast("bigint").alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c")).persist()
    n1 = hourly.groupBy("event_type").agg(
        F.sum("c").cast("bigint").alias("n")
    )
    starts = load(spark, sf_dir, "events").sparkSession.createDataFrame(
        [(h,) for h in range(24)], "start_h long"
    )
    types = hourly.select("event_type").distinct()
    windows = (
        F.broadcast(starts)
        .crossJoin(types)
        .join(
            hourly.select(
                F.col("event_type").alias("et"), "h", "c"
            ),
            (F.col("et") == F.col("event_type"))
            & (((F.col("h") - F.col("start_h") + 24) % 24) < _PEAK_HOURS),
            "left",
        )
        .groupBy("start_h", "event_type")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("w"))
    ).persist()
    best = windows.groupBy("event_type").agg(
        F.max("w").cast("bigint").alias("peak_events")
    )
    at_best = (
        windows.join(best, "event_type")
        .filter(F.col("w") == F.col("peak_events"))
        .groupBy("event_type")
        .agg(F.min("start_h").cast("bigint").alias("peak_start_h"))
    )
    out = (
        best.join(at_best, "event_type")
        .join(n1, "event_type")
        .select(
            "event_type",
            "peak_start_h",
            "peak_events",
            F.col("n").alias("n_events"),
            F.expr("CAST(peak_events * 1000000 div n AS BIGINT)").alias(
                "peak_share_ppm"
            ),
            F.lit(_PEAK_HOURS * 1_000_000 // 24).cast("bigint").alias(
                "flat_share_ppm"
            ),
        )
        .orderBy("event_type")
    )
    return out
