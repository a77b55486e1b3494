"""LLM-ops wave 31: the calibration ring — is a score's PROBABILITY
meaning trustworthy?

- q329: isotonic calibration of the activity-decile conversion curve
  via the minimax window form of pool-adjacent-violators, evaluated
  exactly over all O(k²) windows on the micro grid — the monotone
  repair every ranking score gets before its output is read as a
  probability;
- q330: the out-of-sample reliability diagram + expected calibration
  error: predictions fitted on the FIRST half of the stream, scored
  on the SECOND — the honest form (in-sample reliability diagrams
  flatter every model).

Output-hardening doctrine (as waves 6-30): window averages are
truncating micro-divisions of exact integer (successes, trials)
sums; the PAV minimax then takes MAX/MIN over those INTEGER micro
rates (quantized isotonic — the grid step is 1 ppm, far below any
decision threshold, and both engines walk identical integers); ECE
is a weighted integer sum of absolute ppm gaps.

Reference parity: README.md:21's ML loop ends in a model whose
scores someone will read as probabilities; calibration is the audit
that makes that reading honest, and the reference's daily-row world
gives the natural first-half/second-half split.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

_K_BINS = 10  # activity deciles


def _sql_user_deciles(conv_filter: str) -> str:
    """Per-user (decile by activity rank, converted flag) CTE body."""
    return f"""
      u AS (
        SELECT user_id, COUNT(*) AS activity,
               MAX(CASE WHEN {conv_filter} THEN 1 ELSE 0 END) AS conv
        FROM events GROUP BY user_id
      ),
      ranked AS (
        SELECT conv,
               (ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) - 1)
                 * {_K_BINS} // COUNT(*) OVER () AS bin
        FROM u
      ),
      bins AS (
        SELECT bin, COUNT(*) AS w, SUM(conv) AS s
        FROM ranked GROUP BY bin
      )
    """


# ---------------------------------------------------------------------------
# q329 — isotonic (PAV) calibration via the exact minimax form
# ---------------------------------------------------------------------------


@query(
    "q329_isotonic_calibration",
    oracle=f"""
    WITH {_sql_user_deciles("event_type = 'purchase'")},
    idx AS (SELECT UNNEST(RANGE(0, {_K_BINS})) AS i),
    win AS (
      SELECT j.i AS j, l.i AS l,
             SUM(b.s) * 1000000 // SUM(b.w) AS avg_ppm
      FROM idx j JOIN idx l ON l.i >= j.i
      JOIN bins b ON b.bin BETWEEN j.i AND l.i
      GROUP BY j.i, l.i
    ),
    iso AS (
      SELECT i.i AS bin,
             MIN(sufmax) AS iso_ppm
      FROM idx i
      JOIN (
        SELECT w1.j, i2.i,
               MAX(w1.avg_ppm) AS sufmax
        FROM win w1 JOIN idx i2
          ON w1.j <= i2.i AND w1.l >= i2.i
        GROUP BY w1.j, i2.i
      ) sm ON sm.i = i.i AND sm.j <= i.i
      GROUP BY i.i
    )
    SELECT CAST(b.bin AS INT) AS decile,
           CAST(b.w AS BIGINT) AS n_users,
           CAST(b.s * 1000000 // b.w AS BIGINT) AS raw_rate_ppm,
           CAST(iso.iso_ppm AS BIGINT) AS iso_rate_ppm
    FROM bins b JOIN iso ON iso.bin = b.bin
    ORDER BY decile
    """,
    tags=("audit", "calibration", "isotonic", "pav"),
)
def q329_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration of the purchase rate across activity
    deciles (decile 0 = most active; the raw curve should fall as
    activity drops, and where it doesn't, the monotone fit pools the
    violators): for every decile, the raw conversion rate and the
    non-increasing isotonic fit computed by the minimax identity
    iso(i) = min over j <= i of (max over windows [j..l] through i
    of the window average) — pool-adjacent-violators without
    iteration, an O(k²)-window evaluation both engines perform on
    identical integer micro rates (each window average is one
    truncating division of exact sums; quantized isotonic on the
    1-ppm grid, and the minimax shape makes the result monotone by
    construction — asserted in the staged test). This is the repair
    layer between q323's gains curve (does ranking concentrate?)
    and reading scores as probabilities (q330 measures how
    honestly).

    Scale: the user aggregate is the one events pass; ranking runs
    over users (q323's repartitionByRange note applies at 10^9);
    everything after is k=10 bins — the O(k²) window join is 55
    rows."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("activity"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    )
    # global-window-ok: user-grain rank; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
    wr = W.orderBy(F.desc("activity"), "user_id")
    # global-window-ok: user-grain global count; shares the rank's repartitionByRange scale path (SCALE.md)
    wall = W.partitionBy()
    ranked = u.select(
        "conv",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select("conv", F.expr(f"(rn - 1) * {_K_BINS} div n").alias("bin"))
    bins = ranked.groupBy("bin").agg(
        F.count(F.lit(1)).alias("w"), F.sum("conv").alias("s")
    ).persist()
    idx = spark.range(_K_BINS).select(F.col("id").cast("bigint").alias("i"))
    j = idx.select(F.col("i").alias("j"))
    l_ = idx.select(F.col("i").alias("l"))
    win = (
        j.join(l_, F.col("l") >= F.col("j"))
        .join(
            F.broadcast(bins),
            (F.col("bin") >= F.col("j")) & (F.col("bin") <= F.col("l")),
        )
        .groupBy("j", "l")
        .agg(F.expr("SUM(s) * 1000000 div SUM(w)").alias("avg_ppm"))
    )
    i2 = idx.select(F.col("i").alias("i"))
    sufmax = (
        win.join(
            F.broadcast(i2),
            (F.col("j") <= F.col("i")) & (F.col("l") >= F.col("i")),
        )
        .groupBy("j", "i")
        .agg(F.max("avg_ppm").alias("sufmax"))
    )
    iso = (
        sufmax.filter(F.col("j") <= F.col("i"))
        .groupBy("i")
        .agg(F.min("sufmax").alias("iso_ppm"))
        .select(F.col("i").alias("bin"), "iso_ppm")
    )
    out = (
        bins.join(F.broadcast(iso), "bin")
        .select(
            F.col("bin").cast("int").alias("decile"),
            F.col("w").cast("bigint").alias("n_users"),
            F.expr("CAST(s * 1000000 div w AS BIGINT)").alias("raw_rate_ppm"),
            F.col("iso_ppm").cast("bigint").alias("iso_rate_ppm"),
        )
        .orderBy("decile")
    )

    return out


# ---------------------------------------------------------------------------
# q330 — out-of-sample reliability diagram + ECE
# ---------------------------------------------------------------------------

_SPLIT_DAY = "2024-01-16"


@query(
    "q330_reliability_ece",
    oracle=f"""
    WITH pre AS (
      SELECT user_id, COUNT(*) AS activity
      FROM events WHERE CAST(ts AS DATE) < DATE '{_SPLIT_DAY}'
      GROUP BY user_id
    ),
    post AS (
      SELECT user_id,
             SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS p,
             COUNT(*) AS e
      FROM events WHERE CAST(ts AS DATE) >= DATE '{_SPLIT_DAY}'
      GROUP BY user_id
    ),
    both_ AS (
      SELECT user_id, pre.activity, post.p, post.e
      FROM pre JOIN post USING (user_id)
    ),
    ranked AS (
      SELECT p, e,
             (ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) - 1)
               * {_K_BINS} // COUNT(*) OVER () AS bin
      FROM both_
    ),
    folds AS (
      SELECT bin, COUNT(*) AS w, SUM(p) AS s, SUM(e) AS t
      FROM ranked GROUP BY bin
    ),
    pred AS (
      -- the null instrument: one flat base-rate prediction for every
      -- bin; a real model's per-bin scores slot in here unchanged
      SELECT SUM(s) * 1000000 // SUM(t) AS base_ppm FROM folds
    )
    SELECT CAST(f.bin AS INT) AS bin,
           CAST(f.w AS BIGINT) AS n_users,
           CAST(p.base_ppm AS BIGINT) AS predicted_ppm,
           CAST(f.s * 1000000 // f.t AS BIGINT) AS actual_ppm,
           CAST(ABS(f.s * 1000000 // f.t - p.base_ppm) AS BIGINT)
             AS gap_ppm,
           CAST((SELECT SUM(ABS(s * 1000000 // t - p.base_ppm) * w)
                        // SUM(w)
                 FROM folds) AS BIGINT) AS ece_ppm
    FROM folds f CROSS JOIN pred p
    ORDER BY bin
    """,
    tags=("audit", "calibration", "ece", "reliability"),
)
def q330_reliability_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Out-of-sample reliability diagram: users binned into deciles
    by FIRST-half activity, their SECOND-half purchase SHARE
    (purchases per event — a rate that cannot saturate the way the
    any-purchase flag does on hyperactive fixtures) per bin,
    each compared against the flat base-rate predictor, with the
    weighted expected calibration error (ECE, ppm) repeated on every
    row — the table that shows exactly where "predict the average"
    miscalibrates: high-activity bins convert above base, low-activity bins
    below, and the per-bin gap IS the value a real per-bin model
    would add. The deliberately simple predictor makes the audit a
    NULL INSTRUMENT: swap in any model's scores and the same query
    prices its calibration. Train/eval separation is temporal
    (first half fits, second half scores) — in-sample reliability
    diagrams flatter every model, which is the q261 leakage lesson
    applied to calibration.

    Scale: two filtered user aggregates + a user join; ranking runs
    over users; the diagram is k=10 rows."""
    ev = load(spark, sf_dir, "events")
    pre = (
        ev.filter(F.to_date("ts") < F.lit(_SPLIT_DAY).cast("date"))
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("activity"))
    )
    post = (
        ev.filter(F.to_date("ts") >= F.lit(_SPLIT_DAY).cast("date"))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.col("event_type") == "purchase", 1).otherwise(0)
            ).alias("p"),
            F.count(F.lit(1)).alias("e"),
        )
    )
    both_ = pre.join(post, "user_id").select("user_id", "activity", "p", "e")
    # global-window-ok: user-grain rank; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
    wr = W.orderBy(F.desc("activity"), "user_id")
    # global-window-ok: user-grain global count; shares the rank's repartitionByRange scale path (SCALE.md)
    wall = W.partitionBy()
    ranked = both_.select(
        "p",
        "e",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wall).alias("n"),
    ).select("p", "e", F.expr(f"(rn - 1) * {_K_BINS} div n").alias("bin"))
    folds = ranked.groupBy("bin").agg(
        F.count(F.lit(1)).alias("w"),
        F.sum("p").alias("s"),
        F.sum("e").alias("t"),
    ).persist()
    pred = folds.agg(
        F.expr("SUM(s) * 1000000 div SUM(t)").alias("base_ppm")
    )
    ece = folds.crossJoin(F.broadcast(pred)).agg(
        F.expr(
            "SUM(ABS(s * 1000000 div t - base_ppm) * w) div SUM(w)"
        ).alias("ece_ppm")
    )
    out = (
        folds.crossJoin(F.broadcast(pred))
        .crossJoin(F.broadcast(ece))
        .select(
            F.col("bin").cast("int"),
            F.col("w").cast("bigint").alias("n_users"),
            F.col("base_ppm").cast("bigint").alias("predicted_ppm"),
            F.expr("CAST(s * 1000000 div t AS BIGINT)").alias("actual_ppm"),
            F.expr(
                "CAST(ABS(s * 1000000 div t - base_ppm) AS BIGINT)"
            ).alias("gap_ppm"),
            F.col("ece_ppm").cast("bigint"),
        )
        .orderBy("bin")
    )

    return out
