"""LLM-ops wave 57: interpretable ML primitives, shuffle planning, and
SRE error budgets —

- q411: decision stump — the best single width-class threshold on
  document length for predicting English, chosen by exact Gini
  impurity gain; the interpretable-baseline primitive (and the
  split-quality arithmetic inside every tree learner), done in
  integer rationals.
- q412: hash-partition balance — md5-hash user_id into 32/128/512
  partitions and report max:mean skew per width; the forecaster for
  "will raising spark.sql.shuffle.partitions actually help, or is
  one key hot" — answered from data, not from a stuck stage.
- q413: error-budget burn — the error-event share per rolling 7-day
  window against a 5% budget, with the worst window named; the SRE
  burn-rate table over the event stream.

Output-hardening doctrine (as waves 6-56): Gini impurities are exact
(n^2 - sum c^2)/n^2 rationals compared CROSS-MULTIPLIED (the best
split is chosen without a single division; reported values truncate
once to micro); partition skew is max*P*1e6//n; burn rates are
truncating ppm over exact day-grain sums with earliest-window
tiebreaks.

Reference parity: the reference's ops runbook is q413; its loader's
shuffle sizing is q412; q411 is the one-rule baseline any
classification claim over its data must beat.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q411 — decision stump by exact Gini gain
# ---------------------------------------------------------------------------


@query(
    "q411_decision_stump",
    oracle="""
    WITH d AS (
      SELECT CAST(LENGTH(BIN(GREATEST(n_chars, 1))) AS BIGINT) AS w,
             CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y
      FROM documents
    ),
    wg AS (
      SELECT w, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS pos
      FROM d GROUP BY w
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS n, CAST(SUM(pos) AS BIGINT) AS pos
      FROM wg
    ),
    cum AS (
      SELECT w,
             CAST(SUM(n) OVER (ORDER BY w) AS BIGINT) AS nl,
             CAST(SUM(pos) OVER (ORDER BY w) AS BIGINT) AS pl
      FROM wg
    ),
    splits AS (
      SELECT c.w AS threshold_w, c.nl, c.pl,
             t.n - c.nl AS nr, t.pos - c.pl AS pr, t.n, t.pos
      FROM cum c CROSS JOIN tot t
      WHERE c.nl > 0 AND t.n - c.nl > 0
    ),
    scored AS (
      -- weighted Gini numerator over common denominator n*nl*nr:
      -- smaller is better; kept as exact integers for the argmin
      SELECT threshold_w, nl, pl, nr, pr, n, pos,
             CAST(nr * (2 * CAST(pl AS HUGEINT) * (nl - pl))
                  + nl * (2 * CAST(pr AS HUGEINT) * (nr - pr)) AS HUGEINT)
               AS num,
             CAST(CAST(nl AS HUGEINT) * nr AS HUGEINT) AS den
      FROM splits
    ),
    best AS (
      SELECT s.* FROM scored s
      JOIN (
        SELECT MIN(num * 1000000 // den) AS m FROM scored
      ) b ON s.num * 1000000 // s.den = b.m
      ORDER BY s.threshold_w LIMIT 1
    )
    SELECT CAST(threshold_w AS BIGINT) AS threshold_w,
           nl AS n_left, CAST(pl AS BIGINT) AS pos_left,
           CAST(nr AS BIGINT) AS n_right, CAST(pr AS BIGINT) AS pos_right,
           CAST(2 * CAST(pos AS HUGEINT) * (n - pos) * 1000000
                // (CAST(n AS HUGEINT) * n) AS BIGINT) AS gini_before_micro,
           CAST(num * 1000000 // (den * n) AS BIGINT) AS gini_after_micro,
           CAST((CASE WHEN 2 * pl >= nl THEN pl ELSE nl - pl END
                 + CASE WHEN 2 * pr >= nr THEN pr ELSE nr - pr END)
                * 1000000 // n AS BIGINT) AS accuracy_ppm
    FROM best
    """,
    tags=("llm", "ml", "decision-stump", "gini"),
)
def q411_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-rule baseline: the best split `length-width <= t` for
    predicting lang = 'en', chosen by exact weighted Gini impurity —
    candidates are the log2 width classes (value grain, tens of
    rows), the weighted impurity is the integer rational
    (nr*2*pl*(nl-pl) + nl*2*pr*(nr-pr)) / (n*nl*nr), and the argmin
    compares the micro-truncated numerators (earliest threshold
    tiebreak). The output row carries the split's contingency, the
    before/after Gini in micro, and the majority-vote accuracy — the
    floor every fancier classifier over this corpus must clear, and
    the exact split-quality arithmetic a distributed tree learner
    runs per feature per node.

    Scale: one scan to width grain; cumulative over the width-class
    frame; all scoring on tens of candidate rows."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
        .cast("bigint")
        .alias("w"),
        F.expr("CASE WHEN lang = 'en' THEN 1 ELSE 0 END").alias("y"),
    )
    wg = d.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    tot = wg.agg(
        F.sum("n").cast("bigint").alias("tn"),
        F.sum("pos").cast("bigint").alias("tpos"),
    )
    # global-window-ok: width-class frame, tens of rows
    ww = W.orderBy("w")
    cum = wg.select(
        "w",
        F.sum("n").over(ww).cast("bigint").alias("nl"),
        F.sum("pos").over(ww).cast("bigint").alias("pl"),
    )
    splits = (
        cum.crossJoin(F.broadcast(tot))
        .filter((F.col("nl") > 0) & (F.col("tn") - F.col("nl") > 0))
        .select(
            F.col("w").alias("threshold_w"),
            "nl",
            "pl",
            (F.col("tn") - F.col("nl")).alias("nr"),
            (F.col("tpos") - F.col("pl")).alias("pr"),
            F.col("tn").alias("n"),
            F.col("tpos").alias("pos"),
        )
    )
    scored = splits.select(
        "*",
        F.expr(
            "CAST(nr * (2 * CAST(pl AS DECIMAL(38,0)) * (nl - pl))"
            " + nl * (2 * CAST(pr AS DECIMAL(38,0)) * (nr - pr))"
            " AS DECIMAL(38,0))"
        ).alias("num"),
        F.expr("CAST(CAST(nl AS DECIMAL(38,0)) * nr AS DECIMAL(38,0))").alias(
            "den"
        ),
    ).persist()
    m = scored.agg(
        F.min(F.expr("num * 1000000 div den")).alias("m")
    )
    best = (
        scored.crossJoin(F.broadcast(m))
        .filter(F.expr("num * 1000000 div den = m"))
        .orderBy("threshold_w")
        .limit(1)
    )
    out = best.select(
        F.col("threshold_w").cast("bigint").alias("threshold_w"),
        F.col("nl").alias("n_left"),
        F.col("pl").cast("bigint").alias("pos_left"),
        F.col("nr").cast("bigint").alias("n_right"),
        F.col("pr").cast("bigint").alias("pos_right"),
        F.expr(
            "CAST(2 * CAST(pos AS DECIMAL(38,0)) * (n - pos) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)"
        ).alias("gini_before_micro"),
        F.expr("CAST(num * 1000000 div (den * n) AS BIGINT)").alias(
            "gini_after_micro"
        ),
        F.expr(
            "CAST((CASE WHEN 2 * pl >= nl THEN pl ELSE nl - pl END"
            " + CASE WHEN 2 * pr >= nr THEN pr ELSE nr - pr END)"
            " * 1000000 div n AS BIGINT)"
        ).alias("accuracy_ppm"),
    )
    return out


# ---------------------------------------------------------------------------
# q412 — hash-partition balance forecaster
# ---------------------------------------------------------------------------

_PART_WIDTHS = (32, 128, 512)
_PW_VALUES = ", ".join(f"({p})" for p in _PART_WIDTHS)


@query(
    "q412_hash_partition_balance",
    oracle=f"""
    WITH keyed AS (
      SELECT CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR) || ':shuf'),
                          1, 15) AS BIGINT) AS h
      FROM events
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    widths(p) AS (VALUES {_PW_VALUES}),
    loads AS (
      SELECT w.p, k.h % w.p AS part, CAST(COUNT(*) AS BIGINT) AS c
      FROM widths w CROSS JOIN keyed k
      GROUP BY w.p, k.h % w.p
    )
    SELECT CAST(l.p AS INT) AS n_partitions,
           CAST(COUNT(*) AS BIGINT) AS nonempty,
           CAST(MAX(l.c) AS BIGINT) AS max_rows,
           CAST(MIN(l.c) AS BIGINT) AS min_rows,
           CAST(MAX(l.c) * l.p * 1000000 // n1.n AS BIGINT)
             AS max_over_ideal_ppm
    FROM loads l CROSS JOIN n1
    GROUP BY l.p, n1.n ORDER BY n_partitions
    """,
    tags=("llm", "planner", "shuffle", "skew"),
)
def q412_hash_partition_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shuffle-sizing forecaster: the event stream's user keys are
    md5-hashed (engine-portable — Spark's murmur and DuckDB's hash
    would never agree) into 32/128/512 partitions, and each width
    reports its occupancy, min/max partition rows, and max:ideal skew
    in ppm. Flat max:ideal across widths means one hot KEY (salting
    territory, q26); max:ideal decaying toward 1e6 as P grows means
    plain hash imbalance that more partitions genuinely fix. This is
    the one-scan answer to "raise spark.sql.shuffle.partitions or
    salt?" — asked of the data instead of a stuck stage.

    Scale: one scan; the (width, partition) grid is at most
    32+128+512 groups, map-side combinable."""
    events = load(spark, sf_dir, "events")
    keyed = events.select(
        F.conv(
            F.substring(
                F.md5(
                    F.concat(F.col("user_id").cast("string"), F.lit(":shuf"))
                ),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h")
    ).persist()
    n1 = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    widths = spark.createDataFrame([(p,) for p in _PART_WIDTHS], "p int")
    loads = (
        F.broadcast(widths)
        .crossJoin(keyed)
        .groupBy("p", (F.col("h") % F.col("p")).alias("part"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    out = (
        loads.crossJoin(F.broadcast(n1))
        .groupBy("p", "n")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nonempty"),
            F.max("c").cast("bigint").alias("max_rows"),
            F.min("c").cast("bigint").alias("min_rows"),
        )
        .select(
            F.col("p").cast("int").alias("n_partitions"),
            "nonempty",
            "max_rows",
            "min_rows",
            F.expr("CAST(max_rows * p * 1000000 div n AS BIGINT)").alias(
                "max_over_ideal_ppm"
            ),
        )
        .orderBy("n_partitions")
    )
    return out


# ---------------------------------------------------------------------------
# q413 — error-budget burn rate
# ---------------------------------------------------------------------------

_BUDGET_PPM = 50_000  # 5% error budget
_BURN_WINDOW = 7  # days


@query(
    "q413_error_budget_burn",
    oracle=f"""
    WITH daily AS (
      SELECT DATEDIFF('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                  AS BIGINT) AS e
      FROM events GROUP BY 1
    ),
    windowed AS (
      SELECT day,
             CAST(SUM(n) OVER (ORDER BY day
                               ROWS BETWEEN {_BURN_WINDOW - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS wn,
             CAST(SUM(e) OVER (ORDER BY day
                               ROWS BETWEEN {_BURN_WINDOW - 1} PRECEDING
                               AND CURRENT ROW) AS BIGINT) AS we,
             CAST(COUNT(*) OVER (ORDER BY day
                                 ROWS BETWEEN {_BURN_WINDOW - 1} PRECEDING
                                 AND CURRENT ROW) AS BIGINT) AS ndays
      FROM daily
    ),
    full_ AS (
      SELECT day, wn, we,
             CAST(we * 1000000 // wn AS BIGINT) AS err_ppm,
             CAST((we * 1000000 // wn) * 1000000 // {_BUDGET_PPM} AS BIGINT)
               AS burn_ppm
      FROM windowed WHERE ndays = {_BURN_WINDOW}
    ),
    worst AS (
      SELECT CAST(MIN(day) AS BIGINT) AS worst_day
      FROM full_ f
      JOIN (SELECT MAX(burn_ppm) AS mb FROM full_) m ON f.burn_ppm = m.mb
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_windows,
           CAST(SUM(CASE WHEN f.burn_ppm > 1000000 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_over_budget,
           CAST(MAX(f.burn_ppm) AS BIGINT) AS max_burn_ppm,
           w.worst_day,
           CAST(SUM(f.we) * 1000000 // SUM(f.wn) AS BIGINT)
             AS overall_err_ppm
    FROM full_ f CROSS JOIN worst w
    GROUP BY w.worst_day
    """,
    tags=("llm", "sre", "error-budget", "burn-rate"),
)
def q413_error_budget_burn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRE burn-rate table: the error-event share over every FULL
    rolling {_BURN_WINDOW}-day window (ROWS framing over the
    day-grain series; partial head windows excluded by the in-window
    day count), expressed as burn of a {_BUDGET_PPM}-ppm budget
    (burn 1e6 = consuming exactly budget; >1e6 = on track to blow
    it). The single summary row counts over-budget windows, names
    the (earliest) worst window end-day, and carries the overall
    error share. The fixture's uniform event mix burns at a steady
    ~4x of a 5%% budget — the table is the alert threshold's dry
    run before anyone wires a pager to it.

    Scale: one scan to day grain; the rolling window is an O(days)
    frame with ROWS framing (exact, no range ambiguity)."""
    events = load(spark, sf_dir, "events")
    daily = events.groupBy(
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        .cast("bigint")
        .alias("day")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN event_type = 'error' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("e"),
    )
    # global-window-ok: day-grain frame, O(days) rows
    wd = W.orderBy("day").rowsBetween(-(_BURN_WINDOW - 1), 0)
    windowed = daily.select(
        "day",
        F.sum("n").over(wd).cast("bigint").alias("wn"),
        F.sum("e").over(wd).cast("bigint").alias("we"),
        F.count(F.lit(1)).over(wd).cast("bigint").alias("ndays"),
    )
    full_ = (
        windowed.filter(F.col("ndays") == _BURN_WINDOW)
        .select(
            "day",
            "wn",
            "we",
            F.expr(
                f"CAST((we * 1000000 div wn) * 1000000 div {_BUDGET_PPM}"
                " AS BIGINT)"
            ).alias("burn_ppm"),
        )
        .persist()
    )
    mx = full_.agg(F.max("burn_ppm").alias("mb"))
    worst = (
        full_.crossJoin(F.broadcast(mx))
        .filter(F.col("burn_ppm") == F.col("mb"))
        .agg(F.min("day").cast("bigint").alias("worst_day"))
    )
    out = (
        full_.crossJoin(F.broadcast(worst))
        .groupBy("worst_day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_windows"),
            F.sum(
                F.expr("CASE WHEN burn_ppm > 1000000 THEN 1 ELSE 0 END")
            )
            .cast("bigint")
            .alias("n_over_budget"),
            F.max("burn_ppm").cast("bigint").alias("max_burn_ppm"),
            F.sum("we").alias("_swe"),
            F.sum("wn").alias("_swn"),
        )
        .select(
            "n_windows",
            "n_over_budget",
            "max_burn_ppm",
            "worst_day",
            F.expr("CAST(_swe * 1000000 div _swn AS BIGINT)").alias(
                "overall_err_ppm"
            ),
        )
    )
    return out
