"""LLM-ops wave 41: sequential testing, stratified causal adjustment,
and apportioned eval-set construction —

- q363: SPRT early-stopping replay — Wald's sequential probability
  ratio test on the daily purchase share (H0 p=0.20 vs H1 p=0.25,
  alpha=beta=0.05), replayed over the event stream in day order with
  Python-precomputed micro-nat LLR constants; reports when the
  experiment WOULD have stopped and what it would have concluded —
  the "why did we run this for three months?" audit.
- q364: stratified ATE adjustment — the naive treated-vs-control
  outcome gap per activity stratum (log2 width classes, no rank
  pass), with population weights and per-stratum contributions: the
  direct-standardization counter to activity-confounded comparisons
  (q301's standardization cousin, at the experiment's user grain).
- q365: apportioned eval-set builder — a 100-doc eval sample
  allocated across languages by largest-remainder (Hamilton)
  apportionment and drawn per language by deterministic md5-uniform
  ranks: the balanced-eval-set constructor, with the seat math made
  auditable.

Output-hardening doctrine (as waves 6-40): the SPRT's two LLR terms
are module-import-time Python round(ln(r)*1e6) integer constants
embedded as literals in BOTH engines (the wave-15 Poisson-threshold
pattern — no LN at query time), so the trajectory is pure integer
cumsum; stratified means are truncating micro divisions per arm
(documented truncation, identical in both engines, q364); Hamilton
seats are floor-quotas plus a remainder rank with explicit (rem
DESC, lang) tiebreak; all integer-sum oracle outputs CAST to BIGINT.

Reference parity: the reference's daily numbers are exactly what a
team A/B-tests against (q363/q364 are those decisions done right),
and q365 is how a curation team carves a fair eval set out of the
multilingual corpus the engine profiles everywhere else.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q363 — SPRT early-stopping replay on the daily purchase share
# ---------------------------------------------------------------------------

_P0, _P1 = 0.20, 0.25
_LLR_SUCC = round(math.log(_P1 / _P0) * 1_000_000)  # 223144 micro-nats
_LLR_FAIL = round(math.log((1 - _P1) / (1 - _P0)) * 1_000_000)  # -64539
_SPRT_BOUND = round(math.log(19.0) * 1_000_000)  # ln((1-b)/a), a=b=0.05


@query(
    "q363_sprt_early_stopping",
    oracle=f"""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS conv,
             CAST(COUNT(*) AS BIGINT) AS tot
      FROM events GROUP BY 1
    ),
    cum AS (
      SELECT day,
             CAST(SUM(conv * ({_LLR_SUCC})
                      + (tot - conv) * ({_LLR_FAIL}))
                  OVER (ORDER BY day) AS BIGINT) AS c
      FROM daily
    ),
    fin AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_days,
             CAST(ARG_MAX(c, day) AS BIGINT) AS final_llr_micro
      FROM cum
    ),
    cr AS (
      SELECT MIN(day) AS d0,
             ARG_MIN(c, day) AS c0
      FROM cum WHERE c >= {_SPRT_BOUND} OR c <= -{_SPRT_BOUND}
    )
    SELECT fin.n_days, fin.final_llr_micro,
           COALESCE(CAST(cr.d0 AS VARCHAR), 'none') AS first_cross_day,
           CASE WHEN cr.c0 IS NULL THEN 'continue'
                WHEN cr.c0 >= {_SPRT_BOUND} THEN 'accept_h1'
                ELSE 'accept_h0' END AS decision
    FROM fin CROSS JOIN cr
    """,
    tags=("llm", "stats", "sprt", "sequential"),
)
def q363_sprt_early_stopping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald's SPRT replayed over the event stream in day order:
    testing H0 purchase-share = 0.20 against H1 = 0.25 at
    alpha = beta = 0.05, each purchase adds ln(p1/p0) and each
    non-purchase ln((1-p1)/(1-p0)) to the log-likelihood ratio;
    the test stops the first day the cumulative LLR leaves
    (-ln19, +ln19). The replay reports when the experiment WOULD
    have stopped and what it would have concluded — the audit that
    prices fixed-horizon overruns. The two LLR increments are
    import-time Python round(ln*1e6) integer constants embedded in
    BOTH engines (no LN at query time), so the whole trajectory is
    an exact integer cumsum.

    Scale: one map-side-combined daily aggregate; the cumsum and the
    crossing scan run over the O(days) frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("conv"),
        F.count(F.lit(1)).cast("bigint").alias("tot"),
    )
    # global-window-ok: day-grain LLR cumsum, O(days) rows
    wd = W.orderBy("day")
    cum = daily.select(
        "day",
        F.sum(
            F.col("conv") * F.lit(_LLR_SUCC)
            + (F.col("tot") - F.col("conv")) * F.lit(_LLR_FAIL)
        )
        .over(wd)
        .cast("bigint")
        .alias("c"),
    ).persist()
    fin = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_days"),
        F.max_by("c", "day").cast("bigint").alias("final_llr_micro"),
    )
    cr = cum.filter(
        (F.col("c") >= _SPRT_BOUND) | (F.col("c") <= -_SPRT_BOUND)
    ).agg(
        F.min("day").alias("d0"),
        F.min_by("c", "day").alias("c0"),
    )
    out = fin.crossJoin(cr).select(
        "n_days",
        "final_llr_micro",
        F.coalesce(F.col("d0").cast("string"), F.lit("none")).alias(
            "first_cross_day"
        ),
        F.when(F.col("c0").isNull(), "continue")
        .when(F.col("c0") >= _SPRT_BOUND, "accept_h1")
        .otherwise("accept_h0")
        .alias("decision"),
    )
    return out


# ---------------------------------------------------------------------------
# q364 — stratified ATE adjustment by activity width class
# ---------------------------------------------------------------------------


@query(
    "q364_stratified_ate",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_sql_gate("user_id", ":exp2")} AS t,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                  AS BIGINT) AS y
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(LENGTH(BIN(n_events)) AS INT) AS stratum, t, y FROM u
    ),
    per AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(1 - t) AS BIGINT) AS n_c,
             CAST(SUM(t * y) AS BIGINT) AS y_t,
             CAST(SUM((1 - t) * y) AS BIGINT) AS y_c
      FROM s GROUP BY stratum
    ),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS big_n FROM per)
    SELECT p.stratum, p.n, p.n_t, p.n_c,
           CAST(CASE WHEN p.n_t = 0 THEN 0
                ELSE p.y_t * 1000000 // p.n_t END AS BIGINT)
             AS mean_t_micro,
           CAST(CASE WHEN p.n_c = 0 THEN 0
                ELSE p.y_c * 1000000 // p.n_c END AS BIGINT)
             AS mean_c_micro,
           CAST(p.n * 1000000 // t2.big_n AS BIGINT) AS w_ppm,
           CAST((CASE WHEN p.n_t = 0 THEN 0
                 ELSE p.y_t * 1000000 // p.n_t END
                 - CASE WHEN p.n_c = 0 THEN 0
                   ELSE p.y_c * 1000000 // p.n_c END)
                * p.n // t2.big_n AS BIGINT) AS contribution_micro
    FROM per p CROSS JOIN tot t2 ORDER BY p.stratum
    """,
    tags=("llm", "causal", "stratification", "ab-test"),
)
def q364_stratified_ate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified treatment-effect adjustment: users are stratified
    by the log2 WIDTH CLASS of their event count (LENGTH(BIN(n)) —
    map-side, no rank pass, the q350 width-class trick reused as a
    confounder bucket), and the treated-vs-control purchase-count
    gap is reported per stratum with its population weight and
    contribution — the direct-standardization table that separates
    a real effect from an activity-mix imbalance (q301's
    standardization at the experiment's user grain; under the null
    md5 assignment every stratum's gap should hover near zero).
    Per-arm means are truncating micro divisions; the contribution
    column truncates once more — BOTH engines truncate identically
    (wave-24 parity fact), so the table is bit-stable.

    Scale: one user-grain aggregate, one stratum-grain aggregate,
    one 1-row total broadcast — three map-side-combinable stages."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("y"),
    ).select(
        _spark_gate("user_id", ":exp2").alias("t"),
        F.length(F.bin(F.col("n_events"))).cast("int").alias("stratum"),
        "y",
    )
    per = u.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum(F.col("t") * F.col("y")).cast("bigint").alias("y_t"),
        F.sum((1 - F.col("t")) * F.col("y")).cast("bigint").alias("y_c"),
    )
    tot = per.agg(F.sum("n").cast("bigint").alias("big_n"))
    mean_t = "CASE WHEN n_t = 0 THEN 0 ELSE y_t * 1000000 div n_t END"
    mean_c = "CASE WHEN n_c = 0 THEN 0 ELSE y_c * 1000000 div n_c END"
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "stratum",
            "n",
            "n_t",
            "n_c",
            F.expr(f"CAST({mean_t} AS BIGINT)").alias("mean_t_micro"),
            F.expr(f"CAST({mean_c} AS BIGINT)").alias("mean_c_micro"),
            F.expr("CAST(n * 1000000 div big_n AS BIGINT)").alias("w_ppm"),
            F.expr(
                f"CAST(({mean_t} - {mean_c}) * n div big_n AS BIGINT)"
            ).alias("contribution_micro"),
        )
        .orderBy("stratum")
    )


# ---------------------------------------------------------------------------
# q365 — apportioned eval-set builder (Hamilton / largest remainder)
# ---------------------------------------------------------------------------

_EVAL_K = 100


@query(
    "q365_apportioned_eval_sample",
    oracle=f"""
    WITH pop AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_pop
      FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(SUM(n_pop) AS BIGINT) AS big_n FROM pop),
    seats AS (
      SELECT p.lang, p.n_pop,
             CAST({_EVAL_K} * p.n_pop // t.big_n AS BIGINT) AS base_q,
             CAST({_EVAL_K} * p.n_pop % t.big_n AS BIGINT) AS rem
      FROM pop p CROSS JOIN tot t
    ),
    leftover AS (
      SELECT CAST({_EVAL_K} - SUM(base_q) AS BIGINT) AS r FROM seats
    ),
    quota AS (
      SELECT lang, n_pop,
             CAST(base_q + CASE WHEN ROW_NUMBER() OVER
                    (ORDER BY rem DESC, lang) <= lo.r
                  THEN 1 ELSE 0 END AS BIGINT) AS quota
      FROM seats CROSS JOIN leftover lo
    ),
    keyed AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                              || ':eval'), 1, 15) AS BIGINT), doc_id)
               AS sample_rank
      FROM documents
    )
    SELECT k.lang, CAST(k.sample_rank AS INT) AS sample_rank, k.doc_id
    FROM keyed k JOIN quota q ON q.lang = k.lang
    WHERE k.sample_rank <= q.quota
    ORDER BY k.lang, k.sample_rank
    """,
    tags=("llm", "curation", "sampling", "apportionment"),
)
def q365_apportioned_eval_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Apportioned eval-set builder: a 100-doc evaluation
    sample allocated across languages by largest-remainder
    (Hamilton) apportionment — floor quotas K*n_l/N, then the
    leftover seats to the largest remainders with an explicit
    (remainder DESC, lang) tiebreak — and drawn per language by
    deterministic md5-uniform rank (doc_id tiebreak). The output is
    the sample itself, so both the seat arithmetic and the draw are
    value-audited; proportional-without-apportionment either
    over- or under-shoots K, which is exactly the bug this entry
    exists to prevent in eval-set tooling.

    Scale: the seat table is |langs| rows; the draw is a
    lang-PARTITIONED rank over md5 keys (at 10^10 docs: TakeOrdered
    per language on the key, quota consumed from the top); the
    corpus never sorts globally."""
    docs = load(spark, sf_dir, "documents")
    pop = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop")
    )
    tot = pop.agg(F.sum("n_pop").cast("bigint").alias("big_n"))
    seats = pop.crossJoin(F.broadcast(tot)).select(
        "lang",
        "n_pop",
        F.expr(f"CAST({_EVAL_K} * n_pop div big_n AS BIGINT)").alias(
            "base_q"
        ),
        F.expr(f"CAST({_EVAL_K} * n_pop % big_n AS BIGINT)").alias("rem"),
    )
    leftover = seats.agg(
        (F.lit(_EVAL_K) - F.sum("base_q")).cast("bigint").alias("r")
    )
    # global-window-ok: |langs|-row remainder rank (a handful of rows)
    wr = W.orderBy(F.desc("rem"), F.asc("lang"))
    quota = (
        seats.crossJoin(F.broadcast(leftover))
        .select(
            "lang",
            "n_pop",
            (
                F.col("base_q")
                + F.when(F.row_number().over(wr) <= F.col("r"), 1).otherwise(
                    0
                )
            )
            .cast("bigint")
            .alias("quota"),
        )
    )
    wk = W.partitionBy("lang").orderBy(
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":eval"))),
                1,
                15,
            ),
            16,
            10,
        ).cast("long"),
        F.asc("doc_id"),
    )
    keyed = docs.select(
        "lang", "doc_id", F.row_number().over(wk).alias("sample_rank")
    )
    return (
        keyed.join(F.broadcast(quota.select("lang", "quota")), "lang")
        .filter(F.col("sample_rank") <= F.col("quota"))
        .select(
            "lang",
            F.col("sample_rank").cast("int").alias("sample_rank"),
            "doc_id",
        )
        .orderBy("lang", "sample_rank")
    )
