"""LLM-ops wave 26: sequential-decision audits over the event stream
— what happens AFTER the transition matrix, the tail, and the daily
rates are known:

- q317 unrolls the absorbing-chain recursion on q217's Markov matrix:
  the probability of reaching 'purchase' within k steps from each
  state, integer-quantized per iteration;
- q318 is the Hill tail-index estimator on order values — the
  heavy-tail exponent that says whether revenue concentration has a
  finite variance (q176's deciles describe the bulk; this prices the
  tail law);
- q319 replays a follow-the-leader policy over daily arm rewards and
  reports its exact regret against the best fixed arm in hindsight —
  the online-learning audit of "should routing just pick yesterday's
  winner?".

Output-hardening doctrine (as waves 6-25): the Markov recursion
truncates ONCE per (state, step) — each step's value is
(Σ p_ppm·v_ppm) div 10^6, so both engines walk identical integer
vectors; Hill's per-rank LN terms are quantized to DECIMAL(18,6)
micro-nats before summing (the q128/q303 doctrine) and the index is
an integer ratio of those sums; FTL tie-breaks are lexicographic and
its regret is a difference of integer ppm sums.

Reference parity: the reference's pipeline ends at "store today's
numbers" (dags/Final_app.py:106-128); what a consumer does with a
month of them — predict the next action, size the tail, pick
tomorrow's arm — is this module.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q317 — absorbing-chain reachability (k-step, integer-quantized)
# ---------------------------------------------------------------------------

_ABSORB = "purchase"
_K_STEPS = 4

_SQL_TRANS = """
    nxt AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM nxt WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY from_type),
    p AS (
      SELECT pairs.from_type, pairs.to_type,
             pairs.n * 1000000 // tot.t AS p_ppm
      FROM pairs JOIN tot ON tot.from_type = pairs.from_type
    ),
    states AS (SELECT DISTINCT event_type AS s FROM events)
"""


def _sql_step(prev: str, cur: str) -> str:
    """One integer-quantized value-iteration step: v_{{t+1}}(s) is 10^6
    for the absorbing state, else the truncated expected next value."""
    return f"""
    {cur} AS (
      SELECT states.s,
             CASE WHEN states.s = '{_ABSORB}' THEN 1000000
                  ELSE COALESCE(
                    (SELECT SUM(p.p_ppm * {prev}.v)
                     FROM p JOIN {prev} ON {prev}.s = p.to_type
                     WHERE p.from_type = states.s), 0) // 1000000
             END AS v
      FROM states
    )"""


@query(
    "q317_markov_absorption_reach",
    oracle=f"""
    WITH {_SQL_TRANS},
    v0 AS (
      SELECT s, CASE WHEN s = '{_ABSORB}' THEN 1000000 ELSE 0 END AS v
      FROM states
    ),
    {", ".join(_sql_step(f"v{k}", f"v{k + 1}").lstrip().removeprefix("") for k in range(_K_STEPS))}
    SELECT from_state, CAST(k AS INT) AS k, CAST(reach_ppm AS BIGINT)
             AS reach_ppm
    FROM (
      {" UNION ALL ".join(f"SELECT s AS from_state, {k + 1} AS k, v AS reach_ppm FROM v{k + 1}" for k in range(_K_STEPS))}
    ) ORDER BY from_state, k
    """,
    tags=("events", "markov", "absorption", "behavior"),
)
def q317_markov_absorption_reach(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Absorbing-chain value iteration on the q217 transition matrix:
    for every starting event type, the probability (ppm) that a user
    whose NEXT transitions follow the empirical first-order chain
    reaches '{_ABSORB}' within k = 1..{_K_STEPS} steps. Each step is one
    integer-quantized matrix-vector product — v(s) := (Σ_s'
    P_ppm(s,s')·v(s')) div 10^6, with the absorbing state pinned at
    10^6 — so the reach columns are monotone in k by construction
    (pinning makes 'arrived stays arrived') and both engines walk
    byte-identical integer vectors; there is no matrix inversion and
    no float. q217 reports the one-step matrix; this is the decision
    quantity built on it — "how close is each state to conversion".

    Scale: the transition estimation is the same single user-keyed
    LEAD shuffle as q217; everything after operates on a ~5-state
    matrix, unrolled {_K_STEPS} times (bounded, not to-convergence).
    The per-step joins run on broadcast-size tables."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = nxt.groupBy("from_type", "to_type").agg(
        F.count(F.lit(1)).alias("n")
    )
    tot = pairs.groupBy("from_type").agg(F.sum("n").alias("t"))
    p = pairs.join(tot, "from_type").select(
        "from_type",
        "to_type",
        F.expr("n * 1000000 div t").alias("p_ppm"),
    ).persist()
    states = ev.select(F.col("event_type").alias("s")).distinct().persist()
    v = states.select(
        "s",
        F.when(F.col("s") == _ABSORB, F.lit(1000000))
        .otherwise(0)
        .cast("bigint")
        .alias("v"),
    )
    outs = []
    for k in range(1, _K_STEPS + 1):
        stepped = (
            p.join(
                F.broadcast(v.select(F.col("s").alias("to_type"), "v")),
                "to_type",
            )
            .groupBy("from_type")
            .agg(F.expr("SUM(p_ppm * v) div 1000000").alias("ev"))
        )
        v = states.join(
            F.broadcast(stepped), states.s == stepped.from_type, "left"
        ).select(
            "s",
            F.when(F.col("s") == _ABSORB, F.lit(1000000))
            .otherwise(F.coalesce("ev", F.lit(0)))
            .cast("bigint")
            .alias("v"),
        )
        outs.append(
            v.select(
                F.col("s").alias("from_state"),
                F.lit(k).cast("int").alias("k"),
                F.col("v").alias("reach_ppm"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)

    return res.orderBy("from_state", "k")


# ---------------------------------------------------------------------------
# q318 — Hill tail-index estimator on order values
# ---------------------------------------------------------------------------

_KS = (25, 50, 100)


@query(
    "q318_hill_tail_index",
    oracle=f"""
    WITH top_ AS (
      SELECT o_totalprice,
             ROW_NUMBER() OVER (ORDER BY o_totalprice DESC, o_orderkey)
               AS rk
      FROM orders
      ORDER BY o_totalprice DESC, o_orderkey LIMIT {max(_KS) + 1}
    ),
    ks AS (SELECT UNNEST([{", ".join(str(k) for k in _KS)}]) AS k),
    thr AS (
      SELECT ks.k, t.o_totalprice AS x_k1
      FROM ks JOIN top_ t ON t.rk = ks.k + 1
    ),
    terms AS (
      SELECT thr.k,
             CAST(LN(CAST(t.o_totalprice AS DOUBLE)
                     / CAST(thr.x_k1 AS DOUBLE))
                  AS DECIMAL(18,2)) AS l
      FROM thr JOIN top_ t ON t.rk <= thr.k
    )
    SELECT CAST(k AS INT) AS k,
           CAST(SUM(l * 100) AS BIGINT) AS sum_ln_centinats,
           CAST(CASE WHEN CAST(SUM(l * 100) AS HUGEINT) = 0 THEN 0
                ELSE CAST(k AS HUGEINT) * 100 * 1000000
                     // CAST(SUM(l * 100) AS HUGEINT) END AS BIGINT)
             AS alpha_micro
    FROM terms GROUP BY k ORDER BY k
    """,
    tags=("audit", "tail", "hill", "revenue"),
)
def q318_hill_tail_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Hill estimator of the order-value tail exponent at k = 25,
    50, 100 upper order statistics: alpha_hat = k / Σ ln(x_i / x_k+1)
    — the number that says whether the revenue distribution's tail is
    Pareto-like and how heavy (alpha < 2 means infinite variance:
    mean-based dashboards are lying). q176's deciles describe the
    bulk; q190/q234 flag individual outliers; this fits the LAW the
    outliers follow, at three k values so the reader sees the
    estimator's stability plateau. Per-rank LN terms are quantized to
    DECIMAL(18,2) CENTI-nats before summing — deliberately coarser
    than the usual (18,6) doctrine, because a 175-term sum of
    order-statistic ratios actually hit a micro-nat libm rounding
    boundary at sf0.001 (one term of l≈0.29 flipped between engines);
    centi-nat grid cells are 10^4 wider than any cross-libm LN
    disagreement, and alpha = k·10^8 div Σ still carries 4
    significant digits, which is more than the estimator's own
    statistical noise at k ≤ 100.

    Scale: the only full-data operation is top-(k_max+1) selection —
    TakeOrderedAndProject, no global sort materialized; the rank
    window and the k x rank join run over 101 rows."""
    k_max = max(_KS)
    orders = load(spark, sf_dir, "orders")
    top = (
        orders.select("o_totalprice", "o_orderkey")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(k_max + 1)
    )
    # global-window-ok: bounded frame: limit(k_max+1) rows above
    wr = W.orderBy(F.desc("o_totalprice"), "o_orderkey")
    ranked = top.select(
        "o_totalprice", F.row_number().over(wr).alias("rk")
    ).persist()
    ks = spark.createDataFrame([(k,) for k in _KS], "k int")
    thr = ks.join(
        ranked.select(F.col("rk").alias("rk1"), F.col("o_totalprice").alias("x_k1")),
        F.col("rk1") == F.col("k") + 1,
    ).select("k", "x_k1")
    terms = thr.join(F.broadcast(ranked), F.col("rk") <= F.col("k")).select(
        "k",
        F.log(
            F.col("o_totalprice").cast("double") / F.col("x_k1").cast("double")
        )
        .cast("decimal(18,2)")
        .alias("l"),
    )
    out = terms.groupBy("k").agg(
        F.sum(F.col("l") * 100).cast("bigint").alias("sum_ln_centinats"),
        F.expr(
            "CAST(CASE WHEN SUM(l * 100) = 0 THEN 0"
            " ELSE CAST(k AS DECIMAL(38,0)) * 100 * 1000000"
            " div CAST(SUM(l * 100) AS DECIMAL(38,0)) END AS BIGINT)"
        ).alias("alpha_micro"),
    ).select(
        F.col("k").cast("int"), "sum_ln_centinats", "alpha_micro"
    ).orderBy("k")

    return out


# ---------------------------------------------------------------------------
# q319 — follow-the-leader replay and exact regret
# ---------------------------------------------------------------------------


@query(
    "q319_follow_leader_regret",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, event_type AS arm,
             SUM(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS wins,
             COUNT(*) AS pulls
      FROM events GROUP BY 1, 2
    ),
    rates AS (
      SELECT day, arm, wins * 1000000 // pulls AS rate_ppm,
             SUM(wins) OVER (PARTITION BY arm ORDER BY day
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS cw,
             SUM(pulls) OVER (PARTITION BY arm ORDER BY day
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS cp
      FROM daily
    ),
    scored AS (
      SELECT day, arm, rate_ppm,
             CASE WHEN cp IS NULL OR cp = 0 THEN -1
                  ELSE cw * 1000000 // cp END AS hist_ppm
      FROM rates
    ),
    choice AS (
      SELECT day, arm, rate_ppm,
             ROW_NUMBER() OVER (PARTITION BY day
                                ORDER BY hist_ppm DESC, arm) AS pick
      FROM scored
    ),
    policy AS (
      SELECT day, arm AS chosen_arm, rate_ppm AS policy_rate_ppm
      FROM choice WHERE pick = 1
    ),
    best AS (
      SELECT arm AS best_arm, SUM(rate_ppm) AS best_total
      FROM scored GROUP BY arm ORDER BY best_total DESC, best_arm LIMIT 1
    ),
    best_daily AS (
      SELECT s.day, s.rate_ppm AS best_rate_ppm
      FROM scored s JOIN best ON best.best_arm = s.arm
    )
    SELECT p.day, p.chosen_arm,
           CAST(p.policy_rate_ppm AS BIGINT) AS policy_rate_ppm,
           CAST(SUM(p.policy_rate_ppm) OVER (ORDER BY p.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_policy_ppm,
           CAST(SUM(COALESCE(b.best_rate_ppm, 0)) OVER (ORDER BY p.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum_best_ppm,
           CAST(SUM(COALESCE(b.best_rate_ppm, 0)) OVER (ORDER BY p.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                - SUM(p.policy_rate_ppm) OVER (ORDER BY p.day
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS regret_ppm
    FROM policy p LEFT JOIN best_daily b ON b.day = p.day
    ORDER BY p.day
    """,
    tags=("events", "bandit", "regret", "online-learning"),
)
def q319_follow_leader_regret(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic replay of a follow-the-leader policy over the
    event stream: arms are event types, the day-d reward of an arm is
    its exact high-value rate (share of that day's events with
    value > 100, ppm), and FTL picks each day the arm with the best
    CUMULATIVE historical win rate through yesterday (integer ppm,
    ties and the cold-start day resolved lexicographically — the
    hist_ppm = -1 sentinel). Reported per day against the best FIXED
    arm in hindsight, with exact cumulative regret in ppm-days — the
    number that says whether adaptive routing would actually have
    beaten just committing. Full-feedback (experts) setting, so the
    replay is a pure function of the data: no simulated randomness
    anywhere.

    Scale: one (day, arm) aggregate is the only pass over raw
    events; every window after runs over |days| x |arms| rows
    (~150), partitioned by arm or day — bounded, the q267
    bounded-window doctrine."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.to_date("ts").alias("day"), F.col("event_type").alias("arm")
    ).agg(
        F.sum(F.when(F.col("value") > 100, 1).otherwise(0)).alias("wins"),
        F.count(F.lit(1)).alias("pulls"),
    )
    wa = (
        W.partitionBy("arm")
        .orderBy("day")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    rates = daily.select(
        "day",
        "arm",
        F.expr("wins * 1000000 div pulls").alias("rate_ppm"),
        F.sum("wins").over(wa).alias("cw"),
        F.sum("pulls").over(wa).alias("cp"),
    )
    scored = rates.select(
        "day",
        "arm",
        "rate_ppm",
        F.expr(
            "CASE WHEN cp IS NULL OR cp = 0 THEN -1"
            " ELSE cw * 1000000 div cp END"
        ).alias("hist_ppm"),
    ).persist()
    wd = W.partitionBy("day").orderBy(F.desc("hist_ppm"), "arm")
    policy = (
        scored.select(
            "day", "arm", "rate_ppm", F.row_number().over(wd).alias("pick")
        )
        .filter(F.col("pick") == 1)
        .select(
            "day",
            F.col("arm").alias("chosen_arm"),
            F.col("rate_ppm").alias("policy_rate_ppm"),
        )
    )
    best = (
        scored.groupBy("arm")
        .agg(F.sum("rate_ppm").alias("best_total"))
        .orderBy(F.desc("best_total"), "arm")
        .limit(1)
        .select(F.col("arm").alias("best_arm"))
    )
    best_daily = scored.join(
        F.broadcast(best), scored.arm == F.col("best_arm")
    ).select("day", F.col("rate_ppm").alias("best_rate_ppm"))
    # global-window-ok: day-grain: frame reduced to |days| rows by the per-day aggregate
    wcum = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    br = F.coalesce("best_rate_ppm", F.lit(0))
    out = (
        policy.join(best_daily, "day", "left")
        .select(
            "day",
            "chosen_arm",
            F.col("policy_rate_ppm").cast("bigint"),
            F.sum("policy_rate_ppm").over(wcum).cast("bigint").alias(
                "cum_policy_ppm"
            ),
            F.sum(br).over(wcum).cast("bigint").alias("cum_best_ppm"),
            (F.sum(br).over(wcum) - F.sum("policy_rate_ppm").over(wcum))
            .cast("bigint")
            .alias("regret_ppm"),
        )
        .orderBy("day")
    )

    return out
