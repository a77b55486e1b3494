"""LLM-ops wave 46: probabilistic record linkage, selection-bias
auditing, and distributional treatment effects —

- q378: Fellegi-Sunter field weights — per comparison field (lang,
  source, length width-class), the m-probability (agreement among
  verified near-dup matches) and u-probability (agreement among
  md5-bucket random non-match pairs), and the derived agree/disagree
  match weights in exact ppm; the scoring table a probabilistic
  linker runs on before anyone tunes a threshold.
- q379: selection regression-to-mean — pick the top-5 users by
  odd-day event count and watch their even-day counts regress toward
  the cohort mean; the winner's-curse audit for any "top users" list
  a dashboard publishes.
- q380: decile quantile-treatment-effect — per decile 10..90, the
  exact nearest-rank per-user event-count quantile in each md5 arm
  and their difference; the distributional view that a mean-only ATE
  (q364) hides.

Output-hardening doctrine (as waves 6-45): every probability is a
single truncating ppm division of exact integer counts; FS weights
are ratios of ppm values in DECIMAL(38,0)/HUGEINT lanes with
CASE-guarded zero denominators (sentinel -1, documented); QTE
quantiles are exact nearest-rank selections on a value-grain
cumulative (the q267/q331 histogram-guided pattern — the window runs
over DISTINCT per-user counts, a reduced frame); the decile rank is
the pure integer (d*n + 99) // 100 = CEIL(d*n/100).

Reference parity: the reference loads one entity feed; q378 is the
linker that would reconcile it against a second feed, and q379/q380
are the experiment-readout hygiene for anything A/B-gated downstream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q378 — Fellegi-Sunter field weights
# ---------------------------------------------------------------------------


@query(
    "q378_fellegi_sunter_weights",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    f AS (
      SELECT doc_id, lang, source,
             CAST(LENGTH(BIN(GREATEST(n_chars, 1))) AS INT) AS wclass,
             SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':fs'), 1, 2) AS bucket
      FROM documents
    ),
    mp AS (
      SELECT p.doc_id_a AS a, p.doc_id_b AS b FROM pairs p
    ),
    up AS (
      SELECT x.doc_id AS a, y.doc_id AS b
      FROM f x JOIN f y ON x.bucket = y.bucket AND x.doc_id < y.doc_id
      WHERE NOT EXISTS (
        SELECT 1 FROM mp WHERE mp.a = x.doc_id AND mp.b = y.doc_id
      )
    ),
    cmp AS (
      SELECT 'm' AS side, fa.lang = fb.lang AS ag_lang,
             fa.source = fb.source AS ag_source,
             fa.wclass = fb.wclass AS ag_wclass
      FROM mp JOIN f fa ON fa.doc_id = mp.a JOIN f fb ON fb.doc_id = mp.b
      UNION ALL
      SELECT 'u', fa.lang = fb.lang, fa.source = fb.source,
             fa.wclass = fb.wclass
      FROM up JOIN f fa ON fa.doc_id = up.a JOIN f fb ON fb.doc_id = up.b
    ),
    longf AS (
      SELECT side, 'lang' AS field,
             CASE WHEN ag_lang THEN 1 ELSE 0 END AS ag FROM cmp
      UNION ALL
      SELECT side, 'source', CASE WHEN ag_source THEN 1 ELSE 0 END FROM cmp
      UNION ALL
      SELECT side, 'wclass', CASE WHEN ag_wclass THEN 1 ELSE 0 END FROM cmp
    ),
    agg AS (
      SELECT field,
             CAST(SUM(CASE WHEN side = 'm' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_m,
             CAST(SUM(CASE WHEN side = 'm' THEN ag ELSE 0 END) AS BIGINT)
               AS t_m,
             CAST(SUM(CASE WHEN side = 'u' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_u,
             CAST(SUM(CASE WHEN side = 'u' THEN ag ELSE 0 END) AS BIGINT)
               AS t_u
      FROM longf GROUP BY field
    ),
    ppm AS (
      SELECT field, n_m, t_m, n_u, t_u,
             CAST(t_m * 1000000 // n_m AS BIGINT) AS m_ppm,
             CAST(t_u * 1000000 // n_u AS BIGINT) AS u_ppm
      FROM agg
    )
    SELECT field, n_m, t_m, m_ppm, n_u, t_u, u_ppm,
           CAST(CASE WHEN u_ppm = 0 THEN -1
                ELSE CAST(m_ppm AS HUGEINT) * 1000000 // u_ppm
                END AS BIGINT) AS w_agree_ppm,
           CAST(CASE WHEN u_ppm = 1000000 THEN -1
                ELSE CAST(1000000 - m_ppm AS HUGEINT) * 1000000
                     // (1000000 - u_ppm)
                END AS BIGINT) AS w_disagree_ppm
    FROM ppm ORDER BY field
    """,
    tags=("llm", "entity-resolution", "fellegi-sunter", "linkage"),
)
def q378_fellegi_sunter_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter comparison-field weighting: m-probabilities from
    the VERIFIED near-dup pairs (q68, jaccard >= 0.5 — the match set)
    and u-probabilities from md5-bucket random pairs (256 buckets on
    md5(doc_id || ':fs'), matches anti-joined out — the non-match
    sample), per field lang / source / length width-class; the
    agree weight m/u and disagree weight (1-m)/(1-u) in exact ppm
    (ratios of ppm values in DECIMAL(38,0) lanes, one truncation
    each; zero/full denominators CASE-guarded to the documented -1
    sentinel). High lang agree-weight and ~1.0 source weights tell
    the linker which fields actually separate matches from chance.

    Scale: the match side is the bucketed q68 operator; the u sample
    is bucket-local pairing (n/256 per bucket — the bucket count is
    the knob that keeps the sample linear-ish in n), and both collapse
    to per-field counts before any division."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates

    f = docs.select(
        "doc_id",
        "lang",
        "source",
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
        .cast("int")
        .alias("wclass"),
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":fs"))), 1, 2
        ).alias("bucket"),
    ).persist()
    mp = minhash_near_duplicates(docs, jaccard_threshold=0.5).select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    )
    up = (
        f.alias("x")
        .join(
            f.alias("y"),
            (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col("x.doc_id") < F.col("y.doc_id")),
        )
        .select(F.col("x.doc_id").alias("a"), F.col("y.doc_id").alias("b"))
        .join(mp, ["a", "b"], "left_anti")
    )

    def compared(side: str, pr: DataFrame) -> DataFrame:
        fa = f.select(
            F.col("doc_id").alias("a"),
            F.col("lang").alias("la"),
            F.col("source").alias("sa"),
            F.col("wclass").alias("wa"),
        )
        fb = f.select(
            F.col("doc_id").alias("b"),
            F.col("lang").alias("lb"),
            F.col("source").alias("sb"),
            F.col("wclass").alias("wb"),
        )
        return (
            pr.join(fa, "a")
            .join(fb, "b")
            .select(
                F.lit(side).alias("side"),
                F.expr(
                    "stack(3,"
                    " 'lang',   CASE WHEN la = lb THEN 1 ELSE 0 END,"
                    " 'source', CASE WHEN sa = sb THEN 1 ELSE 0 END,"
                    " 'wclass', CASE WHEN wa = wb THEN 1 ELSE 0 END"
                    ") AS (field, ag)"
                ),
            )
        )

    longf = compared("m", mp).unionAll(compared("u", up))
    agg = longf.groupBy("field").agg(
        F.sum(F.expr("CASE WHEN side = 'm' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_m"),
        F.sum(F.expr("CASE WHEN side = 'm' THEN ag ELSE 0 END"))
        .cast("bigint")
        .alias("t_m"),
        F.sum(F.expr("CASE WHEN side = 'u' THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_u"),
        F.sum(F.expr("CASE WHEN side = 'u' THEN ag ELSE 0 END"))
        .cast("bigint")
        .alias("t_u"),
    )
    out = (
        agg.select(
            "field",
            "n_m",
            "t_m",
            "n_u",
            "t_u",
            F.expr("CAST(t_m * 1000000 div n_m AS BIGINT)").alias("m_ppm"),
            F.expr("CAST(t_u * 1000000 div n_u AS BIGINT)").alias("u_ppm"),
        )
        .select(
            "field",
            "n_m",
            "t_m",
            "m_ppm",
            "n_u",
            "t_u",
            "u_ppm",
            F.expr(
                "CAST(CASE WHEN u_ppm = 0 THEN -1"
                " ELSE CAST(m_ppm AS DECIMAL(38,0)) * 1000000 div u_ppm"
                " END AS BIGINT)"
            ).alias("w_agree_ppm"),
            F.expr(
                "CAST(CASE WHEN u_ppm = 1000000 THEN -1"
                " ELSE CAST(1000000 - m_ppm AS DECIMAL(38,0)) * 1000000"
                " div (1000000 - u_ppm) END AS BIGINT)"
            ).alias("w_disagree_ppm"),
        )
        .orderBy("field")
    )
    return out


# ---------------------------------------------------------------------------
# q379 — selection regression-to-mean (winner's curse)
# ---------------------------------------------------------------------------


@query(
    "q379_selection_regression_to_mean",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CAST(SUM(CASE WHEN DATEDIFF('day', DATE '1970-01-01',
                                          CAST(ts AS DATE)) % 2 = 1
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_odd,
             CAST(SUM(CASE WHEN DATEDIFF('day', DATE '1970-01-01',
                                          CAST(ts AS DATE)) % 2 = 0
                           THEN 1 ELSE 0 END) AS BIGINT) AS c_even
      FROM events GROUP BY user_id
    ),
    top5 AS (
      SELECT user_id FROM u ORDER BY c_odd DESC, user_id LIMIT 5
    ),
    tagged AS (
      SELECT CASE WHEN t.user_id IS NULL THEN 'rest' ELSE 'top5' END
               AS cohort,
             u.c_odd, u.c_even
      FROM u LEFT JOIN top5 t ON t.user_id = u.user_id
    ),
    stacked AS (
      SELECT cohort, c_odd, c_even FROM tagged
      UNION ALL
      SELECT 'all', c_odd, c_even FROM tagged
    )
    SELECT cohort,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(c_odd) AS BIGINT) AS odd_events,
           CAST(SUM(c_even) AS BIGINT) AS even_events,
           CAST(SUM(c_odd) * 1000000 // COUNT(*) AS BIGINT)
             AS odd_mean_micro,
           CAST(SUM(c_even) * 1000000 // COUNT(*) AS BIGINT)
             AS even_mean_micro,
           CAST(CASE WHEN SUM(c_odd) = 0 THEN -1
                ELSE SUM(c_even) * 1000000 // SUM(c_odd) END AS BIGINT)
             AS even_to_odd_ppm
    FROM stacked GROUP BY cohort ORDER BY cohort
    """,
    tags=("llm", "selection-bias", "regression-to-mean", "ab-test"),
)
def q379_selection_regression_to_mean(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Winner's-curse audit: split each user's events by calendar-day
    parity (an arbitrary, assignment-free A/B of time), select the
    top-5 users by odd-day count (TakeOrdered, id tiebreak), and
    report each cohort's (top5 / rest / all) odd- and even-day means
    and the even:odd ratio in ppm — selecting on odd-day performance
    inflates it, so the top cohort's ratio regresses below the
    population's (the same phenomenon q297 shrinks against,
    instrumented as a replayable table). All outputs are truncating
    micro/ppm divisions of exact counts.

    Scale: one user-grain aggregate, one global top-k (k = 5), one
    broadcast-tag pass, one 3-row rollup."""
    events = load(spark, sf_dir, "events")
    parity = (
        F.datediff(F.col("ts").cast("date"), F.lit("1970-01-01").cast("date"))
        % 2
    )
    u = events.groupBy("user_id").agg(
        F.sum(F.when(parity == 1, 1).otherwise(0)).cast("bigint").alias("c_odd"),
        F.sum(F.when(parity == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("c_even"),
    )
    top5 = (
        u.orderBy(F.desc("c_odd"), "user_id")
        .limit(5)
        .select("user_id", F.lit(1).alias("_t"))
    )
    tagged = (
        u.join(F.broadcast(top5), "user_id", "left")
        .select(
            F.when(F.col("_t").isNull(), "rest").otherwise("top5").alias("cohort"),
            "c_odd",
            "c_even",
        )
        .persist()
    )
    both = tagged.unionAll(
        tagged.select(F.lit("all").alias("cohort"), "c_odd", "c_even")
    )
    out = (
        both.groupBy("cohort")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("c_odd").cast("bigint").alias("odd_events"),
            F.sum("c_even").cast("bigint").alias("even_events"),
        )
        .select(
            "cohort",
            "n_users",
            "odd_events",
            "even_events",
            F.expr("CAST(odd_events * 1000000 div n_users AS BIGINT)").alias(
                "odd_mean_micro"
            ),
            F.expr("CAST(even_events * 1000000 div n_users AS BIGINT)").alias(
                "even_mean_micro"
            ),
            F.expr(
                "CAST(CASE WHEN odd_events = 0 THEN -1"
                " ELSE even_events * 1000000 div odd_events END AS BIGINT)"
            ).alias("even_to_odd_ppm"),
        )
        .orderBy("cohort")
    )
    return out


# ---------------------------------------------------------------------------
# q380 — decile quantile-treatment-effect
# ---------------------------------------------------------------------------


@query(
    "q380_decile_qte",
    oracle=f"""
    WITH u AS (
      SELECT user_id, {_sql_gate("user_id", ":exp2")} AS t,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY user_id
    ),
    vg AS (
      SELECT t, c AS v, CAST(COUNT(*) AS BIGINT) AS freq
      FROM u GROUP BY t, c
    ),
    cum AS (
      SELECT t, v,
             CAST(SUM(freq) OVER (PARTITION BY t ORDER BY v) AS BIGINT)
               AS cum
      FROM vg
    ),
    n AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS n FROM u GROUP BY t),
    deciles(decile) AS (VALUES (10), (20), (30), (40), (50), (60), (70),
                               (80), (90)),
    q AS (
      SELECT d.decile, c.t, MIN(c.v) AS qv
      FROM deciles d
      JOIN n ON TRUE
      JOIN cum c ON c.t = n.t AND c.cum >= (d.decile * n.n + 99) // 100
      GROUP BY d.decile, c.t
    )
    SELECT qt.decile,
           nt.n AS n_t, nc.n AS n_c,
           qt.qv AS q_t, qc.qv AS q_c,
           qt.qv - qc.qv AS qte
    FROM q qt
    JOIN q qc ON qc.decile = qt.decile AND qc.t = 0
    JOIN n nt ON nt.t = 1
    JOIN n nc ON nc.t = 0
    WHERE qt.t = 1
    ORDER BY qt.decile
    """,
    tags=("llm", "causal", "quantile", "ab-test"),
)
def q380_decile_qte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile quantile-treatment-effect: per decile 10..90, the EXACT
    nearest-rank quantile (rank = CEIL(d*n/100) as the pure integer
    (d*n + 99) // 100) of per-user event counts in the md5 ':exp2'
    treatment and control arms, and their difference — the
    distributional readout that detects a treatment moving the tails
    while the q364 mean stays flat. Quantiles come from a value-grain
    cumulative (group per-user counts by VALUE, cumulate over the few
    hundred distinct values per arm — the q267/q331 histogram-guided
    rank pattern), never from a global row sort.

    Scale: user-grain aggregate -> value-grain aggregate -> a window
    over distinct values per arm (reduced frame) -> a 9-row decile
    join. Nothing at row grain after the first groupBy."""
    events = load(spark, sf_dir, "events")
    u = events.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    ).select(
        _spark_gate("user_id", ":exp2").alias("t"), "c"
    )
    vg = u.groupBy("t", F.col("c").alias("v")).agg(
        F.count(F.lit(1)).cast("bigint").alias("freq")
    )
    # value-grain cumulative: the window runs over DISTINCT per-user
    # counts within an arm — a reduced frame (hundreds of rows), not
    # the user table.
    wv = W.partitionBy("t").orderBy("v")
    cum = vg.select("t", "v", F.sum("freq").over(wv).cast("bigint").alias("cum"))
    n = u.groupBy("t").agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    deciles = spark.createDataFrame([(d,) for d in range(10, 100, 10)], "decile int")
    q = (
        deciles.crossJoin(F.broadcast(n))
        .join(cum, "t")
        .filter(F.col("cum") >= F.expr("(decile * n + 99) div 100"))
        .groupBy("decile", "t")
        .agg(F.min("v").alias("qv"))
    )
    qt = q.filter(F.col("t") == 1).select("decile", F.col("qv").alias("q_t"))
    qc = q.filter(F.col("t") == 0).select("decile", F.col("qv").alias("q_c"))
    nt = n.filter(F.col("t") == 1).select(F.col("n").alias("n_t"))
    nc = n.filter(F.col("t") == 0).select(F.col("n").alias("n_c"))
    return (
        qt.join(qc, "decile")
        .crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nc))
        .select(
            "decile",
            "n_t",
            "n_c",
            "q_t",
            "q_c",
            (F.col("q_t") - F.col("q_c")).alias("qte"),
        )
        .orderBy("decile")
    )
