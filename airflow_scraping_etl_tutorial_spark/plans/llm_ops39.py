"""LLM-ops wave 40: the paired and k-rater nonparametric tests, and a
pure-SQL robust location estimate — closing the classical-inference
ring opened in waves 28-32:

- q360: Wilcoxon signed-rank test on week-over-week daily event
  volume (day d vs day d+7 pairs) — the PAIRED magnitude-aware test
  the ring lacked (q325's Mann-Whitney is unpaired, q300's
  permutation test ignores magnitude ranks). Exact tie-corrected
  integers via doubled midranks.
- q361: Cochran's Q across THREE binary raters on the same documents
  (q353's two English-detectors + the q63 length gate) — the
  k-rater generalization of McNemar (q358); k=3 clears the
  denominators, so Q is an exact integer rational.
- q362: winsorized mean of daily event counts per event type —
  clamp at the exact nearest-rank P10/P90 per type, report raw vs
  winsorized mean and the clamp counts; the pure-SQL robust-location
  twin of q85's trimmed-mean UDAF and q234's median/MAD.

Output-hardening doctrine (as waves 6-39): midranks are kept integer
by DOUBLING (2m = 2L + t + 1 for L smaller values and t ties);
variance tie corrections enter as Sum(t^3 - t) with the /12 cleared
by cross-multiplication; Cochran's Q multiplies through by k=3; all
decisions are integer cross-multiplications against 3841/1000 (z^2)
or 5991/1000 (chi^2_2); zero-variance denominators are pinned to 0
by CASE guards on both engines; all integer-sum oracle outputs CAST
to BIGINT.

Reference parity: the reference's one daily number per feed
(README.md:21) is exactly the per-day series q360/q362 harden —
"did this week really move?" and "what's the typical day once
outliers are clamped?" — and q361 is the agreement gate for the
rater stack any curation of such feeds grows.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS, language_id, tokens
from ..sources.tables import load
from .llm_ops import _sql_stop_ratio
from .registry import query

# ---------------------------------------------------------------------------
# q360 — Wilcoxon signed-rank on week-over-week daily volume
# ---------------------------------------------------------------------------


@query(
    "q360_wilcoxon_signed_rank",
    oracle="""
    WITH daily AS (
      SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1
    ),
    pairs AS (
      SELECT b.c - a.c AS diff
      FROM daily a JOIN daily b ON b.day = a.day + CAST(7 AS INT)
    ),
    nz AS (SELECT diff, ABS(diff) AS ad FROM pairs WHERE diff <> 0),
    grp AS (
      SELECT ad,
             CAST(COUNT(*) AS BIGINT) AS t,
             CAST(SUM(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS t_pos
      FROM nz GROUP BY ad
    ),
    ranked AS (
      SELECT ad, t, t_pos,
             CAST(COALESCE(SUM(t) OVER (ORDER BY ad
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                  AS BIGINT) AS l
      FROM grp
    ),
    agg AS (
      SELECT CAST(SUM(t) AS BIGINT) AS n,
             CAST(SUM(t_pos) AS BIGINT) AS n_pos,
             CAST(SUM(t_pos * (2 * l + t + 1)) AS BIGINT) AS s2,
             CAST(SUM(t * t * t - t) AS BIGINT) AS tie3
      FROM ranked
    )
    SELECT n, n_pos, s2 AS twice_w_plus,
           CAST(2 * s2 - n * (n + 1) AS BIGINT) AS d_centered,
           CAST(CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie3 = 0 THEN 0
                ELSE 3000 * (2 * s2 - n * (n + 1)) * (2 * s2 - n * (n + 1))
                     // (2 * n * (n + 1) * (2 * n + 1) - tie3) END
                AS BIGINT) AS z2_milli,
           CAST(CASE WHEN 3000 * (2 * s2 - n * (n + 1))
                          * (2 * s2 - n * (n + 1))
                          > 3841 * (2 * n * (n + 1) * (2 * n + 1) - tie3)
                     THEN 1 ELSE 0 END AS INT) AS reject_95
    FROM agg
    """,
    tags=("llm", "stats", "wilcoxon", "paired-test"),
)
def q360_wilcoxon_signed_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilcoxon signed-rank test on week-over-week daily event volume
    (day d paired with day d+7, zero diffs dropped per the classic
    procedure): the paired, magnitude-rank-aware test that detects a
    consistent weekly drift a sign test would dilute and an unpaired
    test would miss entirely. Everything is exact integers: the
    doubled midrank of |diff| group g is 2m = 2L + t + 1 (L = count
    of smaller |diff|s, t = ties at g), S = 2W+ sums t_pos doubled
    midranks, and the normal approximation with tie correction is
    decided by 3000*(2S - n(n+1))^2 > 3841*(2n(n+1)(2n+1) - Sum(t^3
    - t)) — no /24 fraction ever materializes.

    Scale: the pair table is day-grain (O(days) after one map-side
    daily rollup); the midrank cumsum runs over DISTINCT |diff|
    values of a day-grain frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    a = daily.select(F.col("day"), F.col("c").alias("ca"))
    b = daily.select(
        F.date_sub(F.col("day"), 7).alias("day"), F.col("c").alias("cb")
    )
    pairs = a.join(b, "day").select((F.col("cb") - F.col("ca")).alias("diff"))
    nz = pairs.filter(F.col("diff") != 0).select(
        "diff", F.abs("diff").alias("ad")
    )
    grp = nz.groupBy("ad").agg(
        F.count(F.lit(1)).cast("bigint").alias("t"),
        F.sum(F.when(F.col("diff") > 0, 1).otherwise(0))
        .cast("bigint")
        .alias("t_pos"),
    )
    # global-window-ok: distinct |diff| values of a day-grain frame
    wr = W.orderBy("ad").rowsBetween(W.unboundedPreceding, -1)
    ranked = grp.select(
        "ad",
        "t",
        "t_pos",
        F.coalesce(F.sum("t").over(wr), F.lit(0)).cast("bigint").alias("l"),
    )
    agg = ranked.agg(
        F.sum("t").cast("bigint").alias("n"),
        F.sum("t_pos").cast("bigint").alias("n_pos"),
        F.sum(F.col("t_pos") * (2 * F.col("l") + F.col("t") + 1))
        .cast("bigint")
        .alias("s2"),
        F.sum(F.col("t") * F.col("t") * F.col("t") - F.col("t"))
        .cast("bigint")
        .alias("tie3"),
    )
    return agg.select(
        "n",
        "n_pos",
        F.col("s2").alias("twice_w_plus"),
        F.expr("CAST(2 * s2 - n * (n + 1) AS BIGINT)").alias("d_centered"),
        F.expr(
            "CAST(CASE WHEN 2 * n * (n + 1) * (2 * n + 1) - tie3 = 0 THEN 0"
            " ELSE 3000 * (2 * s2 - n * (n + 1)) * (2 * s2 - n * (n + 1))"
            " div (2 * n * (n + 1) * (2 * n + 1) - tie3) END AS BIGINT)"
        ).alias("z2_milli"),
        F.expr(
            "CAST(CASE WHEN 3000 * (2 * s2 - n * (n + 1))"
            " * (2 * s2 - n * (n + 1))"
            " > 3841 * (2 * n * (n + 1) * (2 * n + 1) - tie3)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q361 — Cochran's Q across three binary raters
# ---------------------------------------------------------------------------

_TEN_STOPWORDS = (
    "'the', 'a', 'of', 'to', 'and', 'in', 'is', 'it', 'that', 'for'"
)


@query(
    "q361_cochran_q_raters",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN (CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                          x -> x IN ({_TEN_STOPWORDS}))) AS DOUBLE)
                        / LEN(STRING_SPLIT(text, ' '))) >= 0.05
                  THEN 1 ELSE 0 END AS ra,
             CASE WHEN LEN(STRING_SPLIT(text, ' ')) BETWEEN 10 AND 1000
                  THEN 1 ELSE 0 END AS rc,
             {", ".join(f"{_sql_stop_ratio(lang)} AS s_{lang}" for lang in sorted(STOPWORDS))}
      FROM documents
    ),
    best AS (
      SELECT *, GREATEST({", ".join(f"s_{lang}" for lang in sorted(STOPWORDS))}) AS b
      FROM scored
    ),
    flags AS (
      SELECT ra,
             CASE WHEN (CASE WHEN b = 0 THEN 'und'
                        {" ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in sorted(STOPWORDS))}
                        END) = 'en' THEN 1 ELSE 0 END AS rb,
             rc
      FROM best
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(ra) AS BIGINT) AS g1,
             CAST(SUM(rb) AS BIGINT) AS g2,
             CAST(SUM(rc) AS BIGINT) AS g3,
             CAST(SUM((ra + rb + rc) * (ra + rb + rc)) AS BIGINT) AS sl2
      FROM flags
    ),
    lanes AS (
      SELECT n, g1, g2, g3,
             g1 + g2 + g3 AS sl,
             sl2,
             2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)
                  - (g1 + g2 + g3) * (g1 + g2 + g3)) AS q_num,
             3 * (g1 + g2 + g3) - sl2 AS q_den
      FROM cells
    )
    SELECT n, g1, g2, g3,
           CAST(sl AS BIGINT) AS sum_l,
           sl2 AS sum_l2,
           CAST(CASE WHEN q_den = 0 THEN 0
                ELSE 1000 * q_num // q_den END AS BIGINT) AS q_milli,
           CAST(CASE WHEN 1000 * q_num > 5991 * q_den
                     THEN 1 ELSE 0 END AS INT) AS reject_95
    FROM lanes
    """,
    tags=("llm", "eval", "cochran-q", "agreement"),
)
def q361_cochran_q_raters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cochran's Q across three binary raters on the same documents —
    the q353 pair (stopword-ratio gate, stopword-profile argmax-'en')
    plus the q63 length gate — testing whether the three keep-rates
    can be treated as equal (the k-rater generalization of McNemar,
    to which it reduces at k=2). With k=3 the denominators clear
    exactly: Q = 2*(3*Sum(G_j^2) - T^2) / (3*T - Sum(L_i^2)), an
    integer rational decided against chi^2_2 = 5991/1000 by
    cross-multiplication; a rater stack that fails Q needs
    per-rater thresholds re-tuned before consensus labels mean
    anything.

    Scale: three per-row codegen raters, one map-side-combined
    aggregate to a 1-row frame; the per-doc L_i^2 rides the same
    aggregate (no second pass)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_list = [w.strip("'") for w in _TEN_STOPWORDS.split(", ")]
    ra = (
        F.size(F.filter(toks, lambda x: x.isin(stop_list))).cast("double")
        / F.size(toks)
        >= 0.05
    )
    rc = F.size(toks).between(10, 1000)
    pred = language_id(docs).select(
        "doc_id", (F.col("predicted_lang") == "en").alias("is_en")
    )
    flags = (
        docs.select(
            "doc_id",
            F.when(ra, 1).otherwise(0).alias("ra"),
            F.when(rc, 1).otherwise(0).alias("rc"),
        )
        .join(pred, "doc_id")
        .select(
            "ra", F.when(F.col("is_en"), 1).otherwise(0).alias("rb"), "rc"
        )
    )
    lsum = F.col("ra") + F.col("rb") + F.col("rc")
    cells = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("ra").cast("bigint").alias("g1"),
        F.sum("rb").cast("bigint").alias("g2"),
        F.sum("rc").cast("bigint").alias("g3"),
        F.sum(lsum * lsum).cast("bigint").alias("sl2"),
    )
    lanes = cells.select(
        "n",
        "g1",
        "g2",
        "g3",
        F.expr("g1 + g2 + g3").alias("sl"),
        "sl2",
        F.expr(
            "2 * (3 * (g1 * g1 + g2 * g2 + g3 * g3)"
            " - (g1 + g2 + g3) * (g1 + g2 + g3))"
        ).alias("q_num"),
        F.expr("3 * (g1 + g2 + g3) - sl2").alias("q_den"),
    )
    return lanes.select(
        "n",
        "g1",
        "g2",
        "g3",
        F.col("sl").cast("bigint").alias("sum_l"),
        F.col("sl2").alias("sum_l2"),
        F.expr(
            "CAST(CASE WHEN q_den = 0 THEN 0"
            " ELSE 1000 * q_num div q_den END AS BIGINT)"
        ).alias("q_milli"),
        F.expr(
            "CAST(CASE WHEN 1000 * q_num > 5991 * q_den"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q362 — winsorized mean of daily counts per event type
# ---------------------------------------------------------------------------


@query(
    "q362_winsorized_daily_mean",
    oracle="""
    WITH daily AS (
      SELECT event_type, CAST(ts AS DATE) AS day,
             CAST(COUNT(*) AS BIGINT) AS c
      FROM events GROUP BY 1, 2
    ),
    ranked AS (
      SELECT event_type, c,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY c, day) AS r,
             CAST(COUNT(*) OVER (PARTITION BY event_type) AS BIGINT) AS n
      FROM daily
    ),
    cuts AS (
      SELECT event_type, n,
             MAX(CASE WHEN r = CAST((n + 9) // 10 AS BIGINT) THEN c END)
               AS lo,
             MAX(CASE WHEN r = CAST((9 * n + 9) // 10 AS BIGINT) THEN c END)
               AS hi
      FROM ranked GROUP BY event_type, n
    ),
    clamped AS (
      SELECT r.event_type, r.n, k.lo, k.hi,
             CASE WHEN r.c < k.lo THEN k.lo
                  WHEN r.c > k.hi THEN k.hi ELSE r.c END AS w,
             r.c,
             CASE WHEN r.c < k.lo OR r.c > k.hi THEN 1 ELSE 0 END
               AS is_clamped
      FROM ranked r JOIN cuts k ON k.event_type = r.event_type
    )
    SELECT event_type,
           CAST(n AS BIGINT) AS n_days,
           CAST(lo AS BIGINT) AS p10_cut,
           CAST(hi AS BIGINT) AS p90_cut,
           CAST(SUM(is_clamped) AS BIGINT) AS n_clamped,
           CAST(SUM(c) * 1000000 // n AS BIGINT) AS raw_mean_micro,
           CAST(SUM(w) * 1000000 // n AS BIGINT) AS wins_mean_micro
    FROM clamped GROUP BY event_type, n, lo, hi ORDER BY event_type
    """,
    tags=("llm", "stats", "winsorize", "robust"),
)
def q362_winsorized_daily_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized mean of daily event counts per event type: clamp
    each day's count at the exact nearest-rank P10/P90 cuts of its
    own type (rank ceil(n/10) and ceil(9n/10) with (c, day)
    tiebreak), then report raw vs winsorized mean in micro units
    plus the clamp count — the robust daily-volume baseline an
    alerting rule should use instead of a mean a single spike day
    drags (the pure-SQL twin of q85's trimmed-mean UDAF; q234's
    median/MAD is the heavier-tailed sibling). Integer end-to-end:
    counts in, nearest-rank cuts (no interpolation), truncating
    micro-unit means out.

    Scale: the rank runs PARTITIONED by event type over a day-grain
    frame (O(days) rows per type after one map-side daily rollup);
    cuts are a |types|-row broadcast back onto the same frame."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    wt = W.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("c", "day")).alias("r"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    )
    cuts = ranked.groupBy("event_type", "n").agg(
        F.max(
            F.when(F.col("r") == F.expr("CAST((n + 9) div 10 AS BIGINT)"), F.col("c"))
        ).alias("lo"),
        F.max(
            F.when(
                F.col("r") == F.expr("CAST((9 * n + 9) div 10 AS BIGINT)"),
                F.col("c"),
            )
        ).alias("hi"),
    )
    clamped = ranked.join(
        F.broadcast(cuts.select("event_type", "lo", "hi")), "event_type"
    ).select(
        "event_type",
        "n",
        "lo",
        "hi",
        "c",
        F.when(F.col("c") < F.col("lo"), F.col("lo"))
        .when(F.col("c") > F.col("hi"), F.col("hi"))
        .otherwise(F.col("c"))
        .alias("w"),
        F.when(
            (F.col("c") < F.col("lo")) | (F.col("c") > F.col("hi")), 1
        )
        .otherwise(0)
        .alias("is_clamped"),
    )
    return (
        clamped.groupBy("event_type", "n", "lo", "hi")
        .agg(
            F.sum("is_clamped").cast("bigint").alias("n_clamped"),
            F.sum("c").cast("bigint").alias("_sc"),
            F.sum("w").cast("bigint").alias("_sw"),
        )
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("lo").cast("bigint").alias("p10_cut"),
            F.col("hi").cast("bigint").alias("p90_cut"),
            "n_clamped",
            F.expr("CAST(_sc * 1000000 div n AS BIGINT)").alias(
                "raw_mean_micro"
            ),
            F.expr("CAST(_sw * 1000000 div n AS BIGINT)").alias(
                "wins_mean_micro"
            ),
        )
        .orderBy("event_type")
    )
