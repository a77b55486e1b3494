"""LLM-ops wave 43: overlap-span localization, forecast decomposition,
and order-statistic intervals —

- q369: shared-span localization on the q68 near-duplicate pairs —
  the longest run of consecutive shared positional 3-shingles per
  pair (the LCS diagonal trick: equal shingle hashes at offset
  pb - pa form islands) — dedup DETECTION says two docs overlap;
  this says WHERE and HOW MUCH, which is what an attribution or
  excision pass needs.
- q370: Brier score decomposition (reliability - resolution +
  uncertainty) for a temporal-holdout forecast: per-activity-bin
  first-half purchase rates forecasting second-half outcomes — the
  Murphy decomposition that says whether a score is honest (REL),
  informative (RES), or just riding the base rate (UNC).
- q371: nonparametric median confidence interval per event type —
  exact nearest-rank median with order-statistic CI ranks
  (n/2 -+ 1.96*sqrt(n)/2), the distribution-free error bar for the
  q362 robust-location report.

Output-hardening doctrine (as waves 6-42): island runs are pure
integer position arithmetic (pos - row_number within a partitioned
diagonal); Brier terms are exact per-bin rationals truncated to
micro in HUGEINT/DECIMAL(38,0) lanes (the decomposition identity
holds within documented truncation slack, pytest-asserted); CI ranks
are CEIL/FLOOR of identical IEEE doubles (sqrt + the '1.96'
string-cast literal doctrine) clamped to [1, n]; all integer-sum
oracle outputs CAST to BIGINT.

Reference parity: the reference ships one table a day; q369 is the
plagiarism-span forensics for the corpus the engine dedups, q370
audits any rate forecast built on such daily series, and q371 puts
the error bar on the "typical day" number q362 reports.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates
from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .llm_ops19 import _spark_gate, _sql_gate  # noqa: F401  (doctrine import)
from .registry import query

# ---------------------------------------------------------------------------
# q369 — shared-span localization (LCS diagonals) on near-dup pairs
# ---------------------------------------------------------------------------


@query(
    "q369_shared_span_localization",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    psh AS (
      SELECT doc_id, i AS pos,
             CAST('0x' || SUBSTR(MD5(words[i] || ' ' || words[i + 1]
                                     || ' ' || words[i + 2]), 1, 15)
                  AS BIGINT) AS h
      FROM (SELECT doc_id, STRING_SPLIT(text, ' ') AS words
            FROM documents),
           UNNEST(RANGE(1, GREATEST(LEN(words) - 2, 0) + 1)) AS r(i)
    ),
    m AS (
      SELECT p.doc_id_a, p.doc_id_b, a.pos AS pa, b.pos - a.pos AS diag
      FROM pairs p
      JOIN psh a ON a.doc_id = p.doc_id_a
      JOIN psh b ON b.doc_id = p.doc_id_b AND b.h = a.h
    ),
    isl AS (
      SELECT doc_id_a, doc_id_b, diag,
             pa - ROW_NUMBER() OVER (PARTITION BY doc_id_a, doc_id_b, diag
                                     ORDER BY pa) AS grp
      FROM m
    ),
    runs AS (
      SELECT doc_id_a, doc_id_b, CAST(COUNT(*) AS BIGINT) AS run
      FROM isl GROUP BY doc_id_a, doc_id_b, diag, grp
    ),
    per AS (
      SELECT doc_id_a, doc_id_b, CAST(MAX(run) AS BIGINT) AS longest_run
      FROM runs GROUP BY doc_id_a, doc_id_b
    ),
    shared AS (
      SELECT doc_id_a, doc_id_b, CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM m GROUP BY doc_id_a, doc_id_b
    )
    SELECT per.doc_id_a, per.doc_id_b,
           per.longest_run AS longest_run_shingles,
           CAST(per.longest_run + 2 AS BIGINT) AS span_tokens,
           shared.n_shared
    FROM per JOIN shared ON shared.doc_id_a = per.doc_id_a
                        AND shared.doc_id_b = per.doc_id_b
    ORDER BY longest_run_shingles DESC, per.doc_id_a, per.doc_id_b
    LIMIT 20
    """,
    tags=("llm", "dedup", "span", "plagiarism"),
)
def q369_shared_span_localization(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Shared-span localization on the q68 MinHash near-duplicate
    pairs: positional 3-shingles of both docs are joined on their
    60-bit digests, equal shingles land on the diagonal pb - pa, and
    runs of consecutive a-positions within one diagonal (the
    gaps-and-islands pos - row_number trick, q250's ancestor) are
    exactly the maximal contiguous shared token spans — the longest
    one, in tokens, is what an excision/attribution pass would cut.
    Detection (q68) says THAT two docs overlap; this says WHERE and
    HOW MUCH.

    Scale: shingles collapse to 8 B digests before any join; the
    shingle join fans out only over the ALREADY-SPARSE verified pair
    set; the island window is partitioned by (pair, diagonal) —
    bounded by one document's length."""
    docs = load(spark, sf_dir, "documents")
    pairs = (
        minhash_near_duplicates(docs, jaccard_threshold=0.5)
        .select("doc_id_a", "doc_id_b")
        .persist()
    )
    words = F.split(F.col("text"), " ")
    sh = docs.select(
        "doc_id",
        F.posexplode(
            F.when(
                F.size(words) >= 3,
                F.expr(
                    "transform(sequence(1, size(split(text, ' ')) - 2),"
                    " i -> concat_ws(' ', slice(split(text, ' '), i, 3)))"
                ),
            ).otherwise(F.expr("CAST(array() AS ARRAY<STRING>)"))
        ).alias("pos0", "gram"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
        .cast("long")
        .alias("h"),
    )
    a = sh.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("pos").alias("pa"),
        F.col("h"),
    )
    b = sh.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("pos").alias("pb"),
        F.col("h"),
    )
    m = (
        pairs.join(a, "doc_id_a")
        .join(b, ["doc_id_b", "h"])
        .select(
            "doc_id_a",
            "doc_id_b",
            "pa",
            (F.col("pb") - F.col("pa")).alias("diag"),
        )
    )
    wi = W.partitionBy("doc_id_a", "doc_id_b", "diag").orderBy("pa")
    isl = m.select(
        "doc_id_a",
        "doc_id_b",
        "diag",
        (F.col("pa") - F.row_number().over(wi)).alias("grp"),
    )
    runs = isl.groupBy("doc_id_a", "doc_id_b", "diag", "grp").agg(
        F.count(F.lit(1)).cast("bigint").alias("run")
    )
    per = runs.groupBy("doc_id_a", "doc_id_b").agg(
        F.max("run").cast("bigint").alias("longest_run_shingles")
    )
    shared = m.groupBy("doc_id_a", "doc_id_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shared")
    )
    out = (
        per.join(shared, ["doc_id_a", "doc_id_b"])
        .select(
            "doc_id_a",
            "doc_id_b",
            "longest_run_shingles",
            (F.col("longest_run_shingles") + 2)
            .cast("bigint")
            .alias("span_tokens"),
            "n_shared",
        )
        .orderBy(
            F.desc("longest_run_shingles"), "doc_id_a", "doc_id_b"
        )
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q370 — Brier score decomposition on a temporal-holdout forecast
# ---------------------------------------------------------------------------


@query(
    "q370_brier_decomposition",
    oracle="""
    WITH bounds AS (
      SELECT MIN(CAST(ts AS DATE)) AS d0, MAX(CAST(ts AS DATE)) AS d1
      FROM events
    ),
    split AS (
      SELECT d0 + CAST((d1 - d0) // 2 AS INT) AS sd FROM bounds
    ),
    u AS (
      SELECT e.user_id,
             CAST(SUM(CASE WHEN CAST(e.ts AS DATE) <= s.sd
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
             MAX(CASE WHEN CAST(e.ts AS DATE) <= s.sd
                       AND e.event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS buy1,
             MAX(CASE WHEN CAST(e.ts AS DATE) > s.sd
                       AND e.event_type = 'purchase'
                      THEN 1 ELSE 0 END) AS buy2
      FROM events e CROSS JOIN split s
      GROUP BY e.user_id
    ),
    binned AS (
      SELECT CAST(LENGTH(BIN(n_first)) AS INT) AS bin, buy1, buy2
      FROM u WHERE n_first >= 1
    ),
    per AS (
      SELECT bin,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(buy1) AS BIGINT) AS a,
             CAST(SUM(buy2) AS BIGINT) AS b
      FROM binned GROUP BY bin
    ),
    tot AS (
      SELECT CAST(SUM(n) AS BIGINT) AS big_n,
             CAST(SUM(b) AS BIGINT) AS big_b,
             CAST(COUNT(*) AS BIGINT) AS n_bins
      FROM per
    ),
    terms AS (
      SELECT
        CAST(SUM(CAST(a - b AS HUGEINT) * (a - b) * 1000000 // n)
             AS HUGEINT) AS rel_sum,
        CAST(SUM((CAST(b AS HUGEINT) * t.big_n
                  - CAST(t.big_b AS HUGEINT) * n)
                 * (CAST(b AS HUGEINT) * t.big_n
                    - CAST(t.big_b AS HUGEINT) * n) * 1000000
                 // (CAST(n AS HUGEINT) * t.big_n * t.big_n))
             AS HUGEINT) AS res_sum,
        CAST(SUM((CAST(a AS HUGEINT) * a - 2 * CAST(a AS HUGEINT) * b
                  + CAST(b AS HUGEINT) * n) * 1000000 // n)
             AS HUGEINT) AS brier_sum
      FROM per CROSS JOIN tot t
      GROUP BY t.big_n, t.big_b
    )
    SELECT t.big_n AS n_users, t.n_bins,
           CAST(t.big_b * 1000000 // t.big_n AS BIGINT) AS base_rate_ppm,
           CAST(x.rel_sum // t.big_n AS BIGINT) AS rel_micro,
           CAST(x.res_sum // t.big_n AS BIGINT) AS res_micro,
           CAST(CAST(t.big_b AS HUGEINT) * (t.big_n - t.big_b) * 1000000
                // (CAST(t.big_n AS HUGEINT) * t.big_n) AS BIGINT)
             AS unc_micro,
           CAST(x.brier_sum // t.big_n AS BIGINT) AS brier_micro
    FROM terms x CROSS JOIN tot t
    """,
    tags=("llm", "eval", "brier", "calibration"),
)
def q370_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for a temporal-holdout
    forecast: users binned by first-half activity width class, the
    bin's FIRST-half purchase rate forecasting each member's
    SECOND-half purchase flag. Brier = REL - RES + UNC: reliability
    (how far forecasts sit from realized rates), resolution (how
    much the bins separate outcomes), uncertainty (the base rate's
    own variance). A forecast can have a flattering Brier purely via
    UNC — the decomposition is what exposes that. Per-bin terms are
    exact rationals ((a-b)^2/n, (bN-Bn)^2/(nN^2), (a^2-2ab+bn)/n)
    truncated once to micro in HUGEINT/DECIMAL(38,0) lanes; the
    identity holds within the documented truncation slack
    (pytest-asserted).

    Scale: one user-grain aggregate, one bin-grain aggregate
    (width-class bins, no rank pass), 1-row lanes."""
    ev = load(spark, sf_dir, "events")
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("d0"), F.max(F.to_date("ts")).alias("d1")
    )
    split = bounds.select(
        F.expr(
            "date_add(d0, CAST(datediff(d1, d0) div 2 AS INT))"
        ).alias("sd")
    )
    u = (
        ev.crossJoin(F.broadcast(split))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.to_date("ts") <= F.col("sd"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_first"),
            F.max(
                F.when(
                    (F.to_date("ts") <= F.col("sd"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("buy1"),
            F.max(
                F.when(
                    (F.to_date("ts") > F.col("sd"))
                    & (F.col("event_type") == "purchase"),
                    1,
                ).otherwise(0)
            ).alias("buy2"),
        )
    )
    per = (
        u.filter(F.col("n_first") >= 1)
        .select(
            F.length(F.bin(F.col("n_first"))).cast("int").alias("bin"),
            "buy1",
            "buy2",
        )
        .groupBy("bin")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("buy1").cast("bigint").alias("a"),
            F.sum("buy2").cast("bigint").alias("b"),
        )
    )
    tot = per.agg(
        F.sum("n").cast("bigint").alias("big_n"),
        F.sum("b").cast("bigint").alias("big_b"),
        F.count(F.lit(1)).cast("bigint").alias("n_bins"),
    )
    terms = (
        per.crossJoin(F.broadcast(tot))
        .groupBy("big_n", "big_b")
        .agg(
            F.sum(
                F.expr(
                    "CAST(a - b AS DECIMAL(38,0)) * (a - b) * 1000000 div n"
                )
            ).alias("rel_sum"),
            F.sum(
                F.expr(
                    "(CAST(b AS DECIMAL(38,0)) * big_n"
                    " - CAST(big_b AS DECIMAL(38,0)) * n)"
                    " * (CAST(b AS DECIMAL(38,0)) * big_n"
                    " - CAST(big_b AS DECIMAL(38,0)) * n) * 1000000"
                    " div (CAST(n AS DECIMAL(38,0)) * big_n * big_n)"
                )
            ).alias("res_sum"),
            F.sum(
                F.expr(
                    "(CAST(a AS DECIMAL(38,0)) * a"
                    " - 2 * CAST(a AS DECIMAL(38,0)) * b"
                    " + CAST(b AS DECIMAL(38,0)) * n) * 1000000 div n"
                )
            ).alias("brier_sum"),
        )
    )
    return (
        terms.crossJoin(F.broadcast(tot.select("n_bins")))
        .select(
            F.col("big_n").alias("n_users"),
            "n_bins",
            F.expr("CAST(big_b * 1000000 div big_n AS BIGINT)").alias(
                "base_rate_ppm"
            ),
            F.expr("CAST(rel_sum div big_n AS BIGINT)").alias("rel_micro"),
            F.expr("CAST(res_sum div big_n AS BIGINT)").alias("res_micro"),
            F.expr(
                "CAST(CAST(big_b AS DECIMAL(38,0)) * (big_n - big_b)"
                " * 1000000 div (CAST(big_n AS DECIMAL(38,0)) * big_n)"
                " AS BIGINT)"
            ).alias("unc_micro"),
            F.expr("CAST(brier_sum div big_n AS BIGINT)").alias(
                "brier_micro"
            ),
        )
    )


# ---------------------------------------------------------------------------
# q371 — nonparametric median CI per event type
# ---------------------------------------------------------------------------


@query(
    "q371_median_confidence_interval",
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
    ranks AS (
      SELECT event_type, n,
             (n + 1) // 2 AS med_r,
             GREATEST(1, CAST(CEIL((CAST(n AS DOUBLE)
                - CAST('1.96' AS DOUBLE) * SQRT(CAST(n AS DOUBLE))) / 2)
                AS BIGINT)) AS lo_r,
             LEAST(n, CAST(FLOOR((CAST(n AS DOUBLE)
                + CAST('1.96' AS DOUBLE) * SQRT(CAST(n AS DOUBLE))) / 2
                + 1) AS BIGINT)) AS hi_r
      FROM (SELECT DISTINCT event_type, n FROM ranked)
    )
    SELECT k.event_type,
           k.n AS n_days,
           CAST(k.med_r AS BIGINT) AS median_rank,
           CAST(k.lo_r AS BIGINT) AS lo_rank,
           CAST(k.hi_r AS BIGINT) AS hi_rank,
           MAX(CASE WHEN x.r = k.med_r THEN x.c END) AS median_c,
           MAX(CASE WHEN x.r = k.lo_r THEN x.c END) AS ci_lo_c,
           MAX(CASE WHEN x.r = k.hi_r THEN x.c END) AS ci_hi_c
    FROM ranks k JOIN ranked x ON x.event_type = k.event_type
    GROUP BY k.event_type, k.n, k.med_r, k.lo_r, k.hi_r
    ORDER BY k.event_type
    """,
    tags=("llm", "stats", "median", "confidence-interval"),
)
def q371_median_confidence_interval(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Nonparametric confidence interval for the median daily volume
    per event type: the exact lower-median rank (n+1)/2 plus the
    order-statistic CI ranks n/2 -+ 1.96*sqrt(n)/2 (the normal
    approximation to the binomial(n, 1/2) rank interval, clamped to
    [1, n]) — the distribution-free error bar that belongs next to
    q362's winsorized mean: "the typical day is X, and with 95%
    confidence the true median is between the lo_rank-th and
    hi_rank-th order statistics". CEIL/FLOOR land on integers from
    identical IEEE arithmetic (sqrt + string-cast 1.96), so the rank
    selection is bit-stable cross-engine.

    Scale: type-partitioned rank over the day-grain frame (O(days)
    per type); rank selection is a |types|-row join back."""
    ev = load(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    wt = W.partitionBy("event_type")
    ranked = daily.select(
        "event_type",
        "c",
        F.row_number().over(wt.orderBy("c", "day")).alias("r"),
        F.count(F.lit(1)).over(wt).cast("bigint").alias("n"),
    ).persist()
    ranks = ranked.select("event_type", "n").distinct().select(
        "event_type",
        "n",
        F.expr("(n + 1) div 2").alias("med_r"),
        F.expr(
            "GREATEST(1, CAST(CEIL((CAST(n AS DOUBLE)"
            " - CAST('1.96' AS DOUBLE) * SQRT(CAST(n AS DOUBLE))) / 2)"
            " AS BIGINT))"
        ).alias("lo_r"),
        F.expr(
            "LEAST(n, CAST(FLOOR((CAST(n AS DOUBLE)"
            " + CAST('1.96' AS DOUBLE) * SQRT(CAST(n AS DOUBLE))) / 2"
            " + 1) AS BIGINT))"
        ).alias("hi_r"),
    )
    out = (
        ranks.join(
            ranked.select("event_type", "c", "r"), "event_type"
        )
        .groupBy("event_type", "n", "med_r", "lo_r", "hi_r")
        .agg(
            F.max(
                F.when(F.col("r") == F.col("med_r"), F.col("c"))
            ).alias("median_c"),
            F.max(F.when(F.col("r") == F.col("lo_r"), F.col("c"))).alias(
                "ci_lo_c"
            ),
            F.max(F.when(F.col("r") == F.col("hi_r"), F.col("c"))).alias(
                "ci_hi_c"
            ),
        )
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            F.col("med_r").cast("bigint").alias("median_rank"),
            F.col("lo_r").cast("bigint").alias("lo_rank"),
            F.col("hi_r").cast("bigint").alias("hi_rank"),
            "median_c",
            "ci_lo_c",
            "ci_hi_c",
        )
        .orderBy("event_type")
    )
    return out
