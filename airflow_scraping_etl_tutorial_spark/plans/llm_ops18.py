"""LLM-ops wave 19: estimation and inference — an exact-integer
chi-square test for A/B conversion, empirical-Bayes rate shrinkage,
capture-recapture corpus-size estimation, and unseen-vocabulary
estimators (Chao1, Good-Turing) — the inference ring over the counting
machinery of waves 1-18.

Output-hardening doctrine (as waves 6-18): BIGINT-cast integer
aggregates, q253-doctrine truncating division, md5 gates for every
deterministic "random" draw (q105/q246 doctrine), and — the wave's
own trick — statistical tests stated as INTEGER RATIONAL
inequalities (the chi-square critical value 3.841 becomes the exact
cross-multiplication 1000·N·(ad−bc)² vs 3841·row/col products, in
DECIMAL(38,0)/HUGEINT), so significance flags carry no float.

Reference parity: the reference reports raw daily numbers
(dags/Final_app.py:79-149); this wave is what turns raw counts into
defensible statements — is the difference real (q296), what is a
small feed's rate really (q297), how big is the corpus we have NOT
crawled (q298), and how much vocabulary is still unseen (q299).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import tokens
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q296 — exact-integer chi-square A/B conversion test
# ---------------------------------------------------------------------------


@query(
    "q296_ab_chisquare_conversion",
    oracle="""
    WITH u AS (
      SELECT user_id,
             CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR)
                                           || ':exp2'), 1, 2) AS INTEGER) < 128
                  THEN 'A' ELSE 'B' END AS variant,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
      FROM events GROUP BY user_id
    ),
    cells AS (
      SELECT CAST(SUM(CASE WHEN variant = 'A' AND conv = 1
                      THEN 1 ELSE 0 END) AS HUGEINT) AS a,
             CAST(SUM(CASE WHEN variant = 'A' AND conv = 0
                      THEN 1 ELSE 0 END) AS HUGEINT) AS b,
             CAST(SUM(CASE WHEN variant = 'B' AND conv = 1
                      THEN 1 ELSE 0 END) AS HUGEINT) AS c,
             CAST(SUM(CASE WHEN variant = 'B' AND conv = 0
                      THEN 1 ELSE 0 END) AS HUGEINT) AS d
      FROM u
    )
    SELECT CAST(a + b + c + d AS BIGINT) AS n_users,
           CAST(a AS BIGINT) AS a_conv,
           CAST(b AS BIGINT) AS a_noconv,
           CAST(c AS BIGINT) AS b_conv,
           CAST(d AS BIGINT) AS b_noconv,
           CAST(CASE WHEN (a+b)*(c+d)*(a+c)*(b+d) = 0 THEN 0
                     ELSE (1000 * (a+b+c+d) * (a*d - b*c) * (a*d - b*c))
                          // ((a+b)*(c+d)*(a+c)*(b+d))
                END AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN (a+b)*(c+d)*(a+c)*(b+d) = 0 THEN 0
                     WHEN 1000 * (a+b+c+d) * (a*d - b*c) * (a*d - b*c)
                          > 3841 * (a+b)*(c+d)*(a+c)*(b+d)
                     THEN 1 ELSE 0
                END AS INT) AS significant
    FROM cells
    """,
    tags=("audit", "abtest", "chisquare", "inference"),
)
def q296_ab_chisquare_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Did the variant move conversion? Users split 50/50 by an md5
    gate (the q105/q246 assignment doctrine; q246 audits the SPLIT,
    this tests the OUTCOME), outcome = ever purchased, and the 2×2
    chi-square statistic χ² = N(ad−bc)²/((a+b)(c+d)(a+c)(b+d))
    evaluated as an exact rational: the reported chi2_milli is the
    ×1000 truncating quotient and the α=0.05 significance flag is
    the integer cross-multiplication 1000·N·(ad−bc)² > 3841·D — the
    critical value 3.841 enters as the exact rational 3841/1000, so
    the flag involves no float on either engine. Cell products run
    in DECIMAL(38,0)/HUGEINT (N·(ad−bc)² exceeds int64 past ~10⁵
    users; the 38-digit envelope holds to ~10⁹ users — past that,
    test on proportions scaled down by a common factor).

    Scale: one user-grouped aggregate (variant and outcome are both
    pure functions of the user's rows), then a 4-cell reduce —
    constant-size state after the single user shuffle."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv")
    ).select(
        F.when(
            F.conv(
                F.substring(
                    F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp2"))),
                    1,
                    2,
                ),
                16,
                10,
            ).cast("int")
            < 128,
            "A",
        )
        .otherwise("B")
        .alias("variant"),
        "conv",
    )
    cells = u.agg(
        F.sum(F.when((F.col("variant") == "A") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("a"),
        F.sum(F.when((F.col("variant") == "A") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("b"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("conv") == 1), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("c"),
        F.sum(F.when((F.col("variant") == "B") & (F.col("conv") == 0), 1).otherwise(0))
        .cast("decimal(38,0)")
        .alias("d"),
    )
    den = "(a+b)*(c+d)*(a+c)*(b+d)"
    num = "1000 * (a+b+c+d) * (a*d - b*c) * (a*d - b*c)"
    return cells.select(
        F.expr("CAST(a + b + c + d AS BIGINT)").alias("n_users"),
        F.col("a").cast("bigint").alias("a_conv"),
        F.col("b").cast("bigint").alias("a_noconv"),
        F.col("c").cast("bigint").alias("b_conv"),
        F.col("d").cast("bigint").alias("b_noconv"),
        F.expr(
            f"CAST(CASE WHEN {den} = 0 THEN 0"
            f" ELSE ({num}) div ({den}) END AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            f"CAST(CASE WHEN {den} = 0 THEN 0"
            f" WHEN {num} > 3841 * {den} THEN 1 ELSE 0 END AS INT)"
        ).alias("significant"),
    )


# ---------------------------------------------------------------------------
# q297 — empirical-Bayes shrinkage of per-source rates
# ---------------------------------------------------------------------------

_PRIOR_K = 100
_LONG_CHARS = 1000


@query(
    "q297_empirical_bayes_rates",
    oracle=f"""
    WITH s AS (
      SELECT source,
             COUNT(*) AS n,
             SUM(CASE WHEN n_chars >= {_LONG_CHARS} THEN 1 ELSE 0 END) AS x
      FROM documents GROUP BY source
    ),
    g AS (SELECT SUM(n) AS dn, SUM(x) AS dx FROM s)
    SELECT s.source,
           CAST(s.n AS BIGINT) AS n_docs,
           CAST(s.x AS BIGINT) AS n_long,
           CAST((1000000 * s.x) // s.n AS BIGINT) AS raw_ppm,
           CAST((1000000 * (s.x * g.dn + {_PRIOR_K} * g.dx))
                // (g.dn * (s.n + {_PRIOR_K})) AS BIGINT) AS shrunk_ppm,
           CAST((1000000 * g.dx) // g.dn AS BIGINT) AS global_ppm
    FROM s CROSS JOIN g ORDER BY s.source
    """,
    tags=("llm", "inference", "shrinkage", "rates"),
)
def q297_empirical_bayes_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes rate shrinkage: each source's long-document
    rate pulled toward the corpus rate with prior strength k=100
    pseudo-observations — shrunk = (x + k·p̂)/(n + k), the estimator
    that stops a 12-document source with 11 long docs from topping a
    leaderboard above a 10,000-document source at 60% (q286 shows
    rankings are noisy; this is the standard fix). Kept exact: with
    p̂ = X/N as a rational, shrunk_ppm = 10⁶·(x·N + k·X) / (N·(n+k))
    is one truncating division of exact int64 products (bound:
    x·N ≤ 10⁹·10⁹ needs DECIMAL(38,0) past ~3·10⁹ docs — documented
    hatch).

    Scale: one per-source aggregate plus a 1-row global broadcast —
    the shrinkage arithmetic is map-side on |sources| rows."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(
            F.when(F.col("n_chars") >= _LONG_CHARS, 1).otherwise(0)
        ).alias("x"),
    )
    g = s.agg(F.sum("n").alias("dn"), F.sum("x").alias("dx"))
    return (
        s.crossJoin(F.broadcast(g))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_docs"),
            F.col("x").cast("bigint").alias("n_long"),
            F.expr("CAST((1000000 * x) div n AS BIGINT)").alias("raw_ppm"),
            F.expr(
                f"CAST((1000000 * (x * dn + {_PRIOR_K} * dx))"
                f" div (dn * (n + {_PRIOR_K})) AS BIGINT)"
            ).alias("shrunk_ppm"),
            F.expr("CAST((1000000 * dx) div dn AS BIGINT)").alias("global_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q298 — capture-recapture corpus-size estimation
# ---------------------------------------------------------------------------


@query(
    "q298_capture_recapture_estimate",
    oracle="""
    WITH m AS (
      SELECT doc_id,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':c1'), 1, 1)
                       < '8' THEN 1 ELSE 0 END AS s1,
             CASE WHEN SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':c2'), 1, 1)
                       < '8' THEN 1 ELSE 0 END AS s2
      FROM documents
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs_true,
           CAST(SUM(s1) AS BIGINT) AS n_crawl1,
           CAST(SUM(s2) AS BIGINT) AS n_crawl2,
           CAST(SUM(s1 * s2) AS BIGINT) AS n_overlap,
           CAST(CASE WHEN SUM(s1 * s2) = 0 THEN 0
                     ELSE (SUM(s1) * SUM(s2)) // SUM(s1 * s2)
                END AS BIGINT) AS lincoln_petersen,
           CAST((SUM(s1) + 1) * (SUM(s2) + 1) // (SUM(s1 * s2) + 1) - 1
                AS BIGINT) AS chapman
    FROM m
    """,
    tags=("llm", "inference", "coverage", "estimation"),
)
def q298_capture_recapture_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How big is the corpus we have NOT fully crawled? Two
    independent deterministic "crawls" (md5 gates with different
    salts, each catching ~half the docs — the q105 doctrine standing
    in for two real crawl passes) and the capture-recapture
    estimators over their overlap: Lincoln-Petersen N̂ = n₁n₂/m and
    Chapman's bias-corrected (n₁+1)(n₂+1)/(m+1) − 1. Because the
    fixture's truth is known, the output carries both the estimates
    AND the true count — the calibration a crawl-coverage dashboard
    shows before anyone trusts the estimator on the real frontier
    (where truth is unknown). All integers; truncating division on
    nonnegative operands.

    Scale: one map-side pass (both gates are pure functions of the
    key) into a 4-accumulator scalar reduce."""
    docs = load(spark, sf_dir, "documents")
    gate = lambda salt: F.when(  # noqa: E731
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(salt))), 1, 1
        )
        < "8",
        1,
    ).otherwise(0)
    m = docs.select(gate(":c1").alias("s1"), gate(":c2").alias("s2"))
    return m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs_true"),
        F.sum("s1").cast("bigint").alias("n_crawl1"),
        F.sum("s2").cast("bigint").alias("n_crawl2"),
        F.sum(F.col("s1") * F.col("s2")).cast("bigint").alias("n_overlap"),
        F.expr(
            "CAST(CASE WHEN SUM(s1 * s2) = 0 THEN 0"
            " ELSE (SUM(s1) * SUM(s2)) div SUM(s1 * s2)"
            " END AS BIGINT)"
        ).alias("lincoln_petersen"),
        F.expr(
            "CAST((SUM(s1) + 1) * (SUM(s2) + 1) div (SUM(s1 * s2) + 1) - 1"
            " AS BIGINT)"
        ).alias("chapman"),
    )


# ---------------------------------------------------------------------------
# q299 — unseen-vocabulary estimators (Chao1, Good-Turing)
# ---------------------------------------------------------------------------


@query(
    "q299_unseen_vocab_estimators",
    oracle="""
    WITH tok AS (
      SELECT UNNEST(STRING_SPLIT(text, ' ')) AS t FROM documents
    ),
    freq AS (SELECT t, COUNT(*) AS c FROM tok GROUP BY t),
    s AS (
      SELECT CAST(SUM(c) AS BIGINT) AS n_tokens,
             CAST(COUNT(*) AS BIGINT) AS vocab_size,
             CAST(SUM(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
             CAST(SUM(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2
      FROM freq
    )
    SELECT n_tokens, vocab_size, f1, f2,
           CAST(vocab_size + (f1 * (f1 - 1)) // (2 * (f2 + 1)) AS BIGINT)
             AS chao1_estimate,
           CAST((1000000 * f1) // n_tokens AS BIGINT) AS unseen_mass_ppm
    FROM s
    """,
    tags=("llm", "text", "vocabulary", "estimation"),
)
def q299_unseen_vocab_estimators(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much vocabulary have we NOT seen? Chao1's lower bound on
    total vocabulary size, S + f₁(f₁−1)/(2(f₂+1)) (the
    bias-corrected form, safe at f₂=0), and the Good-Turing unseen
    probability mass f₁/N in ppm — the two numbers a tokenizer
    budget and a crawl-more-or-stop decision hang on (q189 fits
    Heaps' growth curve; q196 counts hapaxes per source; these
    ESTIMATE what is still missing from the corpus as a whole).
    Both estimators read only the frequency-of-frequencies (f₁, f₂)
    and exact totals, so the whole audit is integer arithmetic on
    four numbers.

    Scale: one token aggregate (vocab << corpus, map-side combined)
    then a vocab-sized frequency-of-frequencies reduce to a single
    4-column row — the corpus is scanned once."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("t")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    return freq.agg(
        F.sum("c").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("vocab_size"),
        F.sum(F.when(F.col("c") == 1, 1).otherwise(0)).cast("bigint").alias("f1"),
        F.sum(F.when(F.col("c") == 2, 1).otherwise(0)).cast("bigint").alias("f2"),
    ).select(
        "n_tokens",
        "vocab_size",
        "f1",
        "f2",
        F.expr(
            "CAST(vocab_size + (f1 * (f1 - 1)) div (2 * (f2 + 1)) AS BIGINT)"
        ).alias("chao1_estimate"),
        F.expr("CAST((1000000 * f1) div n_tokens AS BIGINT)").alias(
            "unseen_mass_ppm"
        ),
    )
