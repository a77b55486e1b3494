"""LLM-ops wave 38: survey-sampling estimators and
evaluation/agreement audits —

- q352: Horvitz-Thompson total estimation under dyadic-rate Poisson
  sampling — orders sampled at 1/1, 1/4, 1/16 by price band with
  deterministic md5 coins, the inverse-probability (= the integer
  rate) reweighted total audited against the true total per band.
- q353: Cohen's kappa between two independent English-detectors the
  catalog already ships (q63's stopword-ratio gate and q65's
  stopword-profile argmax) — chance-corrected agreement, the
  inter-annotator statistic for any pair of curation filters.
- q354: Wald-Wolfowitz runs test on the md5 A/B assignment sequence
  in event-time order — too few runs means clustered assignment,
  too many means alternation; the randomness check behind q246's
  SRM audit. Exact integer z^2 via cross-multiplication.
- q355: novel n-gram rate (n = 1, 2, 3) of a held-out md5 document
  split against the train split — the memorization/novelty metric
  for generated-text eval, on 60-bit gram digests.
- q356: temperature-reweighted source mixture (alpha = 1/2 and 1/4
  over char mass) — the p^alpha upsampling rule multilingual and
  multi-source training mixes use, with per-source boost factors.

Output-hardening doctrine (as waves 6-37): all sampling/assignment
coins are md5-derived integers compared against integer thresholds;
HT weights are the integer sampling rates themselves; kappa and the
runs-test z^2 are exact cross-multiplied rationals in HUGEINT /
DECIMAL(38,0) lanes with truncating ppm/milli division (negative
quotients truncate toward zero in BOTH engines, verified wave 24);
sqrt-temperature weights are FLOOR(IEEE sqrt * 1e6) — sqrt is
IEEE-754 correctly rounded in both libms (the q236/q293
identical-IEEE doctrine) and FLOOR lands on an exact integer so
DuckDB's round-on-cast equals Spark's truncate; all integer-sum
oracle outputs CAST to BIGINT.

Reference parity: the reference loads one full day per run
(dags/Final_app.py:26) — q352 is how a platform estimates
full-corpus totals when it can only afford to LOAD a sample, q353/
q355 are the agreement/novelty report cards for text feeds, q354
audits the A/B hash the pipeline would bucket users with, q356
prices the source mix an aggregated feed should be resampled to.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS, language_id, tokens
from ..sources.tables import load
from .llm_ops import _sql_stop_ratio
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q352 — Horvitz-Thompson total under dyadic-rate Poisson sampling
# ---------------------------------------------------------------------------

_POW60 = 1 << 60  # 60-bit md5 coin space


@query(
    "q352_horvitz_thompson_total",
    oracle=f"""
    WITH coined AS (
      SELECT o_orderkey,
             CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)
               AS cents,
             CASE WHEN o_totalprice >= 300000 THEN 'a_full'
                  WHEN o_totalprice >= 100000 THEN 'b_quarter'
                  ELSE 'c_sixteenth' END AS band,
             CASE WHEN o_totalprice >= 300000 THEN 1
                  WHEN o_totalprice >= 100000 THEN 4
                  ELSE 16 END AS rate,
             CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR) || ':ht'),
                                 1, 15) AS BIGINT) AS h
      FROM orders
    ),
    flagged AS (
      SELECT band, rate, cents,
             CASE WHEN h < {_POW60} // rate THEN 1 ELSE 0 END AS sampled
      FROM coined
    ),
    agg AS (
      SELECT band, rate,
             CAST(COUNT(*) AS BIGINT) AS n_pop,
             CAST(SUM(sampled) AS BIGINT) AS n_sampled,
             CAST(SUM(cents) AS BIGINT) AS true_cents,
             CAST(rate * SUM(sampled * cents) AS BIGINT) AS ht_cents
      FROM flagged GROUP BY band, rate
    )
    SELECT band, CAST(rate AS INT) AS rate, n_pop, n_sampled,
           true_cents, ht_cents,
           CAST(CAST(ht_cents - true_cents AS HUGEINT) * 1000000
                // CAST(true_cents AS HUGEINT) AS BIGINT) AS err_ppm
    FROM agg ORDER BY band
    """,
    tags=("llm", "sampling", "horvitz-thompson", "estimator"),
)
def q352_horvitz_thompson_total(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Horvitz-Thompson total estimation under unequal-probability
    (dyadic-rate) Poisson sampling: high-value orders are kept at
    rate 1, mid-value at 1/4, low-value at 1/16 — the classic
    "sample heavy rows at full rate" production design — with a
    deterministic 60-bit md5 coin per order, so both engines draw
    the IDENTICAL sample. The HT estimator reweights each sampled
    row by its inverse inclusion probability (= the integer rate),
    and the audit reports the estimate beside the true total the
    simulation still knows, per band — the calibration run before
    trusting sampled totals on data too large to scan. Dyadic rates
    keep every weight an exact integer: ht = rate * sum(sampled
    cents), no ratio arithmetic anywhere.

    Scale: one map-side-combined aggregate over orders; the coin and
    band are per-row codegen. The error lane is DECIMAL(38,0) so the
    ppm survives any corpus size."""
    o = load(spark, sf_dir, "orders")
    coined = o.select(
        F.expr("CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 100 AS BIGINT)").alias(
            "cents"
        ),
        F.when(F.col("o_totalprice") >= 300000, "a_full")
        .when(F.col("o_totalprice") >= 100000, "b_quarter")
        .otherwise("c_sixteenth")
        .alias("band"),
        F.when(F.col("o_totalprice") >= 300000, 1)
        .when(F.col("o_totalprice") >= 100000, 4)
        .otherwise(16)
        .alias("rate"),
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("o_orderkey").cast("string"), F.lit(":ht"))),
                1,
                15,
            ),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    flagged = coined.select(
        "band",
        "rate",
        "cents",
        F.when(F.col("h") < F.expr(f"CAST({_POW60} AS BIGINT) div rate"), 1)
        .otherwise(0)
        .alias("sampled"),
    )
    agg = flagged.groupBy("band", "rate").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pop"),
        F.sum("sampled").cast("bigint").alias("n_sampled"),
        F.sum("cents").cast("bigint").alias("true_cents"),
        (F.col("rate") * F.sum(F.col("sampled") * F.col("cents")))
        .cast("bigint")
        .alias("ht_cents"),
    )
    return agg.select(
        "band",
        F.col("rate").cast("int").alias("rate"),
        "n_pop",
        "n_sampled",
        "true_cents",
        "ht_cents",
        F.expr(
            "CAST(CAST(ht_cents - true_cents AS DECIMAL(38,0)) * 1000000"
            " div true_cents AS BIGINT)"
        ).alias("err_ppm"),
    ).orderBy("band")


# ---------------------------------------------------------------------------
# q353 — Cohen's kappa between two English-detectors
# ---------------------------------------------------------------------------

_TEN_STOPWORDS = (
    "'the', 'a', 'of', 'to', 'and', 'in', 'is', 'it', 'that', 'for'"
)


@query(
    "q353_rater_agreement_kappa",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id,
             CASE WHEN (CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                          x -> x IN ({_TEN_STOPWORDS}))) AS DOUBLE)
                        / LEN(STRING_SPLIT(text, ' '))) >= 0.05
                  THEN 1 ELSE 0 END AS rater_a,
             {", ".join(f"{_sql_stop_ratio(lang)} AS s_{lang}" for lang in sorted(STOPWORDS))}
      FROM documents
    ),
    best AS (
      SELECT *, GREATEST({", ".join(f"s_{lang}" for lang in sorted(STOPWORDS))}) AS b
      FROM scored
    ),
    pred AS (
      SELECT rater_a,
             CASE WHEN (CASE WHEN b = 0 THEN 'und'
                        {" ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in sorted(STOPWORDS))}
                        END) = 'en'
                  THEN 1 ELSE 0 END AS rater_b
      FROM best
    ),
    cells AS (
      SELECT CAST(SUM(rater_a * rater_b) AS BIGINT) AS n_both_en,
             CAST(SUM(rater_a * (1 - rater_b)) AS BIGINT) AS n_stop_only,
             CAST(SUM((1 - rater_a) * rater_b) AS BIGINT) AS n_langid_only,
             CAST(SUM((1 - rater_a) * (1 - rater_b)) AS BIGINT) AS n_neither,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM pred
    ),
    lanes AS (
      SELECT *,
             CAST(n_both_en + n_neither AS HUGEINT) AS po_num,
             CAST(n_both_en + n_stop_only AS HUGEINT)
               * (n_both_en + n_langid_only)
               + CAST(n_neither + n_stop_only AS HUGEINT)
               * (n_neither + n_langid_only) AS pe_num,
             CAST(n AS HUGEINT) * n AS n2
      FROM cells
    )
    SELECT n, n_both_en, n_stop_only, n_langid_only, n_neither,
           CAST(po_num * 1000000 // n AS BIGINT) AS po_ppm,
           CAST(pe_num * 1000000 // n2 AS BIGINT) AS pe_ppm,
           CAST((n * po_num - pe_num) * 1000000 // (n2 - pe_num) AS BIGINT)
             AS kappa_ppm
    FROM lanes
    """,
    tags=("llm", "eval", "agreement", "kappa"),
)
def q353_rater_agreement_kappa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohen's kappa between two independent English-detectors the
    catalog already runs in production roles: rater A is q63's
    10-stopword ratio gate (>= 0.05), rater B is q65's full
    stopword-profile argmax landing on 'en'. Raw agreement flatters
    any pair of raters that mostly says "yes"; kappa subtracts the
    agreement their marginal rates would produce by chance —
    kappa = (po - pe) / (1 - pe) — which is the statistic annotator
    and filter pipelines report before trusting a consensus label.
    Computed as an exact cross-multiplied rational: po and pe stay
    integer numerators over n and n^2, and the final ppm divisions
    are the only (truncating) divisions anywhere.

    Scale: both raters are per-row codegen array scans; the 2x2
    table is one map-side-combined aggregate; kappa arithmetic runs
    on a 1-row frame in DECIMAL(38,0)/HUGEINT lanes."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_list = [w.strip("'") for w in _TEN_STOPWORDS.split(", ")]
    rater_a = (
        F.size(F.filter(toks, lambda x: x.isin(stop_list))).cast("double")
        / F.size(toks)
        >= 0.05
    )
    pred = language_id(docs).select(
        "doc_id",
        (F.col("predicted_lang") == "en").alias("is_en"),
    )
    both = (
        docs.select("doc_id", F.when(rater_a, 1).otherwise(0).alias("rater_a"))
        .join(pred, "doc_id")
        .select(
            "rater_a",
            F.when(F.col("is_en"), 1).otherwise(0).alias("rater_b"),
        )
    )
    cells = both.agg(
        F.sum(F.col("rater_a") * F.col("rater_b"))
        .cast("bigint")
        .alias("n_both_en"),
        F.sum(F.col("rater_a") * (1 - F.col("rater_b")))
        .cast("bigint")
        .alias("n_stop_only"),
        F.sum((1 - F.col("rater_a")) * F.col("rater_b"))
        .cast("bigint")
        .alias("n_langid_only"),
        F.sum((1 - F.col("rater_a")) * (1 - F.col("rater_b")))
        .cast("bigint")
        .alias("n_neither"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    lanes = cells.select(
        "*",
        F.expr("CAST(n_both_en + n_neither AS DECIMAL(38,0))").alias("po_num"),
        F.expr(
            "CAST(n_both_en + n_stop_only AS DECIMAL(38,0))"
            " * (n_both_en + n_langid_only)"
            " + CAST(n_neither + n_stop_only AS DECIMAL(38,0))"
            " * (n_neither + n_langid_only)"
        ).alias("pe_num"),
        F.expr("CAST(n AS DECIMAL(38,0)) * n").alias("n2"),
    )
    return lanes.select(
        "n",
        "n_both_en",
        "n_stop_only",
        "n_langid_only",
        "n_neither",
        F.expr("CAST(po_num * 1000000 div n AS BIGINT)").alias("po_ppm"),
        F.expr("CAST(pe_num * 1000000 div n2 AS BIGINT)").alias("pe_ppm"),
        F.expr(
            "CAST((n * po_num - pe_num) * 1000000 div (n2 - pe_num)"
            " AS BIGINT)"
        ).alias("kappa_ppm"),
    )


# ---------------------------------------------------------------------------
# q354 — Wald-Wolfowitz runs test on the A/B assignment sequence
# ---------------------------------------------------------------------------


@query(
    "q354_runs_test_assignment",
    oracle=f"""
    WITH lab AS (
      SELECT ts, event_id,
             {_sql_gate("user_id", ":wwruns")} AS lab
      FROM events
    ),
    seq AS (
      SELECT lab, LAG(lab) OVER (ORDER BY ts, event_id) AS prev FROM lab
    ),
    agg AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(lab) AS BIGINT) AS n1,
             CAST(1 + SUM(CASE WHEN prev IS NOT NULL AND prev <> lab
                               THEN 1 ELSE 0 END) AS BIGINT) AS r_runs
      FROM seq
    ),
    lanes AS (
      SELECT n, n1, n - n1 AS n2, r_runs,
             CAST(n AS HUGEINT) * (r_runs - 1)
               - 2 * CAST(n1 AS HUGEINT) * (n - n1) AS d,
             2 * CAST(n1 AS HUGEINT) * (n - n1) AS m2
      FROM agg
    )
    SELECT n, n1, CAST(n2 AS BIGINT) AS n2, r_runs,
           CAST(1000 * d * d * (n - 1) // (m2 * (m2 - n)) AS BIGINT)
             AS z2_milli,
           CAST(CASE WHEN 1000 * d * d * (n - 1) > 3841 * m2 * (m2 - n)
                     THEN 1 ELSE 0 END AS INT) AS reject_95
    FROM lanes
    """,
    tags=("llm", "stats", "runs-test", "ab-test"),
)
def q354_runs_test_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald-Wolfowitz runs test on the md5 A/B user assignment laid
    out in event-time order: R observed runs against the exact null
    moments E[R] = 1 + 2*n1*n2/n and Var[R] = 2*n1*n2*(2*n1*n2 - n)
    / (n^2*(n-1)). Too few runs means assignments CLUSTER in time
    (cache effects, session stickiness leaking into the hash); too
    many means alternation — either breaks the independence q246's
    SRM audit assumes. The decision is float-free: with
    d = n*(R-1) - 2*n1*n2, reject at 95% iff 1000*d^2*(n-1) >
    3841*2*n1*n2*(2*n1*n2-n), cross-multiplied in HUGEINT/
    DECIMAL(38,0) lanes (d^2(n-1)*1000 stays under 1e32 even at
    10^10 events).

    Scale: run boundaries are counted with a DAY-PARTITIONED lag
    (the global sequence is never one task's problem); the stitch
    compares each day's last label with the next day's first on the
    O(days) per-day frame — same decomposition contract as the
    oracle's single global LAG, proven by the strict value gate."""
    ev = load(spark, sf_dir, "events")
    base = ev.select(
        F.to_date("ts").alias("day"),
        "ts",
        "event_id",
        _spark_gate("user_id", ":wwruns").alias("lab"),
    )
    wday = W.partitionBy("day").orderBy("ts", "event_id")
    per_day = (
        base.withColumn("prev_lab", F.lag("lab").over(wday))
        .groupBy("day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_d"),
            F.sum("lab").cast("bigint").alias("n1_d"),
            F.sum(
                F.when(
                    F.col("prev_lab").isNotNull()
                    & (F.col("prev_lab") != F.col("lab")),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("changes_d"),
            F.min(F.struct("ts", "event_id", "lab")).alias("first_s"),
            F.max(F.struct("ts", "event_id", "lab")).alias("last_s"),
        )
    )
    # global-window-ok: per-day frame, O(days) rows after the day rollup
    wdays = W.orderBy("day")
    stitched = per_day.select(
        "n_d",
        "n1_d",
        "changes_d",
        F.col("first_s.lab").alias("first_lab"),
        F.lag(F.col("last_s.lab")).over(wdays).alias("prev_last"),
    )
    agg = stitched.agg(
        F.sum("n_d").cast("bigint").alias("n"),
        F.sum("n1_d").cast("bigint").alias("n1"),
        (
            F.lit(1)
            + F.sum("changes_d")
            + F.sum(
                F.when(
                    F.col("prev_last").isNotNull()
                    & (F.col("prev_last") != F.col("first_lab")),
                    1,
                ).otherwise(0)
            )
        )
        .cast("bigint")
        .alias("r_runs"),
    )
    lanes = agg.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        "r_runs",
        F.expr(
            "CAST(n AS DECIMAL(38,0)) * (r_runs - 1)"
            " - 2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1)"
        ).alias("d"),
        F.expr("2 * CAST(n1 AS DECIMAL(38,0)) * (n - n1)").alias("m2"),
    )
    return lanes.select(
        "n",
        "n1",
        "n2",
        "r_runs",
        F.expr(
            "CAST(1000 * d * d * (n - 1) div (m2 * (m2 - n)) AS BIGINT)"
        ).alias("z2_milli"),
        F.expr(
            "CAST(CASE WHEN 1000 * d * d * (n - 1) > 3841 * m2 * (m2 - n)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q355 — novel n-gram rate of a held-out split
# ---------------------------------------------------------------------------


def _spark_grams(n: int) -> str:
    """Spark SQL: word n-grams of the space-split text (array<string>)."""
    t = "split(text, ' ')"
    return (
        f"CASE WHEN size({t}) >= {n}"
        f" THEN transform(sequence(1, size({t}) - {n} + 1),"
        f" i -> concat_ws(' ', slice({t}, i, {n})))"
        f" ELSE CAST(array() AS ARRAY<STRING>) END"
    )


def _sql_grams(n: int) -> str:
    """DuckDB: word n-grams of the space-split text (1-based slices)."""
    t = "STRING_SPLIT(text, ' ')"
    return (
        f"LIST_TRANSFORM(RANGE(1, LEN({t}) - {n} + 2),"
        f" i -> ARRAY_TO_STRING({t}[i : i + {n} - 1], ' '))"
    )


def _sql_novel_branch(n: int) -> str:
    return f"""
    SELECT CAST({n} AS INT) AS gram_n,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM te{n}) AS n_test_grams,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM te{n}
            LEFT JOIN tr{n} ON te{n}.h = tr{n}.h
            WHERE tr{n}.h IS NULL) AS n_novel,
           (SELECT CAST((SELECT COUNT(*) FROM te{n}
                         LEFT JOIN tr{n} ON te{n}.h = tr{n}.h
                         WHERE tr{n}.h IS NULL) * 1000000
                        // (SELECT COUNT(*) FROM te{n}) AS BIGINT))
             AS novel_ppm
    """


@query(
    "q355_novel_ngram_rate",
    oracle=f"""
    WITH src AS (
      SELECT text,
             {_sql_gate("doc_id", ":novel")} AS train
      FROM documents
    ),
    {", ".join(
        f'''g{n} AS (
      SELECT train, UNNEST({_sql_grams(n)}) AS gram FROM src
    ),
    te{n} AS (
      SELECT DISTINCT CAST('0x' || SUBSTR(MD5(gram), 1, 15) AS BIGINT) AS h
      FROM g{n} WHERE train = 0
    ),
    tr{n} AS (
      SELECT DISTINCT CAST('0x' || SUBSTR(MD5(gram), 1, 15) AS BIGINT) AS h
      FROM g{n} WHERE train = 1
    )''' for n in (1, 2, 3)
    )}
    {" UNION ALL ".join(_sql_novel_branch(n) for n in (1, 2, 3))}
    ORDER BY gram_n
    """,
    tags=("llm", "text", "novelty", "memorization"),
)
def q355_novel_ngram_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novel n-gram rate of a held-out md5 document split against the
    train split, for n = 1, 2, 3: the fraction of the test split's
    DISTINCT word n-grams never seen in training — the standard
    novelty/memorization metric for generated text (a generator
    whose novel-4-gram rate collapses is reciting its corpus), run
    here as the corpus-side calibration: what rate does genuinely
    held-out human text score? Monotone down in n by construction
    at the token level and up in n for novelty — both invariants
    pytest-asserted.

    Scale: each n-gram collapses to a 60-bit md5 digest BEFORE the
    distinct and the anti-join (the wave-5 decontamination doctrine:
    ~8 B/gram shuffles, text never moves); three digest-grain
    anti-joins, no all-pairs anything."""
    docs = load(spark, sf_dir, "documents")
    src = docs.select(
        "text", _spark_gate("doc_id", ":novel").alias("train")
    ).persist()
    branches = []
    for n in (1, 2, 3):
        grams = src.select(
            "train", F.explode(F.expr(_spark_grams(n))).alias("gram")
        ).select(
            "train",
            F.conv(F.substring(F.md5("gram"), 1, 15), 16, 10)
            .cast("long")
            .alias("h"),
        )
        te = grams.filter(F.col("train") == 0).select("h").distinct()
        tr = grams.filter(F.col("train") == 1).select("h").distinct()
        novel = te.join(tr, "h", "left_anti")
        branch = (
            te.agg(F.count(F.lit(1)).cast("bigint").alias("n_test_grams"))
            .crossJoin(
                novel.agg(F.count(F.lit(1)).cast("bigint").alias("n_novel"))
            )
            .select(
                F.lit(n).cast("int").alias("gram_n"),
                "n_test_grams",
                "n_novel",
                F.expr(
                    "CAST(n_novel * 1000000 div n_test_grams AS BIGINT)"
                ).alias("novel_ppm"),
            )
        )
        branches.append(branch)
    out = branches[0].union(branches[1]).union(branches[2]).orderBy("gram_n")
    return out


# ---------------------------------------------------------------------------
# q356 — temperature-reweighted source mixture
# ---------------------------------------------------------------------------


@query(
    "q356_temperature_source_mixture",
    oracle="""
    WITH s AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(n_chars) AS BIGINT) AS chars
      FROM documents GROUP BY source
    ),
    w AS (
      SELECT source, n_docs, chars,
             CAST(FLOOR(SQRT(CAST(chars AS DOUBLE)) * 1000000) AS BIGINT)
               AS w_half,
             CAST(FLOOR(SQRT(SQRT(CAST(chars AS DOUBLE))) * 1000000)
                  AS BIGINT) AS w_quarter
      FROM s
    ),
    tot AS (
      SELECT CAST(SUM(chars) AS BIGINT) AS total_chars,
             CAST(SUM(w_half) AS BIGINT) AS sw_h,
             CAST(SUM(w_quarter) AS BIGINT) AS sw_q
      FROM w
    )
    SELECT w.source, w.n_docs, w.chars,
           CAST(w.chars * 1000000 // t.total_chars AS BIGINT)
             AS natural_ppm,
           CAST(CAST(w.w_half AS HUGEINT) * 1000000 // t.sw_h AS BIGINT)
             AS temp_half_ppm,
           CAST(CAST(w.w_quarter AS HUGEINT) * 1000000 // t.sw_q AS BIGINT)
             AS temp_quarter_ppm,
           CAST(CAST(w.w_half AS HUGEINT) * t.total_chars * 1000000
                // (CAST(t.sw_h AS HUGEINT) * w.chars) AS BIGINT)
             AS boost_half_ppm
    FROM w CROSS JOIN tot t ORDER BY w.source
    """,
    tags=("llm", "curation", "mixture", "temperature"),
)
def q356_temperature_source_mixture(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Temperature-reweighted source mixture: the p^alpha rule
    (alpha = 1/2 and 1/4 over char mass) that multilingual and
    multi-source training mixes use to upsample small sources
    without letting any source dominate — alpha = 1 is the natural
    mix, alpha -> 0 the uniform one. Weights are
    FLOOR(IEEE sqrt(chars) * 1e6) integers (sqrt is correctly
    rounded in both libms, and FLOOR lands on an exact integer, so
    the lanes are bit-identical), shares and per-source boost
    factors are truncating ppm divisions in HUGEINT/DECIMAL(38,0).

    Scale: one map-side-combined aggregate to source grain
    (O(sources) rows); everything after is a broadcast of a
    model-sized frame."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("chars"),
    )
    w = s.select(
        "source",
        "n_docs",
        "chars",
        F.expr(
            "CAST(FLOOR(SQRT(CAST(chars AS DOUBLE)) * 1000000) AS BIGINT)"
        ).alias("w_half"),
        F.expr(
            "CAST(FLOOR(SQRT(SQRT(CAST(chars AS DOUBLE))) * 1000000)"
            " AS BIGINT)"
        ).alias("w_quarter"),
    )
    tot = w.agg(
        F.sum("chars").cast("bigint").alias("total_chars"),
        F.sum("w_half").cast("bigint").alias("sw_h"),
        F.sum("w_quarter").cast("bigint").alias("sw_q"),
    )
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            "chars",
            F.expr(
                "CAST(chars * 1000000 div total_chars AS BIGINT)"
            ).alias("natural_ppm"),
            F.expr(
                "CAST(CAST(w_half AS DECIMAL(38,0)) * 1000000 div sw_h"
                " AS BIGINT)"
            ).alias("temp_half_ppm"),
            F.expr(
                "CAST(CAST(w_quarter AS DECIMAL(38,0)) * 1000000 div sw_q"
                " AS BIGINT)"
            ).alias("temp_quarter_ppm"),
            F.expr(
                "CAST(CAST(w_half AS DECIMAL(38,0)) * total_chars * 1000000"
                " div (CAST(sw_h AS DECIMAL(38,0)) * chars) AS BIGINT)"
            ).alias("boost_half_ppm"),
        )
        .orderBy("source")
    )
