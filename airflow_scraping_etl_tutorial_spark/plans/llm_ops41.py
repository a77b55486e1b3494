"""LLM-ops wave 42: pooled effect estimation, readability profiling,
and association strength —

- q366: Mantel-Haenszel pooled risk ratio across the q364 activity
  strata vs the crude (unstratified) risk ratio — the one-number
  confounding check: if crude and MH disagree, the activity mix is
  doing the talking, not the treatment.
- q367: Flesch-style readability per source — words/sentence and
  syllables/word (vowel-group heuristic) feeding the classic
  206.835 - 1.015*wps - 84.6*spw score in exact milli lanes; the
  text-difficulty profile a curation dashboard puts next to q63's
  quality score.
- q368: chi-square association + Cramer's V for the q346 language-ID
  confusion matrix, INCLUDING the structural-zero cells — the
  single-number "how much signal does this classifier carry"
  summary, with the worst cell called out.

Output-hardening doctrine (as waves 6-41): MH terms and readability
ratios are truncating micro/milli divisions on exact integer counts
(documented truncation, identical in both engines); chi-square uses
the exact rational (n*O - R*C)^2 / (n*R*C) per cell in HUGEINT /
DECIMAL(38,0) lanes (the products pass 1e20 at sf0.1); Cramer's V
takes ONE IEEE sqrt of an identical integer-derived double then
FLOORs to milli; all integer-sum oracle outputs CAST to BIGINT.

Reference parity: the reference publishes one daily measurement
stream (README.md:21); q366 is the confounding audit any A/B read
of such a stream owes its readers, and q367/q368 are the per-source
text report cards the curation layer stacks on the same corpus the
engine already profiles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS
from ..sources.tables import load
from .llm_ops import _sql_stop_ratio
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q366 — Mantel-Haenszel pooled risk ratio vs the crude ratio
# ---------------------------------------------------------------------------


@query(
    "q366_mantel_haenszel_rr",
    oracle=f"""
    WITH u AS (
      SELECT user_id,
             {_sql_gate("user_id", ":exp2")} AS t,
             CAST(COUNT(*) AS BIGINT) AS n_events,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS conv
      FROM events GROUP BY user_id
    ),
    s AS (
      SELECT CAST(LENGTH(BIN(n_events)) AS INT) AS stratum, t, conv FROM u
    ),
    per AS (
      SELECT stratum,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(t) AS BIGINT) AS n_t,
             CAST(SUM(1 - t) AS BIGINT) AS n_c,
             CAST(SUM(t * conv) AS BIGINT) AS a,
             CAST(SUM((1 - t) * conv) AS BIGINT) AS c
      FROM s GROUP BY stratum
    ),
    mh AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(a * n_c * 1000000 // n) AS BIGINT) AS num_micro,
             CAST(SUM(c * n_t * 1000000 // n) AS BIGINT) AS den_micro,
             CAST(SUM(a) AS BIGINT) AS a_all,
             CAST(SUM(c) AS BIGINT) AS c_all,
             CAST(SUM(n_t) AS BIGINT) AS nt_all,
             CAST(SUM(n_c) AS BIGINT) AS nc_all
      FROM per
    )
    SELECT n_strata, a_all, c_all, nt_all, nc_all,
           num_micro, den_micro,
           CAST(CASE WHEN c_all * nt_all = 0 THEN 0
                ELSE a_all * nc_all * 1000000 // (c_all * nt_all) END
                AS BIGINT) AS crude_rr_ppm,
           CAST(CASE WHEN den_micro = 0 THEN 0
                ELSE num_micro * 1000000 // den_micro END AS BIGINT)
             AS mh_rr_ppm
    FROM mh
    """,
    tags=("llm", "causal", "mantel-haenszel", "ab-test"),
)
def q366_mantel_haenszel_rr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mantel-Haenszel pooled risk ratio across the q364 activity
    strata beside the crude (unstratified) risk ratio: RR_MH =
    Sum(a_h*n0h/n_h) / Sum(c_h*n1h/n_h) pools the per-stratum 2x2
    tables with the classic weights, so an activity-mix imbalance
    between arms cannot masquerade as a treatment effect — when
    crude and MH diverge, the comparison was confounded (under the
    null md5 assignment both should sit near 1e6 ppm). Each MH term
    is a truncating micro division per stratum and the final ratio
    one more truncating ppm division — deterministic in both
    engines; guards pin empty arms to 0.

    Scale: user-grain aggregate -> stratum-grain aggregate -> 1-row
    frame; all map-side-combinable."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("conv"),
    ).select(
        _spark_gate("user_id", ":exp2").alias("t"),
        F.length(F.bin(F.col("n_events"))).cast("int").alias("stratum"),
        "conv",
    )
    per = u.groupBy("stratum").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("t").cast("bigint").alias("n_t"),
        F.sum(1 - F.col("t")).cast("bigint").alias("n_c"),
        F.sum(F.col("t") * F.col("conv")).cast("bigint").alias("a"),
        F.sum((1 - F.col("t")) * F.col("conv")).cast("bigint").alias("c"),
    )
    mh = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum(F.expr("a * n_c * 1000000 div n")).cast("bigint").alias(
            "num_micro"
        ),
        F.sum(F.expr("c * n_t * 1000000 div n")).cast("bigint").alias(
            "den_micro"
        ),
        F.sum("a").cast("bigint").alias("a_all"),
        F.sum("c").cast("bigint").alias("c_all"),
        F.sum("n_t").cast("bigint").alias("nt_all"),
        F.sum("n_c").cast("bigint").alias("nc_all"),
    )
    return mh.select(
        "n_strata",
        "a_all",
        "c_all",
        "nt_all",
        "nc_all",
        "num_micro",
        "den_micro",
        F.expr(
            "CAST(CASE WHEN c_all * nt_all = 0 THEN 0"
            " ELSE a_all * nc_all * 1000000 div (c_all * nt_all) END"
            " AS BIGINT)"
        ).alias("crude_rr_ppm"),
        F.expr(
            "CAST(CASE WHEN den_micro = 0 THEN 0"
            " ELSE num_micro * 1000000 div den_micro END AS BIGINT)"
        ).alias("mh_rr_ppm"),
    )


# ---------------------------------------------------------------------------
# q367 — Flesch-style readability per source
# ---------------------------------------------------------------------------


@query(
    "q367_readability_by_source",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS words,
             CAST(GREATEST(LEN(REGEXP_EXTRACT_ALL(text, '[.!?]+')), 1)
                  AS BIGINT) AS sentences,
             CAST(LEN(REGEXP_EXTRACT_ALL(LOWER(text), '[aeiouy]+'))
                  AS BIGINT) AS syllables
      FROM documents
    ),
    agg AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(words) AS BIGINT) AS w,
             CAST(SUM(sentences) AS BIGINT) AS s,
             CAST(SUM(syllables) AS BIGINT) AS y
      FROM t GROUP BY source
    )
    SELECT source, n_docs, w AS words, s AS sentences, y AS syllables,
           CAST(w * 1000 // s AS BIGINT) AS words_per_sentence_milli,
           CAST(y * 1000 // w AS BIGINT) AS syllables_per_word_milli,
           CAST(206835 - 1015 * w // s - 84600 * y // w AS BIGINT)
             AS flesch_milli
    FROM agg ORDER BY source
    """,
    tags=("llm", "text", "readability", "profiling"),
)
def q367_readability_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch-style readability per source: words/sentence
    (sentences = runs of [.!?], floored at 1 per doc) and
    syllables/word (vowel-group heuristic — the standard cheap
    proxy when no phonetic dictionary ships) feeding
    206.835 - 1.015*wps - 84.6*spw in exact milli lanes (truncating
    divisions on corpus-level integer sums; the two regex counts use
    the q100 regexp_extract_all parity pattern). Low scores flag
    sources whose text is long-winded or vowel-dense garbage —
    the difficulty axis q63's quality score doesn't measure.

    Scale: per-row regex counting fused into the scan; one
    source-grain map-side-combined aggregate."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.size(F.split(F.col("text"), " ")).cast("bigint").alias("words"),
        F.greatest(
            F.size(F.regexp_extract_all("text", F.lit("[.!?]+"), 0)),
            F.lit(1),
        )
        .cast("bigint")
        .alias("sentences"),
        F.size(
            F.regexp_extract_all(
                F.lower(F.col("text")), F.lit("[aeiouy]+"), 0
            )
        )
        .cast("bigint")
        .alias("syllables"),
    )
    agg = t.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("words").cast("bigint").alias("w"),
        F.sum("sentences").cast("bigint").alias("s"),
        F.sum("syllables").cast("bigint").alias("y"),
    )
    return agg.select(
        "source",
        "n_docs",
        F.col("w").alias("words"),
        F.col("s").alias("sentences"),
        F.col("y").alias("syllables"),
        F.expr("CAST(w * 1000 div s AS BIGINT)").alias(
            "words_per_sentence_milli"
        ),
        F.expr("CAST(y * 1000 div w AS BIGINT)").alias(
            "syllables_per_word_milli"
        ),
        F.expr(
            "CAST(206835 - 1015 * w div s - 84600 * y div w AS BIGINT)"
        ).alias("flesch_milli"),
    ).orderBy("source")


# ---------------------------------------------------------------------------
# q368 — chi-square association + Cramer's V on the confusion matrix
# ---------------------------------------------------------------------------


@query(
    "q368_confusion_cramers_v",
    oracle=f"""
    WITH scored AS (
      SELECT lang AS true_lang,
             {", ".join(f"{_sql_stop_ratio(lang)} AS s_{lang}" for lang in sorted(STOPWORDS))}
      FROM documents
    ),
    best AS (
      SELECT *, GREATEST({", ".join(f"s_{lang}" for lang in sorted(STOPWORDS))}) AS b
      FROM scored
    ),
    pred AS (
      SELECT true_lang,
             CASE WHEN b = 0 THEN 'und'
                  {" ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in sorted(STOPWORDS))}
             END AS pred_lang
      FROM best
    ),
    cells AS (
      SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS o
      FROM pred GROUP BY true_lang, pred_lang
    ),
    rows_ AS (
      SELECT true_lang, CAST(SUM(o) AS BIGINT) AS r FROM cells
      GROUP BY true_lang
    ),
    cols_ AS (
      SELECT pred_lang, CAST(SUM(o) AS BIGINT) AS c FROM cells
      GROUP BY pred_lang
    ),
    n1 AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT r.true_lang, c.pred_lang, r.r, c.c,
             COALESCE(x.o, 0) AS o
      FROM rows_ r CROSS JOIN cols_ c
      LEFT JOIN cells x ON x.true_lang = r.true_lang
                       AND x.pred_lang = c.pred_lang
    ),
    contrib AS (
      SELECT true_lang, pred_lang,
             CAST((CAST(n1.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                  * (CAST(n1.n AS HUGEINT) * o - CAST(r AS HUGEINT) * c)
                  * 1000000
                  // (CAST(n1.n AS HUGEINT) * r * c) AS BIGINT)
               AS contrib_micro
      FROM grid CROSS JOIN n1
    ),
    dims AS (
      SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM rows_) AS n_rows,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM cols_) AS n_cols
    ),
    stats AS (
      SELECT CAST(SUM(contrib_micro) AS BIGINT) AS chi2_micro,
             CAST(MAX(contrib_micro) AS BIGINT) AS worst_contrib_micro
      FROM contrib
    )
    SELECT n1.n,
           d.n_rows, d.n_cols,
           st.chi2_micro,
           CAST((d.n_rows - 1) * (d.n_cols - 1) AS BIGINT) AS dof,
           CAST(FLOOR(SQRT(CAST(st.chi2_micro AS DOUBLE)
                 / (CAST(n1.n AS DOUBLE)
                    * CAST(LEAST(d.n_rows - 1, d.n_cols - 1) AS DOUBLE)
                    * CAST('1000000' AS DOUBLE))) * 1000) AS BIGINT)
             AS v_milli,
           (SELECT MIN(ct.true_lang || '->' || ct.pred_lang)
            FROM contrib ct, stats s2
            WHERE ct.contrib_micro = s2.worst_contrib_micro) AS worst_cell,
           st.worst_contrib_micro
    FROM stats st CROSS JOIN n1 CROSS JOIN dims d
    """,
    tags=("llm", "eval", "chi-square", "cramers-v"),
)
def q368_confusion_cramers_v(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-square association and Cramer's V for the q346 language-ID
    confusion matrix, with the STRUCTURAL-ZERO cells materialized
    (an r x c grid from the marginals — a chi-square that skips
    empty cells understates association): per cell the exact
    rational (n*O - R*C)^2 / (n*R*C) in HUGEINT/DECIMAL(38,0) lanes
    truncated to micro, V = sqrt(chi2 / (n*min(r-1, c-1))) as ONE
    IEEE sqrt of an identical integer-derived double FLOORed to
    milli, and the worst cell named via ARG_MAX with the score as
    its own tiebreak-free magnitude. V near 1 means the classifier
    carries most of the label's information; V collapsing while
    accuracy holds flags a majority-class crutch.

    Scale: |langs|^2-bounded grid from two marginal aggregates; the
    corpus is read once by the classifier scan."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.text import language_id

    pred = language_id(docs).select("doc_id", "predicted_lang")
    cells = (
        docs.select("doc_id", F.col("lang").alias("true_lang"))
        .join(pred, "doc_id")
        .groupBy("true_lang", F.col("predicted_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    rows_ = cells.groupBy("true_lang").agg(
        F.sum("o").cast("bigint").alias("r")
    )
    cols_ = cells.groupBy("pred_lang").agg(
        F.sum("o").cast("bigint").alias("c")
    )
    n1 = cells.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        rows_.crossJoin(cols_)
        .join(cells, ["true_lang", "pred_lang"], "left")
        .select(
            "true_lang",
            "pred_lang",
            "r",
            "c",
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
        )
    )
    contrib = grid.crossJoin(F.broadcast(n1)).select(
        "true_lang",
        "pred_lang",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0))"
            " * c) * (CAST(n AS DECIMAL(38,0)) * o"
            " - CAST(r AS DECIMAL(38,0)) * c) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * r * c) AS BIGINT)"
        ).alias("contrib_micro"),
    )
    dims = rows_.agg(F.count(F.lit(1)).cast("bigint").alias("n_rows")).crossJoin(
        cols_.agg(F.count(F.lit(1)).cast("bigint").alias("n_cols"))
    )

    contrib = contrib.persist()
    stats = contrib.agg(
        F.sum("contrib_micro").cast("bigint").alias("chi2_micro"),
        F.max("contrib_micro").cast("bigint").alias("worst_contrib_micro"),
    )
    # deterministic worst cell: MIN label among the max-scoring cells
    # (max_by/ARG_MAX tiebreaks are engine-internal — never rely on them)
    worst = (
        contrib.join(
            F.broadcast(stats.select("worst_contrib_micro")),
            F.col("contrib_micro") == F.col("worst_contrib_micro"),
        )
        .agg(
            F.min(
                F.concat(F.col("true_lang"), F.lit("->"), F.col("pred_lang"))
            ).alias("worst_cell")
        )
    )
    out = (
        stats.crossJoin(F.broadcast(n1))
        .crossJoin(F.broadcast(dims))
        .crossJoin(F.broadcast(worst))
        .select(
            "n",
            "n_rows",
            "n_cols",
            "chi2_micro",
            F.expr("CAST((n_rows - 1) * (n_cols - 1) AS BIGINT)").alias(
                "dof"
            ),
            F.expr(
                "CAST(FLOOR(SQRT(CAST(chi2_micro AS DOUBLE)"
                " / (CAST(n AS DOUBLE)"
                " * CAST(LEAST(n_rows - 1, n_cols - 1) AS DOUBLE)"
                " * CAST('1000000' AS DOUBLE))) * 1000) AS BIGINT)"
            ).alias("v_milli"),
            "worst_cell",
            "worst_contrib_micro",
        )
    )
    return out
