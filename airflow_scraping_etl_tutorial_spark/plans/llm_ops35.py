"""LLM-ops wave 36: classifier and behavior-model EVALUATION — closing
the loop on two models the catalog already ships (the q65 language-ID
heuristic and the q217 Markov transition matrix) with held-out-data
report cards:

- q346: confusion matrix of the q65 stopword-profile language
  classifier against the labeled `lang` column, with per-cell share
  of the true-language row — the standard eval artifact for any
  classifier before it gates data.
- q347: next-event prediction accuracy of the q217 Markov model,
  trained on one md5 half of the users and evaluated on the other,
  against the majority-class baseline — the lift column is the
  entire justification for keeping a behavior model.
- q348: per-user session surprisal under the held-out Markov model
  (Laplace-smoothed, centi/micro-nat integers) — the low-likelihood
  outlier ranking behind bot and fraud triage.

Output-hardening doctrine (as waves 6-35): predictions are argmaxes
with explicit lexicographic tiebreaks; accuracies are integer counts
with truncating ppm division; each -LN is quantized to DECIMAL(18,6)
before the exact decimal per-user sum (per-user term counts are tens,
far under the wave-26 coarsening bar); all integer-sum oracle outputs
CAST to BIGINT.

Reference parity: the reference trusts its scraper output enough to
publish it daily (README.md:21); these are the eval jobs that EARN
that trust for the two models this engine layers on top of such
feeds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.text import STOPWORDS, language_id
from ..sources.tables import load
from .llm_ops import _sql_stop_ratio
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q346 — language-ID confusion matrix
# ---------------------------------------------------------------------------


@query(
    "q346_langid_confusion_audit",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS true_lang,
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
      SELECT true_lang, pred_lang, CAST(COUNT(*) AS BIGINT) AS n
      FROM pred GROUP BY true_lang, pred_lang
    ),
    rows_ AS (
      SELECT true_lang, CAST(SUM(n) AS BIGINT) AS row_n
      FROM cells GROUP BY true_lang
    )
    SELECT c.true_lang, c.pred_lang, c.n,
           CAST(c.n * 1000000 // r.row_n AS BIGINT) AS share_of_true_ppm,
           CAST(CASE WHEN c.true_lang = c.pred_lang THEN 1 ELSE 0 END AS INT)
             AS is_correct
    FROM cells c JOIN rows_ r ON r.true_lang = c.true_lang
    ORDER BY c.true_lang, c.pred_lang
    """,
    tags=("llm", "text", "langid", "eval"),
)
def q346_langid_confusion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the q65 stopword-profile language
    classifier against the corpus's labeled `lang` column: one row
    per (true, predicted) cell with the count and its share of the
    true-language row (the per-language recall lives on the
    diagonal). This is the eval artifact that decides whether the
    heuristic is good enough to GATE data by language — and which
    confusions (es/fr sharing stopwords, short docs falling to
    'und') need richer profiles. Same classifier expression as q65
    (operators/text.py::language_id), so the audit measures exactly
    what production would run.

    Scale: the classifier is per-row codegen (|langs| array scans,
    no shuffle); the confusion aggregate is |langs|^2-bounded and
    map-side combined."""
    docs = load(spark, sf_dir, "documents")
    pred = language_id(docs).select("doc_id", "predicted_lang")
    labeled = docs.select("doc_id", F.col("lang").alias("true_lang"))
    cells = (
        labeled.join(pred, "doc_id")
        .groupBy("true_lang", F.col("predicted_lang").alias("pred_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    rows_ = cells.groupBy("true_lang").agg(
        F.sum("n").cast("bigint").alias("row_n")
    )
    return (
        cells.join(F.broadcast(rows_), "true_lang")
        .select(
            "true_lang",
            "pred_lang",
            "n",
            F.expr("CAST(n * 1000000 div row_n AS BIGINT)").alias(
                "share_of_true_ppm"
            ),
            F.when(F.col("true_lang") == F.col("pred_lang"), 1)
            .otherwise(0)
            .cast("int")
            .alias("is_correct"),
        )
        .orderBy("true_lang", "pred_lang")
    )


# ---------------------------------------------------------------------------
# Shared: train/test Markov transitions over the md5 ':mkv' user split
# ---------------------------------------------------------------------------

_SQL_MKV_SPLIT = f"""nxt AS (
      SELECT user_id,
             {_sql_gate("user_id", ":mkv")} AS is_train,
             event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    tr AS (
      SELECT from_type, to_type, COUNT(*) AS c2
      FROM nxt WHERE to_type IS NOT NULL AND is_train = 1
      GROUP BY from_type, to_type
    ),
    c1 AS (SELECT from_type, CAST(SUM(c2) AS BIGINT) AS c1 FROM tr
           GROUP BY from_type)"""


def _mkv_split(spark: SparkSession, sf_dir: str):
    """Spark twin of _SQL_MKV_SPLIT: (nxt, tr, c1) DataFrames."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        "user_id",
        _spark_gate("user_id", ":mkv").alias("is_train"),
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull()).persist()
    tr = (
        nxt.filter(F.col("is_train") == 1)
        .groupBy("from_type", "to_type")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    c1 = tr.groupBy("from_type").agg(F.sum("c2").cast("bigint").alias("c1"))
    return nxt, tr, c1


@query(
    "q347_markov_next_event_accuracy",
    oracle=f"""
    WITH {_SQL_MKV_SPLIT},
    pred AS (
      SELECT from_type, to_type AS pred_type FROM (
        SELECT from_type, to_type,
               ROW_NUMBER() OVER (PARTITION BY from_type
                                  ORDER BY c2 DESC, to_type) AS rn
        FROM tr
      ) WHERE rn = 1
    ),
    base AS (
      SELECT to_type AS base_type FROM (
        SELECT to_type, SUM(c2) AS n,
               ROW_NUMBER() OVER (ORDER BY SUM(c2) DESC, to_type) AS rn
        FROM tr GROUP BY to_type
      ) WHERE rn = 1
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_test,
           CAST(SUM(CASE WHEN n.to_type = p.pred_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN n.to_type = p.pred_type THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS accuracy_ppm,
           CAST(SUM(CASE WHEN n.to_type = b.base_type THEN 1 ELSE 0 END)
                AS BIGINT) AS n_correct_baseline,
           CAST(SUM(CASE WHEN n.to_type = b.base_type THEN 1 ELSE 0 END)
                * 1000000 // COUNT(*) AS BIGINT) AS baseline_ppm,
           CAST((SUM(CASE WHEN n.to_type = p.pred_type THEN 1 ELSE 0 END)
                 - SUM(CASE WHEN n.to_type = b.base_type THEN 1 ELSE 0 END))
                * 1000000 // COUNT(*) AS BIGINT) AS lift_ppm
    FROM nxt n
    LEFT JOIN pred p ON p.from_type = n.from_type
    CROSS JOIN base b
    WHERE n.to_type IS NOT NULL AND n.is_train = 0
    """,
    tags=("llm", "events", "markov", "eval"),
)
def q347_markov_next_event_accuracy(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Report card for the q217 Markov behavior model: train the
    transition matrix on the md5 ':mkv' half of the users, predict
    each held-out transition as argmax P(to|from) (lexicographic
    tiebreak), and compare top-1 accuracy against always predicting
    the globally most common next event. The LIFT column is the
    model's entire justification: a transition matrix that can't
    beat the majority class is dashboard decoration. Pure integer
    counting end to end.

    Scale: one user-keyed LEAD window (the q82/q217 shuffle), a
    |types|^2 train aggregate, and a broadcast of the |types|-row
    prediction table against the test transitions."""
    nxt, tr, c1 = _mkv_split(spark, sf_dir)
    pred = (
        tr.select(
            "from_type",
            "to_type",
            F.row_number()
            .over(W.partitionBy("from_type").orderBy(F.desc("c2"), "to_type"))
            .alias("rn"),
        )
        .filter(F.col("rn") == 1)
        .select("from_type", F.col("to_type").alias("pred_type"))
    )
    base = (
        tr.groupBy("to_type")
        .agg(F.sum("c2").alias("n"))
        .orderBy(F.desc("n"), "to_type")
        .limit(1)
        .select(F.col("to_type").alias("base_type"))
    )
    test = nxt.filter(F.col("is_train") == 0)
    out = (
        test.join(F.broadcast(pred), "from_type", "left")
        .crossJoin(F.broadcast(base))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_test"),
            F.sum(F.when(F.col("to_type") == F.col("pred_type"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct"),
            F.sum(F.when(F.col("to_type") == F.col("base_type"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_correct_baseline"),
        )
        .select(
            "n_test",
            "n_correct",
            F.expr("CAST(n_correct * 1000000 div n_test AS BIGINT)").alias(
                "accuracy_ppm"
            ),
            "n_correct_baseline",
            F.expr(
                "CAST(n_correct_baseline * 1000000 div n_test AS BIGINT)"
            ).alias("baseline_ppm"),
            F.expr(
                "CAST((n_correct - n_correct_baseline) * 1000000 div n_test"
                " AS BIGINT)"
            ).alias("lift_ppm"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q348 — per-user session surprisal outliers under the held-out model
# ---------------------------------------------------------------------------


@query(
    "q348_session_likelihood_outliers",
    oracle=f"""
    WITH {_SQL_MKV_SPLIT},
    k AS (
      SELECT CAST(COUNT(DISTINCT to_type) AS BIGINT) AS k FROM tr
    ),
    scored AS (
      SELECT n.user_id,
             CAST(-LN((CAST(COALESCE(t.c2, 0) + 1 AS DOUBLE))
                      / (CAST(COALESCE(p.c1, 0) + k.k AS DOUBLE)))
                  AS DECIMAL(18,6)) AS l
      FROM nxt n
      LEFT JOIN tr t ON t.from_type = n.from_type AND t.to_type = n.to_type
      LEFT JOIN c1 p ON p.from_type = n.from_type
      CROSS JOIN k
      WHERE n.to_type IS NOT NULL AND n.is_train = 0
    )
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_transitions,
           CAST(SUM(l * 1000000) AS BIGINT) AS total_surprisal_micro,
           CAST(CAST(SUM(l * 1000000) AS BIGINT) // COUNT(*) AS BIGINT)
             AS mean_surprisal_micro
    FROM scored GROUP BY user_id
    ORDER BY mean_surprisal_micro DESC, user_id LIMIT 20
    """,
    tags=("llm", "events", "anomaly", "likelihood"),
)
def q348_session_likelihood_outliers(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Low-likelihood behavior triage: score every held-out user's
    event stream under the Laplace-smoothed train-half Markov model
    (P = (c2+1)/(c1+K), K = distinct next-event types, so unseen
    transitions get finite surprisal instead of infinity) and rank
    the 20 users whose MEAN transition surprisal is highest — the
    sessions least like the population's behavior, the standard
    first page of a bot/fraud review queue (the model-based
    complement of q240's volume bursts and q234's value outliers).
    Each -LN is quantized to DECIMAL(18,6) before the exact decimal
    per-user sum (tens of terms per user — far below the wave-26
    coarsening bar); the mean is a truncating integer division of
    micro-nats.

    Scale: the same user-keyed LEAD shuffle as q217/q347; the model
    tables are |types|^2 broadcasts; per-user sums ride the existing
    user partitioning."""
    nxt, tr, c1 = _mkv_split(spark, sf_dir)
    k = tr.agg(F.countDistinct("to_type").cast("bigint").alias("k"))
    test = nxt.filter(F.col("is_train") == 0)
    l_expr = (
        -F.log(
            (F.coalesce(F.col("c2"), F.lit(0)) + 1).cast("double")
            / (F.coalesce(F.col("c1"), F.lit(0)) + F.col("k")).cast("double")
        )
    ).cast("decimal(18,6)")
    scored = (
        test.join(F.broadcast(tr), ["from_type", "to_type"], "left")
        .join(F.broadcast(c1), "from_type", "left")
        .crossJoin(F.broadcast(k))
        .select("user_id", l_expr.alias("l"))
    )
    out = (
        scored.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_transitions"),
            F.sum(F.col("l") * 1_000_000)
            .cast("bigint")
            .alias("total_surprisal_micro"),
        )
        .select(
            "user_id",
            "n_transitions",
            "total_surprisal_micro",
            F.expr(
                "CAST(total_surprisal_micro div n_transitions AS BIGINT)"
            ).alias("mean_surprisal_micro"),
        )
        .orderBy(F.desc("mean_surprisal_micro"), "user_id")
        .limit(20)
    )
    return out
