"""LLM-ops wave 39: the data scaling curve, the paired-classifier
significance test, and embedding-space decontamination —

- q357: data scaling curve — the q338 stupid-backoff bigram LM
  trained on CUMULATIVE 25/50/75/100% md5 fractions of the train
  pool, each scoring the SAME held-out quarter; per-fraction
  held-out loss (centi-nats), vocab/OOV, and the marginal gain of
  the next 25% of data — the diminishing-returns table behind every
  "do we need more data or better data?" decision.
- q358: McNemar's test between the q353 raters AGAINST the labeled
  truth — the paired significance test (discordant cells only) that
  decides whether classifier B is actually better than classifier A
  on the same documents, exact cross-multiplied integers.
- q359: cross-split embedding decontamination — SRP-bucketed
  train-x-test candidate pairs (q75 machinery, oracle-replayed
  buckets) verified with exact cosine against a 0.30/0.35/0.40
  threshold sweep; the embedding-space contamination audit that
  catches paraphrased eval leakage n-gram overlap (q103) misses.

Output-hardening doctrine (as waves 6-38): split gates are md5-byte
integer thresholds; each -LN is quantized to DECIMAL(18,2)
centi-nats before the weighted sum (the q338/wave-26 grid); McNemar
is exact integers with a zero-discordant guard; cosine thresholds
are string->DOUBLE casts in the oracle (the q229 literal doctrine)
compared against ROUND(cos, 6) on identically-associated IEEE
arithmetic; all integer-sum oracle outputs CAST to BIGINT.

Reference parity: the reference retrains nothing, but its daily feed
is exactly the kind of accumulating corpus these jobs steer: q357
prices the next month of scraping, q358 gates a classifier swap,
q359 clears an eval set before anyone trusts a benchmark number.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import as_double, bucket_keys, dot
from ..operators.text import STOPWORDS, language_id, tokens
from ..sources.tables import load
from .llm_ops import _sql_cosine, _sql_srp_bucket, _sql_stop_ratio
from .llm_ops33 import _SQL_BIGRAMS, _bigram_structs
from .registry import query

# ---------------------------------------------------------------------------
# q357 — data scaling curve (cumulative-fraction backoff LM)
# ---------------------------------------------------------------------------


@query(
    "q357_data_scaling_curve",
    oracle=f"""
    WITH d AS (
      SELECT STRING_SPLIT(text, ' ') AS words,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':lm2'),
                                 1, 2) AS INTEGER) AS byte
      FROM documents
    ),
    lab AS (
      SELECT words,
             CASE WHEN byte >= 192 THEN -1 ELSE byte // 48 END AS q
      FROM d
    ),
    trtok AS (SELECT UNNEST(words) AS tok, q FROM lab WHERE q >= 0),
    c1q AS (SELECT tok, q, COUNT(*) AS c FROM trtok GROUP BY tok, q),
    ks(k) AS (VALUES (1), (2), (3), (4)),
    c1k AS (
      SELECT k, tok, CAST(SUM(c) AS BIGINT) AS c1
      FROM c1q JOIN ks ON c1q.q < ks.k GROUP BY k, tok
    ),
    vtk AS (
      SELECT k, CAST(COUNT(*) AS BIGINT) AS v, CAST(SUM(c1) AS BIGINT) AS t
      FROM c1k GROUP BY k
    ),
    trbiq AS (
      SELECT w1, w2, q, COUNT(*) AS c FROM (
        {_SQL_BIGRAMS.format(cols="q,", src="lab")}
        WHERE q >= 0
      ) GROUP BY w1, w2, q
    ),
    c2k AS (
      SELECT k, w1, w2, CAST(SUM(c) AS BIGINT) AS c2
      FROM trbiq JOIN ks ON trbiq.q < ks.k GROUP BY k, w1, w2
    ),
    tebi AS (
      SELECT w1, w2, COUNT(*) AS c FROM (
        {_SQL_BIGRAMS.format(cols="q,", src="lab")}
        WHERE q = -1
      ) GROUP BY w1, w2
    ),
    scored AS (
      SELECT ks.k, e.c,
             CASE WHEN b.c2 IS NOT NULL THEN 0
                  WHEN u.c1 IS NOT NULL THEN 1 ELSE 2 END AS tier,
             CAST(CASE
               WHEN b.c2 IS NOT NULL THEN
                 -LN(CAST(b.c2 AS DOUBLE) / CAST(p.c1 AS DOUBLE))
               WHEN u.c1 IS NOT NULL THEN
                 -LN((CAST('0.4' AS DOUBLE) * CAST(u.c1 AS DOUBLE))
                     / CAST(vt.t AS DOUBLE))
               ELSE
                 -LN((CAST('0.4' AS DOUBLE) * CAST('0.4' AS DOUBLE))
                     / CAST(vt.v AS DOUBLE))
             END AS DECIMAL(18,2)) AS l
      FROM tebi e CROSS JOIN ks
      LEFT JOIN c2k b ON b.k = ks.k AND b.w1 = e.w1 AND b.w2 = e.w2
      LEFT JOIN c1k p ON p.k = ks.k AND p.tok = e.w1
      LEFT JOIN c1k u ON u.k = ks.k AND u.tok = e.w2
      JOIN vtk vt ON vt.k = ks.k
    ),
    curve AS (
      SELECT k,
             CAST(SUM(c) AS BIGINT) AS n_bigrams,
             CAST(SUM(CASE WHEN tier = 2 THEN c ELSE 0 END) AS BIGINT)
               AS n_unknown,
             CAST(CAST(SUM(c * l * 100) AS BIGINT) // SUM(c) AS BIGINT)
               AS mean_centinats
      FROM scored GROUP BY k
    )
    SELECT CAST(a.k * 25 AS INT) AS train_pct,
           vt.t AS train_tokens,
           vt.v AS train_vocab,
           a.n_bigrams,
           a.n_unknown,
           a.mean_centinats,
           CAST(COALESCE(prev.mean_centinats - a.mean_centinats, 0)
                AS BIGINT) AS gain_centinats
    FROM curve a
    JOIN vtk vt ON vt.k = a.k
    LEFT JOIN curve prev ON prev.k = a.k - 1
    ORDER BY train_pct
    """,
    tags=("llm", "text", "scaling-law", "language-model"),
)
def q357_data_scaling_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data scaling curve: the q338 stupid-backoff bigram LM trained
    on cumulative 25/50/75/100% fractions of the train pool (md5
    byte < 48k, test = byte >= 192) — every fraction scores the SAME
    held-out quarter, so the four rows are the classic held-out-loss
    vs data-size curve, with the marginal gain of each additional
    25% (gain_centinats) and the shrinking OOV mass making the
    diminishing returns explicit. This is the table that answers
    "does the next month of scraping still buy anything?" before
    anyone fits a power law to it.

    The cumulative trick keeps it one pass: counts aggregate per
    md5-byte QUARTILE once, and fraction k's LM is the sum over
    quartiles < k (count LMs are mergeable, the q275 doctrine) — the
    corpus is tokenized once, not four times.

    Scale: all LM tables are vocab(-squared)-grain map-side
    aggregates x a 4-row grid; scoring joins key on (k, w1, w2)
    digests; text never shuffles. The 4-row curve self-join replaces
    any window."""
    docs = load(spark, sf_dir, "documents")
    byte = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":lm2"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    lab = (
        docs.select(tokens(F.col("text")).alias("words"), byte.alias("byte"))
        .select(
            "words",
            F.when(F.col("byte") >= 192, -1)
            .otherwise(F.expr("byte div 48"))
            .alias("q"),
        )
        .persist()
    )
    ks = spark.createDataFrame([(1,), (2,), (3,), (4,)], "k int")
    trtok = lab.filter(F.col("q") >= 0).select(
        F.explode("words").alias("tok"), "q"
    )
    c1q = trtok.groupBy("tok", "q").agg(F.count(F.lit(1)).alias("c"))
    c1k = (
        c1q.join(F.broadcast(ks), F.col("q") < F.col("k"))
        .groupBy("k", "tok")
        .agg(F.sum("c").cast("bigint").alias("c1"))
        .persist()
    )
    vtk = c1k.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c1").cast("bigint").alias("t"),
    )
    trbiq = (
        lab.filter(F.col("q") >= 0)
        .select("q", F.explode(_bigram_structs()).alias("bg"))
        .select("q", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2", "q")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c2k = (
        trbiq.join(F.broadcast(ks), F.col("q") < F.col("k"))
        .groupBy("k", "w1", "w2")
        .agg(F.sum("c").cast("bigint").alias("c2"))
    )
    tebi = (
        lab.filter(F.col("q") == -1)
        .select(F.explode(_bigram_structs()).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = c1k.select("k", F.col("tok").alias("w1"), F.col("c1").alias("pc1"))
    u = c1k.select("k", F.col("tok").alias("w2"), F.col("c1").alias("uc1"))
    tier = (
        F.when(F.col("c2").isNotNull(), 0)
        .when(F.col("uc1").isNotNull(), 1)
        .otherwise(2)
    )
    lnq = (
        F.when(
            F.col("c2").isNotNull(),
            -F.log(F.col("c2").cast("double") / F.col("pc1").cast("double")),
        )
        .when(
            F.col("uc1").isNotNull(),
            -F.log(
                (F.lit(0.4) * F.col("uc1").cast("double"))
                / F.col("t").cast("double")
            ),
        )
        .otherwise(
            -F.log((F.lit(0.4) * F.lit(0.4)) / F.col("v").cast("double"))
        )
        .cast("decimal(18,2)")
    )
    scored = (
        tebi.crossJoin(F.broadcast(ks))
        .join(c2k, ["k", "w1", "w2"], "left")
        .join(p, ["k", "w1"], "left")
        .join(u, ["k", "w2"], "left")
        .join(F.broadcast(vtk), "k")
        .select("k", "c", tier.alias("tier"), lnq.alias("l"))
    )
    curve = scored.groupBy("k").agg(
        F.sum("c").cast("bigint").alias("n_bigrams"),
        F.sum(F.when(F.col("tier") == 2, F.col("c")).otherwise(0))
        .cast("bigint")
        .alias("n_unknown"),
        F.expr(
            "CAST(CAST(SUM(c * l * 100) AS BIGINT) div SUM(c) AS BIGINT)"
        ).alias("mean_centinats"),
    ).persist()
    prev = curve.select(
        (F.col("k") + 1).alias("k"),
        F.col("mean_centinats").alias("prev_mean"),
    )
    out = (
        curve.join(F.broadcast(vtk), "k")
        .join(F.broadcast(prev), "k", "left")
        .select(
            (F.col("k") * 25).cast("int").alias("train_pct"),
            F.col("t").alias("train_tokens"),
            F.col("v").alias("train_vocab"),
            "n_bigrams",
            "n_unknown",
            "mean_centinats",
            F.coalesce(
                F.col("prev_mean") - F.col("mean_centinats"), F.lit(0)
            )
            .cast("bigint")
            .alias("gain_centinats"),
        )
        .orderBy("train_pct")
    )
    return out


# ---------------------------------------------------------------------------
# q358 — McNemar's test between the q353 raters against truth
# ---------------------------------------------------------------------------

_TEN_STOPWORDS = (
    "'the', 'a', 'of', 'to', 'and', 'in', 'is', 'it', 'that', 'for'"
)


@query(
    "q358_mcnemar_classifier_test",
    oracle=f"""
    WITH scored AS (
      SELECT CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS truth,
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
    flags AS (
      SELECT CASE WHEN rater_a = truth THEN 1 ELSE 0 END AS a_ok,
             CASE WHEN (CASE WHEN (CASE WHEN b = 0 THEN 'und'
                          {" ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in sorted(STOPWORDS))}
                          END) = 'en' THEN 1 ELSE 0 END) = truth
                  THEN 1 ELSE 0 END AS b_ok
      FROM best
    ),
    cells AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(a_ok * b_ok) AS BIGINT) AS n_both_correct,
             CAST(SUM(a_ok * (1 - b_ok)) AS BIGINT) AS n_a_only,
             CAST(SUM((1 - a_ok) * b_ok) AS BIGINT) AS n_b_only,
             CAST(SUM((1 - a_ok) * (1 - b_ok)) AS BIGINT) AS n_neither
      FROM flags
    )
    SELECT n, n_both_correct, n_a_only, n_b_only, n_neither,
           CAST((n_both_correct + n_a_only) * 1000000 // n AS BIGINT)
             AS acc_a_ppm,
           CAST((n_both_correct + n_b_only) * 1000000 // n AS BIGINT)
             AS acc_b_ppm,
           CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0
                ELSE 1000 * (n_a_only - n_b_only) * (n_a_only - n_b_only)
                     // (n_a_only + n_b_only) END AS BIGINT) AS chi2_milli,
           CAST(CASE WHEN 1000 * (n_a_only - n_b_only)
                          * (n_a_only - n_b_only)
                          > 3841 * (n_a_only + n_b_only)
                     THEN 1 ELSE 0 END AS INT) AS reject_95
    FROM cells
    """,
    tags=("llm", "eval", "mcnemar", "significance"),
)
def q358_mcnemar_classifier_test(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """McNemar's test between the two q353 English-detectors, now
    judged AGAINST the labeled truth: accuracy deltas on the same
    documents are decided by the DISCORDANT cells alone (docs only A
    got right vs only B got right) — chi^2 = (b - c)^2 / (b + c),
    the paired test that a "B beats A by 0.4%" claim must pass
    before a classifier swap ships. Exact integers end-to-end:
    reject at 95% iff 1000*(b-c)^2 > 3841*(b+c), with the
    zero-discordant edge pinned to chi2 = 0.

    Scale: both raters are per-row codegen; one map-side-combined
    aggregate to a 1-row frame."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    stop_list = [w.strip("'") for w in _TEN_STOPWORDS.split(", ")]
    rater_a = (
        F.size(F.filter(toks, lambda x: x.isin(stop_list))).cast("double")
        / F.size(toks)
        >= 0.05
    )
    pred = language_id(docs).select(
        "doc_id", (F.col("predicted_lang") == "en").alias("is_en")
    )
    flags = (
        docs.select(
            "doc_id",
            F.when(F.col("lang") == "en", 1).otherwise(0).alias("truth"),
            F.when(rater_a, 1).otherwise(0).alias("rater_a"),
        )
        .join(pred, "doc_id")
        .select(
            F.when(F.col("rater_a") == F.col("truth"), 1)
            .otherwise(0)
            .alias("a_ok"),
            F.when(
                F.when(F.col("is_en"), 1).otherwise(0) == F.col("truth"), 1
            )
            .otherwise(0)
            .alias("b_ok"),
        )
    )
    cells = flags.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.col("a_ok") * F.col("b_ok"))
        .cast("bigint")
        .alias("n_both_correct"),
        F.sum(F.col("a_ok") * (1 - F.col("b_ok")))
        .cast("bigint")
        .alias("n_a_only"),
        F.sum((1 - F.col("a_ok")) * F.col("b_ok"))
        .cast("bigint")
        .alias("n_b_only"),
        F.sum((1 - F.col("a_ok")) * (1 - F.col("b_ok")))
        .cast("bigint")
        .alias("n_neither"),
    )
    return cells.select(
        "n",
        "n_both_correct",
        "n_a_only",
        "n_b_only",
        "n_neither",
        F.expr(
            "CAST((n_both_correct + n_a_only) * 1000000 div n AS BIGINT)"
        ).alias("acc_a_ppm"),
        F.expr(
            "CAST((n_both_correct + n_b_only) * 1000000 div n AS BIGINT)"
        ).alias("acc_b_ppm"),
        F.expr(
            "CAST(CASE WHEN n_a_only + n_b_only = 0 THEN 0"
            " ELSE 1000 * (n_a_only - n_b_only) * (n_a_only - n_b_only)"
            " div (n_a_only + n_b_only) END AS BIGINT)"
        ).alias("chi2_milli"),
        F.expr(
            "CAST(CASE WHEN 1000 * (n_a_only - n_b_only)"
            " * (n_a_only - n_b_only) > 3841 * (n_a_only + n_b_only)"
            " THEN 1 ELSE 0 END AS INT)"
        ).alias("reject_95"),
    )


# ---------------------------------------------------------------------------
# q359 — cross-split embedding decontamination sweep
# ---------------------------------------------------------------------------


@query(
    "q359_embedding_decontamination",
    oracle=f"""
    WITH keyed AS (
      SELECT vec_id, embedding,
             {_sql_srp_bucket(6)} AS bucket,
             CASE WHEN SUBSTR(MD5(CAST(vec_id AS VARCHAR) || ':xcon'),
                              1, 1) < '8' THEN 1 ELSE 0 END AS is_train
      FROM embeddings
    ),
    cand AS (
      SELECT b.vec_id AS test_id,
             ROUND({_sql_cosine('a.embedding', 'b.embedding')}, 6) AS cos6
      FROM keyed a JOIN keyed b
        ON a.bucket = b.bucket AND a.is_train = 1 AND b.is_train = 0
    ),
    mx AS (SELECT test_id, MAX(cos6) AS mx FROM cand GROUP BY test_id),
    nt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_test
      FROM keyed WHERE is_train = 0
    ),
    grid(tau_ppm, tau_s) AS (
      VALUES (300000, '0.30'), (350000, '0.35'), (400000, '0.40')
    )
    SELECT CAST(g.tau_ppm AS INT) AS tau_ppm,
           nt.n_test,
           CAST(COALESCE(SUM(CASE WHEN mx.mx >= CAST(g.tau_s AS DOUBLE)
                                  THEN 1 ELSE 0 END), 0) AS BIGINT)
             AS n_contaminated,
           CAST(COALESCE(SUM(CASE WHEN mx.mx >= CAST(g.tau_s AS DOUBLE)
                                  THEN 1 ELSE 0 END), 0) * 1000000
                // nt.n_test AS BIGINT) AS contaminated_ppm
    FROM grid g CROSS JOIN nt LEFT JOIN mx ON TRUE
    GROUP BY g.tau_ppm, nt.n_test
    ORDER BY tau_ppm
    """.replace(
        "{cos}",
        "LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE)"
        " * CAST(b.embedding[i] AS DOUBLE)))"
        " / (SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),"
        " i -> CAST(a.embedding[i] AS DOUBLE)"
        " * CAST(a.embedding[i] AS DOUBLE))))"
        " * SQRT(LIST_SUM(LIST_TRANSFORM(RANGE(1, 65),"
        " i -> CAST(b.embedding[i] AS DOUBLE)"
        " * CAST(b.embedding[i] AS DOUBLE)))))",
    ),
    tags=("llm", "decontamination", "embedding", "similarity"),
)
def q359_embedding_decontamination(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Cross-split embedding decontamination: test-split vectors whose
    cosine to ANY train-split vector clears a threshold, swept over
    tau in {{0.30, 0.35, 0.40}} — the embedding-space contamination
    audit that catches paraphrased or re-rendered eval leakage the
    n-gram overlap check (q103) cannot see. Candidates come from the
    q75 SRP bucket machinery (6 md5-derived hyperplanes, oracle-
    replayed bit-for-bit), verified with exact precomputed-norm
    cosine; per-test max-cosine then sweeps all three thresholds
    from ONE candidate pass.

    Scale: bucketed train-x-test join, never all-pairs (collision
    probability (1 - theta/pi)^6 concentrates candidates on similar
    pairs); norms are computed once per vector, not per pair; the
    sweep multiplies a test-grain max column by 3, not the
    candidates."""
    emb = load(spark, sf_dir, "embeddings")
    dbl = as_double(F.col("embedding"))
    gate = (
        F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":xcon"))),
            1,
            1,
        )
        < "8"
    )
    base = (
        bucket_keys(emb, n_planes=6)
        .join(
            emb.select(
                "vec_id",
                dbl.alias("_emb"),
                F.sqrt(dot(dbl, dbl)).alias("_norm"),
                F.when(gate, 1).otherwise(0).alias("is_train"),
            ),
            "vec_id",
        )
        .persist()
    )
    tr = base.filter(F.col("is_train") == 1).select(
        F.col("bucket"), F.col("_emb").alias("_ea"), F.col("_norm").alias("_na")
    )
    te = base.filter(F.col("is_train") == 0).select(
        F.col("bucket"),
        F.col("vec_id").alias("test_id"),
        F.col("_emb").alias("_eb"),
        F.col("_norm").alias("_nb"),
    )
    mx = (
        tr.join(te, "bucket")
        .select(
            "test_id",
            F.round(
                dot(F.col("_ea"), F.col("_eb"))
                / (F.col("_na") * F.col("_nb")),
                6,
            ).alias("cos6"),
        )
        .groupBy("test_id")
        .agg(F.max("cos6").alias("mx"))
    )
    nt = base.filter(F.col("is_train") == 0).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test")
    )
    grid = spark.createDataFrame(
        [(300000, 0.30), (350000, 0.35), (400000, 0.40)],
        "tau_ppm int, tau double",
    )
    hits = (
        mx.crossJoin(F.broadcast(grid))
        .groupBy("tau_ppm")
        .agg(
            F.sum(F.when(F.col("mx") >= F.col("tau"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_hit"),
        )
    )
    out = (
        grid.join(hits, "tau_ppm", "left")
        .crossJoin(F.broadcast(nt))
        .select(
            F.col("tau_ppm").cast("int").alias("tau_ppm"),
            "n_test",
            F.coalesce(F.col("n_hit"), F.lit(0))
            .cast("bigint")
            .alias("n_contaminated"),
            F.expr(
                "CAST(COALESCE(n_hit, 0) * 1000000 div n_test AS BIGINT)"
            ).alias("contaminated_ppm"),
        )
        .orderBy("tau_ppm")
    )
    return out
