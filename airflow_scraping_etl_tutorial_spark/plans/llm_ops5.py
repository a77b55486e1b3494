"""LLM-ops wave 6 (registered in round 6): session and stream health,
dedup-topology audits, and sampling/statistical design — the second
ring of curation machinery around waves 1-5.

Reference parity: the reference's one daily DAG validates, transforms,
and alerts (dags/Final_app.py:79-149); these entries keep extending
that posture — validate the data plane continuously, at corpus scale,
with deterministic cross-engine-checkable arithmetic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.asof import asof_join
from ..operators.cluster import connected_components, dedup_keep_canonical
from ..operators.dedup import minhash_near_duplicates
from ..operators.similarity import EMBED_DIM
from ..operators.text import tokens
from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# Shared oracle fragment: q82's sessionization chain (30-minute gap,
# lag -> flag -> running sum), extended with per-session time bounds.
_SQL_SESSIONS = """
    ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts, event_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             COUNT(*) AS n_events,
             CAST(EPOCH_US(MAX(ts)) - EPOCH_US(MIN(ts)) AS BIGINT) AS duration_us
      FROM sessions GROUP BY 1, 2
    )
"""


# ---------------------------------------------------------------------------
# q184 — session shape profile
# ---------------------------------------------------------------------------


@query(
    "q184_session_shape_profile",
    oracle=f"""
    WITH {_SQL_SESSIONS}
    SELECT n_events AS session_events,
           COUNT(*) AS n_sessions,
           ROUND(CAST(SUM(CAST(duration_us AS DECIMAL(24,0))) AS DOUBLE)
                 / COUNT(*) / 1000000, 4) AS mean_duration_sec
    FROM per_session GROUP BY n_events ORDER BY session_events
    """,
    tags=("streaming", "session", "profile"),
)
def q184_session_shape_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session shape profile: the distribution of session sizes (events
    per 30-minute-gap session, q82's exact rule) with the mean wall
    duration of each size class — the report that turns raw
    sessionization into product/abuse signal (a spike of long
    single-event sessions is a bot fleet; shrinking deep sessions is a
    UX break). Same single user_id shuffle as q82; durations are exact
    integer microseconds and the means ride decimal sums."""
    e = load(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_order).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        F.sum("new_session")
        .over(w_order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        (F.unix_micros(F.max("ts")) - F.unix_micros(F.min("ts"))).alias(
            "duration_us"
        ),
    )
    return (
        per_session.groupBy(F.col("n_events").alias("session_events"))
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.round(
                F.sum(F.col("duration_us").cast("decimal(24,0)")).cast("double")
                / F.count(F.lit(1))
                / 1_000_000,
                4,
            ).alias("mean_duration_sec"),
        )
        .orderBy("session_events")
    )


# ---------------------------------------------------------------------------
# q185 — duplicate-cluster size histogram
# ---------------------------------------------------------------------------


@query(
    "q185_dup_cluster_size_histogram",
    oracle=f"""
    WITH RECURSIVE {_sql_minhash_pairs(0.5)},
    edges AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component_id FROM reach GROUP BY node),
    sizes AS (
      SELECT component_id, COUNT(*) AS cluster_size
      FROM comp GROUP BY component_id
    )
    SELECT cluster_size,
           COUNT(*) AS n_clusters,
           cluster_size * COUNT(*) AS n_docs,
           (cluster_size - 1) * COUNT(*) AS n_removable
    FROM sizes GROUP BY cluster_size ORDER BY cluster_size
    """,
    tags=("llm", "dedup", "cluster", "histogram", "iterative"),
)
def q185_dup_cluster_size_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster topology: sizes of the connected components of
    the verified near-dup graph (docs in >= 1 pair), histogrammed with
    the removable mass per size class — the capacity plan for a dedup
    pass (one giant component means boilerplate collapse; many pairs
    means ordinary mirrors). Spark runs the real iterative label
    propagation (operators/cluster.py, localCheckpoint-truncated); the
    oracle reaches the same fixpoint with a recursive CTE (q90's
    doctrine — declarative at oracle scale, iterative at 100 TB)."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    comp = connected_components(pairs)
    sizes = comp.groupBy("component_id").agg(
        F.count(F.lit(1)).alias("cluster_size")
    )
    return (
        sizes.groupBy("cluster_size")
        .agg(F.count(F.lit(1)).alias("n_clusters"))
        .select(
            "cluster_size",
            "n_clusters",
            (F.col("cluster_size") * F.col("n_clusters")).alias("n_docs"),
            ((F.col("cluster_size") - 1) * F.col("n_clusters")).alias(
                "n_removable"
            ),
        )
        .orderBy("cluster_size")
    )


# ---------------------------------------------------------------------------
# q186 — greedy vs transitive dedup audit
# ---------------------------------------------------------------------------


@query(
    "q186_greedy_vs_transitive_dedup",
    oracle=f"""
    WITH RECURSIVE {_sql_minhash_pairs(0.5)},
    greedy_drops AS (SELECT DISTINCT doc_id_b AS doc_id FROM pairs),
    edges AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
      UNION ALL
      SELECT doc_id_b, doc_id_a FROM pairs
    ),
    reach(node, label) AS (
      SELECT DISTINCT s, s FROM edges
      UNION
      SELECT e.d, r.label FROM reach r JOIN edges e ON e.s = r.node
    ),
    comp AS (SELECT node, MIN(label) AS component_id FROM reach GROUP BY node)
    SELECT d.lang,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped_greedy,
           CAST(SUM(CASE WHEN c.node IS NOT NULL AND c.component_id <> d.doc_id
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped_transitive,
           CAST(SUM(CASE WHEN g.doc_id IS NOT NULL THEN 1 ELSE 0 END)
             - SUM(CASE WHEN c.node IS NOT NULL AND c.component_id <> d.doc_id
                        THEN 1 ELSE 0 END) AS BIGINT) AS greedy_minus_transitive
    FROM documents d
    LEFT JOIN greedy_drops g ON g.doc_id = d.doc_id
    LEFT JOIN comp c ON c.node = d.doc_id
    GROUP BY d.lang ORDER BY d.lang
    """,
    tags=("llm", "dedup", "audit", "iterative"),
)
def q186_greedy_vs_transitive_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-policy audit: the pairwise-greedy rule (q155 — drop the
    higher id of every verified pair) against the transitive
    connected-component rule (q90 — keep one per cluster), per
    language. Greedy can over-drop relative to CC (A-B and B-C pairs
    drop both B and C even when A-C are unrelated); the delta is the
    price of skipping the iterative clustering pass, and this report
    is how a pipeline decides whether that price is acceptable. Both
    verdicts join the same digest-keyed pair evidence; Spark runs the
    real label propagation for the transitive side."""
    docs = load(spark, sf_dir, "documents")
    # pairs feeds the greedy verdict AND seeds the label propagation —
    # persist so the candidate-join + verify pass runs once.
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5).persist()
    greedy = (
        pairs.select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("_g", F.lit(1))
    )
    marked = dedup_keep_canonical(docs, pairs)
    out = (
        marked.join(greedy, "doc_id", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("_g").isNotNull(), 1).otherwise(0)).alias(
                "n_dropped_greedy"
            ),
            F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)).alias(
                "n_dropped_transitive"
            ),
            (
                F.sum(F.when(F.col("_g").isNotNull(), 1).otherwise(0))
                - F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0))
            ).alias("greedy_minus_transitive"),
        )
        .orderBy("lang")
    )
    return out


# ---------------------------------------------------------------------------
# q187 — Neyman sampling allocation
# ---------------------------------------------------------------------------


@query(
    "q187_neyman_allocation",
    oracle="""
    WITH t AS (
      SELECT lang,
             CAST(ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                    x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is',
                               'it', 'that', 'for'))) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')), 6) AS DECIMAL(10,6)) AS r6
      FROM documents
    ),
    s AS (
      SELECT lang, COUNT(*) AS n,
             CAST(SUM(r6) AS DOUBLE) AS sx,
             CAST(SUM(r6 * r6) AS DOUBLE) AS sxx
      FROM t GROUP BY lang
    ),
    w AS (
      SELECT lang, n,
             n * SQRT(sxx / n - (sx / n) * (sx / n)) AS weight
      FROM s
    ),
    tot AS (SELECT SUM(weight) AS tw FROM w)
    SELECT lang,
           CAST(n AS BIGINT) AS n_docs,
           ROUND(weight, 6) AS neyman_weight,
           CAST(ROUND(1000 * weight / tot.tw, 0) AS BIGINT) AS allocated_samples
    FROM w CROSS JOIN tot ORDER BY lang
    """,
    tags=("llm", "sampling", "design", "stats"),
)
def q187_neyman_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Neyman allocation for a 1000-doc QA sample: each language
    stratum gets samples proportional to n_h * sd_h of its quality
    signal (stopword ratio) — the optimal-variance design for auditing
    a heterogeneous corpus, vs q162's equal-size draw. Variances come
    from decimal-exact power sums of the rounded per-doc ratios
    (products of DECIMAL(10,6) are exact), so the weights — and the
    integer allocations — are identical doubles on both engines (SQRT
    is IEEE-correctly-rounded everywhere). One scan, a lang-sized
    aggregate, one broadcast scalar."""
    from ..operators.text import en_stopword_ratio

    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "lang",
        F.round(en_stopword_ratio(F.col("text")), 6)
        .cast("decimal(10,6)")
        .alias("r6"),
    )
    s = t.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("r6").cast("double").alias("sx"),
        F.sum(F.col("r6") * F.col("r6")).cast("double").alias("sxx"),
    )
    w = s.select(
        "lang",
        "n",
        (
            F.col("n")
            * F.sqrt(
                F.col("sxx") / F.col("n")
                - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
            )
        ).alias("weight"),
    )
    tot = w.agg(F.sum("weight").alias("tw"))
    return (
        w.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            F.col("n").cast("bigint").alias("n_docs"),
            F.round("weight", 6).alias("neyman_weight"),
            F.round(F.lit(1000) * F.col("weight") / F.col("tw"), 0)
            .cast("bigint")
            .alias("allocated_samples"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q188 — late-arrival (watermark) audit
# ---------------------------------------------------------------------------


@query(
    "q188_late_arrival_audit",
    oracle="""
    WITH arr AS (
      SELECT event_type,
             CAST(EPOCH_US(ts) AS BIGINT) AS ts_us,
             MAX(CAST(EPOCH_US(ts) AS BIGINT)) OVER (
               PARTITION BY event_type ORDER BY event_id
               ROWS UNBOUNDED PRECEDING) AS max_seen_us
      FROM events
    )
    SELECT event_type,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts_us < max_seen_us - 600000000 THEN 1 ELSE 0
                END) AS BIGINT) AS n_late,
           ROUND(CAST(SUM(CASE WHEN ts_us < max_seen_us - 600000000
                              THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS late_rate,
           MAX(max_seen_us - ts_us) AS max_disorder_us
    FROM arr GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "watermark", "audit"),
)
def q188_late_arrival_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning evidence: replaying the stream in arrival order
    (event_id), how many events arrive with an event time more than 10
    minutes behind the max event time already seen — exactly the rows a
    10-minute watermark would drop — plus the worst observed disorder.
    This is the batch audit that sizes `withWatermark` in
    streaming/events.py from data instead of folklore. Partitioned per
    event type (each stream audited independently); at 100 TB the
    running max shards by (type, arrival bucket) and merges partial
    maxima, same associative shape."""
    ev = load(spark, sf_dir, "events")
    w = (
        W.partitionBy("event_type")
        .orderBy("event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    arr = ev.select(
        "event_type",
        F.unix_micros("ts").alias("ts_us"),
        F.max(F.unix_micros("ts")).over(w).alias("max_seen_us"),
    )
    late = F.sum(
        F.when(F.col("ts_us") < F.col("max_seen_us") - 600_000_000, 1).otherwise(0)
    )
    return (
        arr.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            late.alias("n_late"),
            F.round(late.cast("double") / F.count(F.lit(1)), 6).alias("late_rate"),
            F.max(F.col("max_seen_us") - F.col("ts_us")).alias("max_disorder_us"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q189 — Heaps'-law vocabulary growth fit
# ---------------------------------------------------------------------------


@query(
    "q189_heaps_law_fit",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    first_seen AS (SELECT tok, MIN(doc_id) AS first_doc FROM tok GROUP BY tok),
    pertok AS (SELECT doc_id, COUNT(*) AS n_tok FROM tok GROUP BY doc_id),
    mx AS (SELECT MAX(doc_id) AS m FROM pertok),
    cps AS (
      SELECT CAST((i * mx.m) // 10 AS BIGINT) AS cp
      FROM (SELECT UNNEST(RANGE(1, 11)) AS i) r CROSS JOIN mx
    ),
    curve AS (
      SELECT c.cp,
             (SELECT SUM(p.n_tok) FROM pertok p WHERE p.doc_id <= c.cp)
               AS cum_tokens,
             (SELECT COUNT(*) FROM first_seen f WHERE f.first_doc <= c.cp)
               AS vocab
      FROM cps c
    ),
    q AS (
      SELECT CAST(LN(CAST(cum_tokens AS DOUBLE)) AS DECIMAL(18,6)) AS x,
             CAST(LN(CAST(vocab AS DOUBLE)) AS DECIMAL(18,6)) AS y
      FROM curve WHERE cum_tokens > 0 AND vocab > 0
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_checkpoints,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS heaps_beta,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS heaps_log_k
    FROM s
    """,
    tags=("llm", "text", "vocabulary", "stats"),
)
def q189_heaps_law_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law fit: vocabulary size as a power law of corpus size,
    measured at 10 ingestion checkpoints (doc_id deciles) and fitted by
    OLS on the quantized-LN power sums (q166's doctrine). beta far from
    the ~0.5 natural-text range means the corpus is repeating itself
    (vocab saturating) or degenerating into noise (vocab exploding) —
    the growth forecast a crawler budget reads. Checkpoint counts come
    from token first-occurrence (min doc_id per token — one vocab-sized
    aggregate) joined against a broadcast 10-row checkpoint list; no
    ordered scan, no driver loop."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    first_seen = tok.groupBy("tok").agg(F.min("doc_id").alias("first_doc"))
    pertok = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_tok"))
    mx = pertok.agg(F.max("doc_id").alias("m"))
    cps = (
        spark.range(1, 11)
        .crossJoin(F.broadcast(mx))
        .select(F.expr("id * m div 10").cast("bigint").alias("cp"))
    )
    cum = (
        pertok.crossJoin(F.broadcast(cps))
        .filter(F.col("doc_id") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.sum("n_tok").alias("cum_tokens"))
    )
    voc = (
        first_seen.crossJoin(F.broadcast(cps))
        .filter(F.col("first_doc") <= F.col("cp"))
        .groupBy("cp")
        .agg(F.count(F.lit(1)).alias("vocab"))
    )
    curve = cum.join(voc, "cp").filter(
        (F.col("cum_tokens") > 0) & (F.col("vocab") > 0)
    )
    q = curve.select(
        F.log(F.col("cum_tokens").cast("double")).cast("decimal(18,6)").alias("x"),
        F.log(F.col("vocab").cast("double")).cast("decimal(18,6)").alias("y"),
    )
    s = q.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("double").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("double").alias("sxx"),
    )
    slope = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    return s.select(
        F.col("n").cast("bigint").alias("n_checkpoints"),
        F.round(slope, 6).alias("heaps_beta"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "heaps_log_k"
        ),
    )


# ---------------------------------------------------------------------------
# q190 — value outlier audit (3-sigma)
# ---------------------------------------------------------------------------


@query(
    "q190_value_outlier_audit",
    oracle="""
    WITH s AS (
      SELECT event_type, COUNT(*) AS n,
             CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(value * value AS DECIMAL(24,8))) AS DOUBLE) AS sxx
      FROM events GROUP BY event_type
    ),
    m AS (
      SELECT event_type, n, sx / n AS mean_v,
             SQRT(sxx / n - (sx / n) * (sx / n)) AS sd_v
      FROM s
    )
    SELECT e.event_type AS event_type,
           CAST(MIN(m.n) AS BIGINT) AS n_events,
           ROUND(MIN(m.mean_v), 6) AS mean_value,
           ROUND(MIN(m.sd_v), 6) AS sd_value,
           CAST(SUM(CASE WHEN ABS(e.value - m.mean_v) > 3 * m.sd_v
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN ABS(e.value - m.mean_v) > 3 * m.sd_v
                              THEN 1 ELSE 0 END) AS DOUBLE) / MIN(m.n), 6)
             AS outlier_rate
    FROM events e JOIN m ON m.event_type = e.event_type
    GROUP BY e.event_type ORDER BY e.event_type
    """,
    tags=("streaming", "events", "outlier", "audit"),
)
def q190_value_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-sigma outlier audit on the event value stream, per type: the
    classic two-pass anomaly gate (aggregate moments, broadcast them
    back, flag the tails) that fronts any metric ingestion. Moments
    come from decimal-exact power sums so mean/sd — and therefore every
    flag decision — are identical doubles on both engines; the second
    pass is a map-only comparison against the broadcast model row."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((F.col("value") * F.col("value")).cast("decimal(24,8)"))
        .cast("double")
        .alias("sxx"),
    )
    m = s.select(
        "event_type",
        "n",
        (F.col("sx") / F.col("n")).alias("mean_v"),
        F.sqrt(
            F.col("sxx") / F.col("n")
            - (F.col("sx") / F.col("n")) * (F.col("sx") / F.col("n"))
        ).alias("sd_v"),
    )
    flagged = F.sum(
        F.when(
            F.abs(F.col("value") - F.col("mean_v")) > 3 * F.col("sd_v"), 1
        ).otherwise(0)
    )
    return (
        ev.join(F.broadcast(m), "event_type")
        .groupBy("event_type")
        .agg(
            F.min("n").cast("bigint").alias("n_events"),
            F.round(F.min("mean_v"), 6).alias("mean_value"),
            F.round(F.min("sd_v"), 6).alias("sd_value"),
            flagged.alias("n_outliers"),
            F.round(flagged.cast("double") / F.min("n"), 6).alias("outlier_rate"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q191 — as-of join with match tolerance
# ---------------------------------------------------------------------------


@query(
    "q191_asof_tolerance_join",
    oracle="""
    WITH relevant AS (
      SELECT * FROM events WHERE event_type IN ('purchase', 'signup')
    ),
    tagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN event_type = 'signup' THEN ts END AS signup_ts
      FROM relevant
    ),
    runs AS (
      SELECT user_id, ts, event_id, event_type,
             MAX(signup_ts) OVER (
               PARTITION BY user_id
               ORDER BY ts, (CASE WHEN event_type = 'signup' THEN 0 ELSE 1 END),
                        event_id
               ROWS UNBOUNDED PRECEDING) AS asof_signup_ts
      FROM tagged
    ),
    p AS (
      SELECT user_id,
             CASE WHEN asof_signup_ts IS NULL THEN 'no_signup'
                  WHEN EPOCH_US(ts) - EPOCH_US(asof_signup_ts)
                       <= 604800000000 THEN 'within_7d'
                  ELSE 'stale' END AS match_class
      FROM runs WHERE event_type = 'purchase'
    )
    SELECT user_id,
           COUNT(*) AS n_purchases,
           CAST(SUM(CASE WHEN match_class = 'within_7d' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_within_7d,
           CAST(SUM(CASE WHEN match_class = 'stale' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_stale,
           CAST(SUM(CASE WHEN match_class = 'no_signup' THEN 1 ELSE 0 END)
             AS BIGINT) AS n_no_signup
    FROM p GROUP BY user_id ORDER BY user_id
    """,
    tags=("streaming", "asof", "join", "tolerance"),
)
def q191_asof_tolerance_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join with tolerance (pandas merge_asof's `tolerance`, the
    variant q84 leaves out): each purchase classed by whether its most
    recent signup is within 7 days, older (stale attribution), or
    absent. The tolerance gate runs AFTER the single-shuffle as-of
    union-sort (operators/asof.py) — no second join, just exact integer
    microsecond arithmetic on the matched row — so the operator's
    100 TB shape is unchanged from q84."""
    e = load(spark, sf_dir, "events")
    purchases = e.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    signups = e.filter(F.col("event_type") == "signup").select("user_id", "ts")
    joined = asof_join(purchases, signups, on="user_id")
    match_class = (
        F.when(F.col("asof_ts").isNull(), "no_signup")
        .when(
            F.unix_micros("ts") - F.unix_micros("asof_ts") <= 604_800_000_000,
            "within_7d",
        )
        .otherwise("stale")
    )
    p = joined.select("user_id", match_class.alias("match_class"))
    return (
        p.groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.sum(F.when(F.col("match_class") == "within_7d", 1).otherwise(0)).alias(
                "n_within_7d"
            ),
            F.sum(F.when(F.col("match_class") == "stale", 1).otherwise(0)).alias(
                "n_stale"
            ),
            F.sum(F.when(F.col("match_class") == "no_signup", 1).otherwise(0)).alias(
                "n_no_signup"
            ),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# q192 — documents/embeddings key-coverage audit
# ---------------------------------------------------------------------------


@query(
    "q192_docs_embeddings_coverage",
    oracle="""
    WITH dk AS (SELECT DISTINCT doc_id FROM documents),
    vk AS (SELECT DISTINCT vec_id FROM embeddings)
    SELECT (SELECT COUNT(*) FROM dk) AS n_doc_keys,
           (SELECT COUNT(*) FROM vk) AS n_vec_keys,
           (SELECT COUNT(*) FROM dk JOIN vk ON vk.vec_id = dk.doc_id)
             AS n_matched,
           (SELECT COUNT(*) FROM dk WHERE doc_id NOT IN (SELECT vec_id FROM vk))
             AS n_docs_without_vec,
           (SELECT COUNT(*) FROM vk WHERE vec_id NOT IN (SELECT doc_id FROM dk))
             AS n_orphan_vecs
    """,
    tags=("llm", "audit", "referential", "embeddings"),
)
def q192_docs_embeddings_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Text/vector-store reconciliation: do the documents table and the
    embedding store cover the same keys? Un-embedded docs are invisible
    to retrieval; orphan vectors serve deleted content — both are
    silent production bugs. Extends q149's FK audit beyond the star
    schema to the multimodal pair. Distinct-keys-first (q149 doctrine):
    both sides collapse to key sets before the semi/anti joins, so only
    8-byte keys ever shuffle."""
    dk = load(spark, sf_dir, "documents").select("doc_id").distinct()
    vk = load(spark, sf_dir, "embeddings").select("vec_id").distinct()
    n_docs = dk.agg(F.count(F.lit(1)).alias("n_doc_keys"))
    n_vecs = vk.agg(F.count(F.lit(1)).alias("n_vec_keys"))
    matched = (
        dk.join(vk, dk.doc_id == vk.vec_id, "left_semi")
        .agg(F.count(F.lit(1)).alias("n_matched"))
    )
    docs_wo = (
        dk.join(vk, dk.doc_id == vk.vec_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_docs_without_vec"))
    )
    orphans = (
        vk.join(dk, vk.vec_id == dk.doc_id, "left_anti")
        .agg(F.count(F.lit(1)).alias("n_orphan_vecs"))
    )
    return (
        n_docs.crossJoin(n_vecs)
        .crossJoin(matched)
        .crossJoin(docs_wo)
        .crossJoin(orphans)
    )


# ---------------------------------------------------------------------------
# q193 — token-frequency Gini coefficient
# ---------------------------------------------------------------------------


@query(
    "q193_token_gini",
    oracle="""
    WITH freq AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    ranked AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt, tok) AS rnk FROM freq
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(CAST(cnt AS DECIMAL(18,0))) AS DOUBLE) AS total,
             CAST(SUM(CAST(rnk AS DECIMAL(18,0)) * cnt) AS DOUBLE) AS weighted
      FROM ranked
    )
    SELECT CAST(n AS BIGINT) AS vocab_size,
           CAST(total AS BIGINT) AS total_tokens,
           ROUND((2 * weighted) / (n * total) - (n + 1.0) / n, 6) AS gini
    FROM s
    """,
    tags=("llm", "text", "gini", "stats"),
)
def q193_token_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical concentration in one number: the Gini coefficient of the
    token frequency distribution (0 = every type equally used, -> 1 =
    a few types dominate), computed from the rank-weighted sum identity
    — natural corpora sit high (~0.8+, Zipf mass); a COLLAPSING Gini
    across snapshots means template flooding is homogenizing the
    corpus. Ranks come from one vocab-sized sort with (count, token)
    tie-breaks; the weighted sums ride exact decimals, so the statistic
    is bit-stable cross-engine. Pairs with q166 (the curve's slope)
    and q128 (per-doc surprisal) as the lexical-health triad."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    ranked = freq.select(
        # global-window-ok: vocab-grain rank; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
        "cnt", F.row_number().over(W.orderBy("cnt", "tok")).alias("rnk")
    )
    s = ranked.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("cnt").cast("decimal(18,0)")).cast("double").alias("total"),
        F.sum(F.col("rnk").cast("decimal(18,0)") * F.col("cnt"))
        .cast("double")
        .alias("weighted"),
    )
    return s.select(
        F.col("n").cast("bigint").alias("vocab_size"),
        F.col("total").cast("bigint").alias("total_tokens"),
        F.round(
            (2 * F.col("weighted")) / (F.col("n") * F.col("total"))
            - (F.col("n") + F.lit(1.0)) / F.col("n"),
            6,
        ).alias("gini"),
    )


# ---------------------------------------------------------------------------
# q194 — Pareto skyline of orders
# ---------------------------------------------------------------------------


@query(
    "q194_pareto_skyline",
    oracle="""
    WITH pp AS (
      SELECT o_totalprice, MAX(o_orderdate) AS mdate
      FROM orders GROUP BY o_totalprice
    ),
    runs AS (
      SELECT o_totalprice, mdate,
             MAX(mdate) OVER (ORDER BY o_totalprice DESC
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING) AS best_prev
      FROM pp
    )
    SELECT o.o_orderkey, o.o_totalprice,
           STRFTIME(o.o_orderdate, '%Y-%m-%d') AS o_orderdate
    FROM orders o JOIN runs r ON r.o_totalprice = o.o_totalprice
    WHERE o.o_orderdate = r.mdate
      AND (r.best_prev IS NULL OR o.o_orderdate > r.best_prev)
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    """,
    tags=("relational", "skyline", "window"),
)
def q194_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (Pareto-front) query: orders strictly dominated by no
    other on (totalprice, orderdate) — the multi-criteria shortlist
    operator (best trade-offs, not a single ranking). Computed without
    the naive quadratic self-join: collapse to max-date per price
    level, one running max over the price-descending order gives each
    level the best date among strictly higher prices, and a row
    survives iff it beats that. One grouped aggregate + one window +
    one broadcast-size join back — O(n log n) by sort, the 100 TB
    form of a skyline."""
    orders = load(spark, sf_dir, "orders")
    pp = orders.groupBy("o_totalprice").agg(F.max("o_orderdate").alias("mdate"))
    # global-window-ok: distinct-price grain (pre-aggregated); docstring documents the sort-based skyline trade
    w = W.orderBy(F.desc("o_totalprice")).rowsBetween(W.unboundedPreceding, -1)
    runs = pp.select(
        "o_totalprice", "mdate", F.max("mdate").over(w).alias("best_prev")
    )
    return (
        orders.join(runs, "o_totalprice")
        .filter(
            (F.col("o_orderdate") == F.col("mdate"))
            & (
                F.col("best_prev").isNull()
                | (F.col("o_orderdate") > F.col("best_prev"))
            )
        )
        .select(
            "o_orderkey",
            "o_totalprice",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
    )


# ---------------------------------------------------------------------------
# q195 — month-over-month revenue growth
# ---------------------------------------------------------------------------


@query(
    "q195_mom_revenue_growth",
    oracle="""
    WITH m AS (
      SELECT r.r_name AS region,
             STRFTIME(o.o_orderdate, '%Y-%m') AS month,
             CAST(ROUND(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                            * (1 - CAST(l.l_discount AS DECIMAL(18,2)))), 2)
                  AS DOUBLE) AS revenue
      FROM lineitem l
      JOIN orders o ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation n ON n.n_nationkey = c.c_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      GROUP BY 1, 2
    )
    SELECT region, month, revenue,
           ROUND(revenue / LAG(revenue) OVER (PARTITION BY region
                                              ORDER BY month) - 1, 6)
             AS mom_growth
    FROM m ORDER BY region, month
    """,
    tags=("relational", "window", "growth", "trend"),
)
def q195_mom_revenue_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth per region: q01's star
    aggregation at month grain with a lag-window growth rate — the
    trend layer every revenue dashboard adds on top of the flagship
    rollup. The heavy work is the same 4-broadcast-dim star + one
    month-grain aggregate; the growth window then runs on
    region x month rows (model-sized). Revenue rides the decimal-exact
    money path and is rounded BEFORE the ratio, so growth is the same
    double on both engines."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    nat = load(spark, sf_dir, "nation")
    reg = load(spark, sf_dir, "region")
    m = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .join(F.broadcast(reg), nat.n_regionkey == reg.r_regionkey)
        .groupBy(
            F.col("r_name").alias("region"),
            F.date_format("o_orderdate", "yyyy-MM").alias("month"),
        )
        .agg(
            F.round(
                F.sum(
                    F.col("l_extendedprice").cast("decimal(18,2)")
                    * (F.lit(1) - F.col("l_discount").cast("decimal(18,2)"))
                ),
                2,
            )
            .cast("double")
            .alias("revenue")
        )
    )
    w = W.partitionBy("region").orderBy("month")
    return m.select(
        "region",
        "month",
        "revenue",
        F.round(F.col("revenue") / F.lag("revenue").over(w) - 1, 6).alias(
            "mom_growth"
        ),
    ).orderBy("region", "month")


# ---------------------------------------------------------------------------
# q196 — hapax legomena rate per source
# ---------------------------------------------------------------------------


@query(
    "q196_hapax_rate_by_source",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    v AS (SELECT source, tok, COUNT(*) AS cnt FROM tok GROUP BY 1, 2)
    SELECT source,
           COUNT(*) AS vocab_size,
           CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hapax,
           ROUND(CAST(SUM(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS hapax_rate
    FROM v GROUP BY source ORDER BY source
    """,
    tags=("llm", "text", "vocabulary", "profile"),
)
def q196_hapax_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hapax legomena rate per source: the fraction of each feed's
    vocabulary used exactly once. Natural text sits near 40-60%;
    template spam collapses it, OCR noise inflates it — the third leg
    of the lexical-health triad with q166 (Zipf slope) and q193 (Gini).
    Two map-side-combined integer aggregates over (source, token);
    the text never shuffles."""
    docs = load(spark, sf_dir, "documents")
    v = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    hapax = F.sum(F.when(F.col("cnt") == 1, 1).otherwise(0))
    return (
        v.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("vocab_size"),
            hapax.alias("n_hapax"),
            F.round(hapax.cast("double") / F.count(F.lit(1)), 6).alias(
                "hapax_rate"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q197 — dominant-direction (anisotropy) audit via power iteration
# ---------------------------------------------------------------------------


def _sql_power_iteration_oracle() -> str:
    """DuckDB twin of the two-step power iteration: left-associated
    component sums for the seed dot, decimal-exact matrix-vector
    accumulations across rows, and the _sql_dot chains for everything
    vector-sized — every intermediate double matches Spark."""
    from .llm_ops import _sql_dot

    seed_dot = "(" + " + ".join(
        f"CAST(embedding[{i}] AS DOUBLE)" for i in range(1, EMBED_DIM + 1)
    ) + ")"
    return f"""
    WITH d0 AS (
      SELECT embedding, {seed_dot} AS d0 FROM embeddings
    ),
    c1 AS (
      SELECT i AS pos,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * d0
                  AS DECIMAL(28,10))) AS DOUBLE) AS w
      FROM d0, (SELECT UNNEST(RANGE(1, {EMBED_DIM + 1})) AS i) r GROUP BY i
    ),
    w1 AS (SELECT LIST(w ORDER BY pos) AS v1 FROM c1),
    d1 AS (
      SELECT e.embedding, {_sql_dot('e.embedding', 'w.v1')} AS d1
      FROM embeddings e CROSS JOIN w1 w
    ),
    c2 AS (
      SELECT i AS pos,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) * d1
                  AS DECIMAL(38,8))) AS DOUBLE) AS w
      FROM d1, (SELECT UNNEST(RANGE(1, {EMBED_DIM + 1})) AS i) r GROUP BY i
    ),
    w2 AS (SELECT LIST(w ORDER BY pos) AS v2 FROM c2),
    tr AS (
      SELECT CAST(SUM(CAST({_sql_dot('embedding', 'embedding')}
                  AS DECIMAL(18,8))) AS DOUBLE) AS trace
      FROM embeddings
    )
    SELECT ROUND(({_sql_dot('b.v2', 'a.v1')} / {_sql_dot('a.v1', 'a.v1')})
                 / t.trace, 6) AS top_eigen_share,
           ROUND(b.v2[1] / SQRT({_sql_dot('b.v2', 'b.v2')}), 6) AS comp_1,
           ROUND(b.v2[2] / SQRT({_sql_dot('b.v2', 'b.v2')}), 6) AS comp_2,
           ROUND(b.v2[3] / SQRT({_sql_dot('b.v2', 'b.v2')}), 6) AS comp_3,
           ROUND(b.v2[4] / SQRT({_sql_dot('b.v2', 'b.v2')}), 6) AS comp_4
    FROM w1 a CROSS JOIN w2 b CROSS JOIN tr t
    """


@query(
    "q197_embedding_anisotropy_audit",
    oracle=_sql_power_iteration_oracle(),
    tags=("llm", "similarity", "spectral", "iterative", "audit"),
)
def q197_embedding_anisotropy_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding anisotropy audit: the share of total second-moment
    mass captured by the dominant direction of the embedding cloud,
    found with two deterministic power iterations (seed = all-ones) —
    distributed linear algebra in pure DataFrame ops. A high share is
    the classic anisotropy pathology (all vectors crowd a narrow cone,
    cosine loses contrast and q71-q76 retrieval degrades); this is the
    one-number check run before trusting a new embedding model.

    Each matrix-vector product is one map stage (per-row dot against
    the broadcast iterate, left-associated fold) plus one dim-sized
    decimal-exact aggregation — O(n*dim) work, dim-row shuffles, no
    dim x dim covariance ever materialized, which is what survives
    10^9 vectors. The Rayleigh quotient and the reported components
    come from _sql_dot-identical chains, so every output double is
    bit-stable cross-engine."""
    from ..operators.similarity import as_double, dot

    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select(as_double(F.col("embedding")).alias("e"))
    d0 = vecs.select(
        "e",
        F.aggregate(F.col("e"), F.lit(0.0), lambda acc, x: acc + x).alias("d0"),
    )
    c1 = d0.select("d0", F.posexplode("e").alias("_p", "xi")).select(
        (F.col("_p") + 1).alias("pos"), "xi", "d0"
    )
    w1 = c1.groupBy("pos").agg(
        F.sum((F.col("xi") * F.col("d0")).cast("decimal(28,10)"))
        .cast("double")
        .alias("w")
    )
    w1row = w1.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
        ).alias("v1")
    )
    d1 = vecs.crossJoin(F.broadcast(w1row)).select(
        "e", dot(F.col("e"), F.col("v1")).alias("d1")
    )
    c2 = d1.select("d1", F.posexplode("e").alias("_p", "xi")).select(
        (F.col("_p") + 1).alias("pos"), "xi", "d1"
    )
    w2 = c2.groupBy("pos").agg(
        F.sum((F.col("xi") * F.col("d1")).cast("decimal(38,8)"))
        .cast("double")
        .alias("w")
    )
    w2row = w2.agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("pos", "w"))), lambda s: s["w"]
        ).alias("v2")
    )
    tr = vecs.agg(
        F.sum(dot(F.col("e"), F.col("e")).cast("decimal(18,8)"))
        .cast("double")
        .alias("trace")
    )
    norm2 = F.sqrt(dot(F.col("v2"), F.col("v2")))
    return (
        w1row.crossJoin(F.broadcast(w2row))
        .crossJoin(F.broadcast(tr))
        .select(
            F.round(
                (dot(F.col("v2"), F.col("v1")) / dot(F.col("v1"), F.col("v1")))
                / F.col("trace"),
                6,
            ).alias("top_eigen_share"),
            F.round(F.element_at("v2", 1) / norm2, 6).alias("comp_1"),
            F.round(F.element_at("v2", 2) / norm2, 6).alias("comp_2"),
            F.round(F.element_at("v2", 3) / norm2, 6).alias("comp_3"),
            F.round(F.element_at("v2", 4) / norm2, 6).alias("comp_4"),
        )
    )


# ---------------------------------------------------------------------------
# q198 — kNN hubness audit
# ---------------------------------------------------------------------------


@query(
    "q198_knn_hubness_audit",
    oracle="""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 50),
    ranked AS (
      SELECT e.vec_id AS neighbor_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.vec_id
               ORDER BY ("""
    + " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * CAST(e.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    + """) / (SQRT("""
    + " + ".join(
        f"CAST(q.embedding[{i}] AS DOUBLE) * CAST(q.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    + """) * SQRT("""
    + " + ".join(
        f"CAST(e.embedding[{i}] AS DOUBLE) * CAST(e.embedding[{i}] AS DOUBLE)"
        for i in range(1, 65)
    )
    + """)) DESC, e.vec_id) AS rnk
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    ),
    hubs AS (
      SELECT neighbor_id, COUNT(*) AS n_appearances
      FROM ranked WHERE rnk <= 5 GROUP BY neighbor_id
    )
    SELECT n_appearances, COUNT(*) AS n_vectors
    FROM hubs GROUP BY n_appearances ORDER BY n_appearances
    """,
    tags=("llm", "similarity", "hubness", "audit"),
)
def q198_knn_hubness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hubness audit: how often each corpus vector appears in the exact
    top-5 lists of a deterministic 50-query audit sample, histogrammed
    by appearance count. A heavy tail (one vector neighboring
    everything) is the classic high-dimensional hubness pathology —
    retrieval quality collapses onto a few hub documents, and it
    co-occurs with the anisotropy q197 measures. Same audit-sample
    economics as q143: the exact kNN runs only sample x corpus with
    the sample broadcast; the rollups are id-sized aggregates."""
    from ..operators.similarity import brute_force_topk_cosine

    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 50)
    topk = brute_force_topk_cosine(q, emb, k=5).select("neighbor_id")
    hubs = topk.groupBy("neighbor_id").agg(
        F.count(F.lit(1)).alias("n_appearances")
    )
    return (
        hubs.groupBy("n_appearances")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("n_appearances")
    )


# ---------------------------------------------------------------------------
# q199 — population stability index (PSI) drift
# ---------------------------------------------------------------------------


@query(
    "q199_psi_value_drift",
    oracle="""
    WITH g AS (
      SELECT value,
             CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(event_id AS VARCHAR)
                  || ':psi'), 1, 2) AS INTEGER) < 128
                  THEN 'a' ELSE 'b' END AS cohort
      FROM events
    ),
    bounds AS (SELECT MIN(value) AS mn, MAX(value) AS mx FROM g),
    bucketed AS (
      SELECT cohort,
             LEAST(9, CAST(FLOOR((value - b.mn) * 10 / (b.mx - b.mn))
                           AS INTEGER)) AS bucket
      FROM g CROSS JOIN bounds b
    ),
    tot AS (
      SELECT SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS ta,
             SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS tb
      FROM bucketed
    ),
    per AS (
      SELECT bucket,
             SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS na,
             SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS nb
      FROM bucketed GROUP BY bucket
    )
    SELECT bucket,
           CAST(na AS BIGINT) AS n_a,
           CAST(nb AS BIGINT) AS n_b,
           ROUND((CAST(na + 1 AS DOUBLE) / (t.ta + 10)
                  - CAST(nb + 1 AS DOUBLE) / (t.tb + 10))
                 * CAST(CAST(LN((CAST(na + 1 AS DOUBLE) / (t.ta + 10))
                              / (CAST(nb + 1 AS DOUBLE) / (t.tb + 10)))
                        AS DECIMAL(18,6)) AS DOUBLE), 6)
             AS psi_term
    FROM per CROSS JOIN tot t ORDER BY bucket
    """,
    tags=("llm", "drift", "psi", "monitoring"),
)
def q199_psi_value_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population stability index between two md5-split cohorts of the
    event value stream — THE standard production drift metric (PSI >
    0.2 = investigate): 10 fixed-width buckets over the global range,
    Laplace-smoothed shares so empty buckets stay finite, per-bucket
    contribution reported (their sum is the PSI). Here the cohorts are
    a deterministic A/B split (so expected PSI ~ 0 — the null
    calibration); in production cohort = snapshot date. Two scans
    (bounds, then bucket counts), both map-side-combined; the LN output
    is quantized to DECIMAL(18,6) before the product (q166/q128
    doctrine) so a last-ulp libm difference cannot flip the 6-decimal
    round."""
    ev = load(spark, sf_dir, "events")
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col("event_id").cast("string"), F.lit(":psi"))), 1, 2
        ),
        16,
        10,
    ).cast("int")
    g = ev.select(
        "value", F.when(gate < 128, "a").otherwise("b").alias("cohort")
    )
    bounds = g.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    bucketed = g.crossJoin(F.broadcast(bounds)).select(
        "cohort",
        F.least(
            F.lit(9),
            F.floor(
                (F.col("value") - F.col("mn")) * 10 / (F.col("mx") - F.col("mn"))
            ).cast("int"),
        ).alias("bucket"),
    )
    tot = bucketed.agg(
        F.sum(F.when(F.col("cohort") == "a", 1).otherwise(0)).alias("ta"),
        F.sum(F.when(F.col("cohort") == "b", 1).otherwise(0)).alias("tb"),
    )
    per = bucketed.groupBy("bucket").agg(
        F.sum(F.when(F.col("cohort") == "a", 1).otherwise(0)).alias("na"),
        F.sum(F.when(F.col("cohort") == "b", 1).otherwise(0)).alias("nb"),
    )
    pa = (F.col("na") + 1).cast("double") / (F.col("ta") + 10)
    pb = (F.col("nb") + 1).cast("double") / (F.col("tb") + 10)
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("na").cast("bigint").alias("n_a"),
            F.col("nb").cast("bigint").alias("n_b"),
            F.round(
                (pa - pb)
                * F.log(pa / pb).cast("decimal(18,6)").cast("double"),
                6,
            ).alias("psi_term"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q200 — session entry-point conversion
# ---------------------------------------------------------------------------


@query(
    "q200_session_entry_conversion",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id, event_type,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id, event_type,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id, ts, event_id, event_type,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id,
             FIRST(event_type ORDER BY ts, event_id) AS entry_type,
             MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS converted
      FROM sessions GROUP BY user_id, session_id
    )
    SELECT entry_type,
           COUNT(*) AS n_sessions,
           CAST(SUM(converted) AS BIGINT) AS n_converted,
           ROUND(CAST(SUM(converted) AS DOUBLE) / COUNT(*), 6)
             AS conversion_rate
    FROM per_session GROUP BY entry_type ORDER BY entry_type
    """,
    tags=("streaming", "session", "funnel", "attribution"),
)
def q200_session_entry_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch attribution at session grain: which entry event type
    (the first event of each 30-minute-gap session) converts —
    sessions containing a purchase over sessions entered that way.
    This is the report that connects q82's sessionization to revenue
    decisions (which landing surface earns its traffic). The entry
    event comes from an order-complete MIN struct (no second window
    pass) and conversion is a MAX flag, so the whole report is q82's
    one user-shuffle plus a tiny aggregate."""
    e = load(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(
            F.lag("ts").over(w_order).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
                >= 1_800_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.sum("new_session")
        .over(w_order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.min(F.struct("ts", "event_id", "event_type"))["event_type"].alias(
            "entry_type"
        ),
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).alias("converted"),
    )
    return (
        per_session.groupBy("entry_type")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.sum("converted").alias("n_converted"),
            F.round(F.sum("converted").cast("double") / F.count(F.lit(1)), 6).alias(
                "conversion_rate"
            ),
        )
        .orderBy("entry_type")
    )


# ---------------------------------------------------------------------------
# q201 — duplicate-graph triangle census
# ---------------------------------------------------------------------------


@query(
    "q201_dup_graph_triangles",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
    deg AS (
      SELECT doc_id, COUNT(*) AS d FROM (
        SELECT a AS doc_id FROM e UNION ALL SELECT b FROM e
      ) GROUP BY doc_id
    ),
    tri AS (
      SELECT COUNT(*) AS n_triangles
      FROM e e1 JOIN e e2 ON e2.a = e1.b
      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    wed AS (SELECT SUM(d * (d - 1) / 2) AS n_wedges FROM deg)
    SELECT (SELECT COUNT(*) FROM e) AS n_edges,
           t.n_triangles,
           CAST(w.n_wedges AS BIGINT) AS n_wedges,
           ROUND(3.0 * t.n_triangles / NULLIF(w.n_wedges, 0), 6)
             AS global_clustering
    FROM tri t CROSS JOIN wed w
    """,
    tags=("llm", "dedup", "graph", "triangles"),
)
def q201_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the verified near-dup graph: edge count,
    triangle count (ordered a<b<c edge-join — each triangle counted
    once, never 6 times), wedge count from the degree sequence, and
    the global clustering coefficient. High clustering says duplicates
    come in tight families (one canonical survives per family — dedup
    is cheap); low clustering with high degree says chains, where
    greedy pair-dropping (q186) over-removes. Joins run on 8-byte ids
    only; at 100 TB the standard trick (orient edges low->high degree
    before the wedge join) bounds the worst key, same doctrine as the
    q68 bucket cap."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    e = pairs.select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    e1 = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    e2 = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    e3 = e.select(F.col("a").alias("x"), F.col("b").alias("z")).withColumn(
        "_c", F.lit(1)
    )
    tri = (
        e1.join(e2, "y")
        .join(e3, ["x", "z"], "inner")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )
    wed = deg.agg(F.sum(F.col("d") * (F.col("d") - 1) / 2).alias("n_wedges"))
    edges = e.agg(F.count(F.lit(1)).alias("n_edges"))
    return (
        edges.crossJoin(tri)
        .crossJoin(wed)
        .select(
            "n_edges",
            "n_triangles",
            F.col("n_wedges").cast("bigint").alias("n_wedges"),
            F.round(
                F.lit(3.0)
                * F.col("n_triangles")
                / F.nullif(F.col("n_wedges"), F.lit(0)),
                6,
            ).alias("global_clustering"),
        )
    )


# ---------------------------------------------------------------------------
# q202 — SCD2 point-in-time join
# ---------------------------------------------------------------------------


@query(
    "q202_scd2_point_in_time_join",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS snap_date,
             CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    snap AS (SELECT user_id, snap_date,
                    CAST(FLOOR(k / 25.0) AS INTEGER) AS tier
             FROM ev WHERE rn = 1),
    ver AS (
      SELECT user_id, snap_date, tier,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY snap_date) AS seq,
             LAG(tier) OVER (PARTITION BY user_id ORDER BY snap_date) AS prev_tier
      FROM snap
    ),
    hist AS (
      SELECT user_id, tier, snap_date AS effective_from,
             LEAD(snap_date) OVER (PARTITION BY user_id ORDER BY snap_date)
               AS effective_to
      FROM ver WHERE seq = 1 OR tier IS DISTINCT FROM prev_tier
    ),
    p AS (
      SELECT user_id, CAST(ts AS DATE) AS d, value
      FROM events WHERE event_type = 'purchase'
    ),
    joined AS (
      SELECT COALESCE(h.tier, -1) AS tier, p.value
      FROM p LEFT JOIN hist h
        ON h.user_id = p.user_id
       AND p.d >= h.effective_from
       AND (h.effective_to IS NULL OR p.d < h.effective_to)
    )
    SELECT tier,
           COUNT(*) AS n_purchases,
           CAST(ROUND(SUM(CAST(value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_value
    FROM joined GROUP BY tier ORDER BY tier
    """,
    tags=("scd", "temporal", "join", "point-in-time"),
)
def q202_scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (temporal) join — the consumer of q147's SCD2
    history: each purchase attributed to the dimension version that was
    VALID at purchase time (effective_from <= t < effective_to), never
    the current one — the join that makes training features
    leakage-free and restated reports reproducible. Purchases before a
    user's first version report tier -1. The validity predicate rides
    the user_id equi-join (one shuffle); the interval band is a
    join-side filter, q130's interval-join doctrine applied to
    dimension history."""
    e = load(spark, sf_dir, "events")
    w_last = W.partitionBy("user_id", "snap_date").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    snap = (
        e.select(
            "user_id",
            F.to_date("ts").alias("snap_date"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "snap_date",
            F.floor(F.col("k") / 25).cast("int").alias("tier"),
        )
    )
    w_ver = W.partitionBy("user_id").orderBy("snap_date")
    ver = snap.select(
        "user_id",
        "snap_date",
        "tier",
        F.row_number().over(w_ver).alias("seq"),
        F.lag("tier").over(w_ver).alias("prev_tier"),
    )
    hist = (
        ver.filter(
            (F.col("seq") == 1)
            | ~F.col("tier").eqNullSafe(F.col("prev_tier"))
        )
        .select(
            "user_id",
            "tier",
            F.col("snap_date").alias("effective_from"),
            F.lead("snap_date").over(w_ver).alias("effective_to"),
        )
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        "user_id", F.to_date("ts").alias("d"), "value"
    )
    joined = p.join(
        hist,
        (p.user_id == hist.user_id)
        & (F.col("d") >= F.col("effective_from"))
        & (F.col("effective_to").isNull() | (F.col("d") < F.col("effective_to"))),
        "left",
    ).select(F.coalesce(F.col("tier"), F.lit(-1)).alias("tier"), "value")
    return (
        joined.groupBy("tier")
        .agg(
            F.count(F.lit(1)).alias("n_purchases"),
            F.round(F.sum(F.col("value").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_value"),
        )
        .orderBy("tier")
    )


# ---------------------------------------------------------------------------
# q203 — deterministic weighted sample (Efraimidis–Spirakis)
# ---------------------------------------------------------------------------


@query(
    "q203_weighted_sample",
    oracle="""
    WITH u AS (
      SELECT doc_id, source, n_chars,
             (CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':wrs'), 1, 13)
                   AS BIGINT) + 1.0) / 4503599627370496.0 AS uni
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, source, n_chars,
             ROUND(LN(uni) / n_chars, 12) AS es_key
      FROM u
    ),
    ranked AS (
      SELECT doc_id, source, n_chars,
             ROW_NUMBER() OVER (ORDER BY es_key DESC, doc_id) AS sample_rank
      FROM keyed
    )
    SELECT sample_rank, doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
    FROM ranked WHERE sample_rank <= 20 ORDER BY sample_rank
    """,
    tags=("llm", "sampling", "weighted", "deterministic"),
)
def q203_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement via Efraimidis–Spirakis
    exponential keys, fully deterministic: uniform draws come from an
    md5 hash of the key (not an RNG), each doc gets key ln(u)/weight
    (weight = n_chars, the log form of u^(1/w)), and the top-20 keys
    ARE a correct weighted sample. Reruns, engines, and replicas draw
    the SAME sample (q162's property, now weight-aware) — how a corpus
    QA pass samples proportionally to byte mass. Keys are rounded to 12
    decimals before ranking so the libm-LN ulp cannot reorder ties
    (q165's doctrine); a TopK per partition then one 20-row merge is
    the whole plan."""
    docs = load(spark, sf_dir, "documents")
    uni = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))), 1, 13
            ),
            16,
            10,
        ).cast("bigint")
        + F.lit(1.0)
    ) / F.lit(4503599627370496.0)
    keyed = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.round(F.log(uni) / F.col("n_chars"), 12).alias("es_key"),
    )
    return (
        keyed.select(
            F.row_number()
            # global-window-ok: corpus-grain sample rank; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
            .over(W.orderBy(F.desc("es_key"), "doc_id"))
            .alias("sample_rank"),
            "doc_id",
            "source",
            F.col("n_chars").cast("bigint").alias("n_chars"),
        )
        .filter(F.col("sample_rank") <= 20)
        .orderBy("sample_rank")
    )
