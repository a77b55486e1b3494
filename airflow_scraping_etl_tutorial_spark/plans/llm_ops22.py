"""LLM-ops wave 23: the decision layer above the retrieval /
experimentation / acquisition machinery —

- q309 adds POSITIONS to the inverted index: phrase queries answered
  by positional adjacency self-join, cross-checked against the
  brute-force substring scan they replace at scale;
- q310 is the planning member of the A/B ring (q296 tests, q246
  audits the split, q300 permutes): the minimum per-arm sample size
  to detect a +10% relative lift, exact-integer closed form;
- q311 is budgeted data acquisition: greedy coverage-maximizing
  source selection (the lazy-submodular loop every "which corpora do
  we license next" decision runs), unrolled to 3 exact picks.

Output-hardening doctrine (as waves 6-22): counts are exact BIGINTs;
q310's z constants are micro-scaled integer literals folded through
DECIMAL(38,0) cross-multiplication (the q304 variance doctrine) with
an explicit integer ceiling — no sqrt, no float anywhere; q311's
greedy argmax ties break on source name in both engines.

Reference parity: the reference's stated end-goal is assembling
scraped tables into ML training sets (README.md:21,260); once that
corpus grows, phrase lookup, experiment sizing, and source budgeting
are the three questions its owner asks next.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import word_shingles
from ..operators.text import tokens
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q309 — positional phrase queries vs substring scan
# ---------------------------------------------------------------------------

_N_PHRASES = 3  # audit the top-k bigram phrases (deterministic tiebreak)


@query(
    "q309_phrase_query_positional",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS term,
             UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS p
      FROM documents
    ),
    big AS (
      SELECT a.term || ' ' || b.term AS phrase, a.doc_id,
             COUNT(*) AS n_adj
      FROM pos a JOIN pos b
        ON a.doc_id = b.doc_id AND b.p = a.p + 1
      GROUP BY 1, 2
    ),
    top_ AS (
      SELECT phrase, SUM(n_adj) AS total
      FROM big GROUP BY phrase
      ORDER BY total DESC, phrase LIMIT {_N_PHRASES}
    ),
    hits AS (
      SELECT t.phrase,
             COUNT(*) AS n_docs_phrase,
             SUM(b.n_adj) AS n_occurrences
      FROM top_ t JOIN big b ON b.phrase = t.phrase
      GROUP BY t.phrase
    ),
    sub AS (
      SELECT t.phrase, COUNT(*) AS n_docs_substring
      FROM top_ t JOIN documents d
        ON CONTAINS(' ' || d.text || ' ', ' ' || t.phrase || ' ')
      GROUP BY t.phrase
    )
    SELECT hits.phrase,
           CAST(hits.n_docs_phrase AS BIGINT) AS n_docs_phrase,
           CAST(sub.n_docs_substring AS BIGINT) AS n_docs_substring,
           CAST(hits.n_occurrences AS BIGINT) AS n_occurrences
    FROM hits JOIN sub ON sub.phrase = hits.phrase
    ORDER BY hits.phrase
    """,
    tags=("llm", "retrieval", "phrase", "positional-index"),
)
def q309_phrase_query_positional(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phrase queries off a POSITIONAL inverted index: for the
    corpus's top-3 bigram phrases, the documents and occurrence
    counts found by joining term positions (term at p, next term at
    p+1) — cross-checked in the same result against the brute-force
    padded-substring scan (' phrase ' in ' text '), which must agree
    doc-for-doc. q235's BM25 is bag-of-words and cannot see phrases;
    the positional join is the standard upgrade, and at 10^9 docs it
    answers from the index in candidate-bounded time while the
    substring scan (kept here as the oracle-of-record) rereads every
    byte of the corpus.

    Scale: the positional index shuffles on term once; the adjacency
    self-join is per (doc, position) — equi-join keys, no inequality
    explosion; the top-k phrase probe is a 3-row broadcast against
    the per-doc phrase counts. The substring leg exists for the
    cross-check and would be dropped in production."""
    docs = load(spark, sf_dir, "documents")
    pos = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("p0", "term")
    ).select("doc_id", "term", (F.col("p0") + 1).alias("p"))
    a, b = pos.alias("a"), pos.alias("b")
    big = (
        a.join(
            b,
            (F.col("a.doc_id") == F.col("b.doc_id"))
            & (F.col("b.p") == F.col("a.p") + 1),
        )
        .groupBy(
            F.concat_ws(" ", F.col("a.term"), F.col("b.term")).alias("phrase"),
            F.col("a.doc_id").alias("doc_id"),
        )
        .agg(F.count(F.lit(1)).alias("n_adj"))
        .persist()
    )
    top = (
        big.groupBy("phrase")
        .agg(F.sum("n_adj").alias("total"))
        .orderBy(F.desc("total"), "phrase")
        .limit(_N_PHRASES)
        .select("phrase")
    )
    hits = (
        big.join(F.broadcast(top), "phrase")
        .groupBy("phrase")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs_phrase"),
            F.sum("n_adj").cast("bigint").alias("n_occurrences"),
        )
    )
    sub = (
        docs.crossJoin(F.broadcast(top))
        .filter(
            F.concat(F.lit(" "), F.col("text"), F.lit(" ")).contains(
                F.concat(F.lit(" "), F.col("phrase"), F.lit(" "))
            )
        )
        .groupBy("phrase")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs_substring"))
    )
    out = (
        hits.join(sub, "phrase")
        .select("phrase", "n_docs_phrase", "n_docs_substring", "n_occurrences")
        .orderBy("phrase")
    )
    return out


# ---------------------------------------------------------------------------
# q310 — A/B power / sample-size planning (exact-integer closed form)
# ---------------------------------------------------------------------------

# z_{alpha/2} = 1.959964 (alpha = 0.05 two-sided), z_beta = 0.841621
# (power = 0.80), micro-scaled; their sum squared enters the numerator.
_Z_SUM_MICRO = 1959964 + 841621  # 2801585
_LIFT_PCT = 10  # minimum detectable effect: +10% relative


@query(
    "q310_ab_power_sample_size",
    oracle=f"""
    WITH u AS (
      SELECT COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS n_units
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
    ),
    conv AS (
      SELECT event_type,
             COUNT(DISTINCT (user_id, CAST(ts AS DATE))) AS n_conv
      FROM events WHERE ts IS NOT NULL AND user_id IS NOT NULL
      GROUP BY event_type
    ),
    base AS (
      SELECT event_type,
             CAST(n_conv * 1000000 // n_units AS BIGINT) AS p1_ppm
      FROM conv CROSS JOIN u
    ),
    eff AS (
      SELECT event_type, p1_ppm,
             p1_ppm * (100 + {_LIFT_PCT}) // 100 AS p2_ppm
      FROM base
      WHERE p1_ppm * (100 + {_LIFT_PCT}) // 100 > p1_ppm
        AND p1_ppm * (100 + {_LIFT_PCT}) // 100 < 1000000
    )
    SELECT event_type,
           p1_ppm,
           CAST(p2_ppm AS BIGINT) AS p2_ppm,
           CAST((CAST({_Z_SUM_MICRO} AS HUGEINT) * {_Z_SUM_MICRO}
                 * (p1_ppm * (1000000 - p1_ppm)
                    + p2_ppm * (1000000 - p2_ppm))
                 - 1)
                // (CAST(p2_ppm - p1_ppm AS HUGEINT)
                    * (p2_ppm - p1_ppm) * 1000000 * 1000000)
                + 1 AS BIGINT) AS required_n_per_arm
    FROM eff ORDER BY event_type
    """,
    tags=("audit", "abtest", "power", "planning"),
)
def q310_ab_power_sample_size(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment sizing from observed baselines: for each event
    type, the user-DAY conversion baseline p1 (the per-exposure unit
    an always-on product experiment actually randomizes), the
    +10%-relative target p2, and the minimum per-arm sample size to
    detect that lift at alpha=0.05 (two-sided) with 80% power — the
    closed form
    n = (z_a + z_b)^2 (p1 q1 + p2 q2) / (p2 - p1)^2 evaluated as ONE
    integer ceiling division: rates in ppm, the z-sum as a micro
    literal, products carried in 38-digit decimals (the q304
    doctrine), ceiling via (num - 1) div den + 1. No sqrt, no float:
    both engines produce the identical integer n. This is the
    planning member of the experimentation ring — q246 audits the
    split, q296/q300 test the outcome; this says how long to run
    before any of that is meaningful.

    Scale: one distinct (user, day) aggregate per event type plus a
    1-row total broadcast — the sizing table costs a single pass
    however large the stream."""
    ev = load(spark, sf_dir, "events").filter(
        F.col("ts").isNotNull() & F.col("user_id").isNotNull()
    )
    day = F.to_date("ts")
    u = ev.agg(
        F.count_distinct(F.col("user_id"), day).alias("n_units")
    )
    conv = ev.groupBy("event_type").agg(
        F.count_distinct(F.col("user_id"), day).alias("n_conv")
    )
    base = conv.crossJoin(F.broadcast(u)).select(
        "event_type",
        F.expr("CAST(n_conv * 1000000 div n_units AS BIGINT)").alias("p1_ppm"),
    )
    eff = base.withColumn(
        "p2_ppm", F.expr(f"p1_ppm * (100 + {_LIFT_PCT}) div 100")
    ).filter(
        (F.col("p2_ppm") > F.col("p1_ppm")) & (F.col("p2_ppm") < 1000000)
    )
    return eff.select(
        "event_type",
        "p1_ppm",
        F.col("p2_ppm").cast("bigint"),
        F.expr(
            f"CAST((CAST({_Z_SUM_MICRO} AS DECIMAL(38,0)) * {_Z_SUM_MICRO}"
            " * (p1_ppm * (1000000 - p1_ppm)"
            "    + p2_ppm * (1000000 - p2_ppm))"
            " - 1)"
            " div (CAST(p2_ppm - p1_ppm AS DECIMAL(38,0))"
            "      * (p2_ppm - p1_ppm) * 1000000 * 1000000)"
            " + 1 AS BIGINT)"
        ).alias("required_n_per_arm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q311 — greedy coverage-maximizing source selection (3 exact picks)
# ---------------------------------------------------------------------------

_PICK_K = 8  # shingle size for the coverage universe (q306/q307 family)


def _sql_pick_cte() -> str:
    """Greedy set-cover unrolled to 3 picks in plain SQL: each pick is
    the source with the largest count of shingles not covered by the
    union of earlier picks (ties on source name)."""
    return f"""
    sh AS (
      SELECT DISTINCT source, g FROM (
        SELECT source, UNNEST(LIST_TRANSFORM(
          RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' '))
                            - {_PICK_K - 1}, 0) + 1),
          i -> ARRAY_TO_STRING(
            STRING_SPLIT(text, ' ')[i:i+{_PICK_K - 1}], ' ')
        )) AS g
        FROM documents
      )
    ),
    c1 AS (
      SELECT source, COUNT(*) AS gain FROM sh GROUP BY source
      ORDER BY gain DESC, source LIMIT 1
    ),
    cov1 AS (SELECT DISTINCT g FROM sh WHERE source = (SELECT source FROM c1)),
    c2 AS (
      SELECT s.source, COUNT(*) AS gain
      FROM sh s LEFT JOIN cov1 ON cov1.g = s.g
      WHERE s.source <> (SELECT source FROM c1) AND cov1.g IS NULL
      GROUP BY s.source ORDER BY gain DESC, s.source LIMIT 1
    ),
    cov2 AS (
      SELECT g FROM cov1
      UNION
      SELECT DISTINCT g FROM sh WHERE source = (SELECT source FROM c2)
    ),
    c3 AS (
      SELECT s.source, COUNT(*) AS gain
      FROM sh s LEFT JOIN cov2 ON cov2.g = s.g
      WHERE s.source NOT IN (SELECT source FROM c1 UNION ALL
                             SELECT source FROM c2)
        AND cov2.g IS NULL
      GROUP BY s.source ORDER BY gain DESC, s.source LIMIT 1
    )
    """


@query(
    "q311_greedy_source_selection",
    oracle=f"""
    WITH {_sql_pick_cte()}
    SELECT CAST(rank AS INT) AS rank, source,
           CAST(gain AS BIGINT) AS marginal_shingles,
           CAST(SUM(gain) OVER (ORDER BY rank) AS BIGINT)
             AS cumulative_shingles
    FROM (
      SELECT 1 AS rank, source, gain FROM c1
      UNION ALL SELECT 2, source, gain FROM c2
      UNION ALL SELECT 3, source, gain FROM c3
    ) ORDER BY rank
    """,
    tags=("llm", "corpus", "selection", "submodular", "planning"),
)
def q311_greedy_source_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Budgeted data acquisition: pick 3 sources greedily, each round
    taking the source whose documents add the most NOT-yet-covered
    distinct 8-word shingles (ties on name) — the classic
    (1 - 1/e)-approximate maximization of a submodular coverage
    objective, i.e. the defensible answer to "we can afford three
    licensing deals; which?". q307 prices each source's EXCLUSIVE
    content in isolation; the greedy loop accounts for overlap
    BETWEEN picks, which is what makes the second and third choices
    non-obvious. Unrolled to exactly 3 rounds: every pick is a 1-row
    DataFrame (never a driver-side value), anti-joined against the
    accumulated covered-shingle set.

    Scale: one distinct on (shingle, source); each round is a
    left-anti join of that table against the covered set (shuffle on
    the 60-bit-sized shingle key) plus a per-source count — 3 bounded
    rounds, no iteration-to-convergence. The covered set after pick
    i is at most the full shingle universe; at 10^9 docs each round
    is one hash join, exactly the shape Spark schedules well."""
    docs = load(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source", F.explode(word_shingles(F.col("text"), _PICK_K)).alias("g")
        )
        .distinct()
        .persist()
    )

    def top1(candidates: DataFrame) -> DataFrame:
        return (
            candidates.groupBy("source")
            .agg(F.count(F.lit(1)).alias("gain"))
            .orderBy(F.desc("gain"), "source")
            .limit(1)
        )

    c1 = top1(sh)
    cov1 = sh.join(c1.select("source"), "source", "left_semi").select("g")
    c2 = top1(
        sh.join(c1.select("source"), "source", "left_anti").join(
            cov1, "g", "left_anti"
        )
    )
    picked12 = c1.select("source").union(c2.select("source"))
    cov2 = sh.join(picked12, "source", "left_semi").select("g").distinct()
    c3 = top1(
        sh.join(picked12, "source", "left_anti").join(cov2, "g", "left_anti")
    )
    ranked = (
        c1.select(F.lit(1).alias("rank"), "source", "gain")
        .union(c2.select(F.lit(2), "source", "gain"))
        .union(c3.select(F.lit(3), "source", "gain"))
    )
    # global-window-ok: 3-row greedy-pick frame
    wr = W.orderBy("rank").rowsBetween(W.unboundedPreceding, W.currentRow)
    out = ranked.select(
        F.col("rank").cast("int"),
        "source",
        F.col("gain").cast("bigint").alias("marginal_shingles"),
        F.sum("gain").over(wr).cast("bigint").alias("cumulative_shingles"),
    ).orderBy("rank")
    return out
