"""LLM-ops wave 10 (promoted into the driver contract in round 7): lexical
retrieval scoring, RAG chunk economics, asymmetric containment dedup,
corpus-level similarity and selection, change-data compaction, and
behavioral affinity — the sixth ring of curation machinery around
waves 1-9.

Output-hardening doctrine (as waves 6-9): BIGINT-cast integer
aggregates, single-division rounded ratios, truncating integer
division on nonnegative operands, string-cast double literals for
non-dyadic constants (the wave-9 Benford lesson: DuckDB parses bare
decimal literals as DECIMAL whose double re-cast is not guaranteed
correctly rounded), LN outputs quantized to DECIMAL(18,6) before any
further arithmetic (q128/q166 doctrine), and per-term decimal sums
wherever a double sum would be order-dependent (q85 doctrine).
q236/q239/q240/q241 are INTEGER-ONLY up to their final rounded ratio.

Reference parity: the reference pipeline ingests one document per day
and validates it before loading (dags/Final_app.py:79-87); these
entries generalize that ingest-then-audit posture to the decisions an
LLM data platform makes over the corpus the loads accumulate: what to
retrieve (q235), how to chunk it (q236), which docs merely contain
each other (q237), which feeds duplicate each other (q238), what to
keep under a token budget (q239), when a feed bursts (q240), what the
changelog compacts to (q241), what co-occurs (q242), whether quality
predicts duplication (q243), and how predictable each feed's text is
(q244).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.compare import det_round
from ..operators.dedup import shingle_hashes
from ..operators.text import tokens
from ..sources.tables import load
from ..streaming.events import daily_counts
from .llm_ops import _SQL_SHINGLES3, _sql_cosine, _sql_hex60, _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q235 — BM25 lexical retrieval
# ---------------------------------------------------------------------------

_BM25_TERMS = ("batch", "hash", "merge", "row", "scan")

# Shared CTE chain ending in `bm` = (doc_id, n_terms_hit, bm25) — the
# per-doc BM25 table q235 ranks and q245 fuses. Kept as one string so
# the lexical scorer cannot drift between its two consumers.
_SQL_BM25_CTES = f"""tk AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
    n AS (SELECT COUNT(*) AS n FROM documents),
    t AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
    tf AS (
      SELECT doc_id, tok, COUNT(*) AS tf FROM tk
      WHERE tok IN {_BM25_TERMS!r} GROUP BY doc_id, tok
    ),
    dfx AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY tok),
    scored AS (
      SELECT f.doc_id,
             CAST(CAST(LN(CAST('1' AS DOUBLE)
                          + ((CAST(n.n - d.dfc AS DOUBLE) + CAST('0.5' AS DOUBLE))
                             / (CAST(d.dfc AS DOUBLE) + CAST('0.5' AS DOUBLE))))
                       AS DECIMAL(18,6)) AS DOUBLE)
             * ((CAST(f.tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
                / (CAST(f.tf AS DOUBLE)
                   + CAST('1.2' AS DOUBLE)
                     * (CAST('0.25' AS DOUBLE)
                        + CAST('0.75' AS DOUBLE)
                          * ((CAST(l.dl AS DOUBLE) * CAST(n.n AS DOUBLE))
                             / CAST(t.t AS DOUBLE))))) AS s
      FROM tf f
      JOIN dl l ON l.doc_id = f.doc_id
      JOIN dfx d ON d.tok = f.tok
      CROSS JOIN n CROSS JOIN t
    ),
    bm AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms_hit,
             ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25
      FROM scored GROUP BY doc_id
    )"""


def _bm25_doc_scores(spark: SparkSession, sf_dir: str):
    """Spark twin of _SQL_BM25_CTES: (doc_id, n_terms_hit, bm25)
    unordered, plus the per-doc length frame (doc_id, dl) for callers
    that need it.

    r14 (guide §2.3 shuffle fewer bytes / §1.2): the previous shape
    exploded EVERY token of the corpus into a persisted (doc_id, tok)
    frame just to (a) count per-doc lengths and (b) filter five query
    terms. The length is size(tokens(text)) — pure map work, no
    explode, no shuffle (split never yields an empty array, so the
    count over exploded rows equals the array size; the isNotNull
    guard reproduces explode's drop of NULL-text rows) — and the term
    filter runs INSIDE the array before the explode, so only matching
    tokens become rows. The corpus-wide explode, its persist, and the
    1M-row groupBy are gone; at 100 TB the corpus now contributes one
    map pass + the tiny posting list instead of a full token
    explosion.

    r15 (guide §2.4 / r14 VERDICT item 3): the r14 shape still
    tokenized the corpus once per DAG branch — dl fed both the tf
    join and the t aggregate, tf fed both dfx and j, and n was its
    own scan: 5 corpus scans / 4 tokenize passes per action. Now
    (a) ONE scalar pass computes n, t AND the five per-term document
    frequencies together (dfc_k = count of docs whose token array
    contains term k — exactly the old dfx since tf had one row per
    (doc, matched term)), shipped to the posting side as a single
    broadcast row carrying a term->dfc map; (b) the posting pass
    carries dl THROUGH the explode (size(_tk) rides the Generate
    input, MAX-recovered per (doc_id, tok) group — constant within
    the group), so the dl equi-join is gone. Two corpus passes / two
    tokenizes per action, no corpus-sized join anywhere; every
    arithmetic expression is unchanged, so the scores are
    bit-identical (strict-verified at 3 SFs)."""
    docs = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    dl = (
        docs.filter(F.col("text").isNotNull())
        .select("doc_id", F.size(toks).cast("bigint").alias("dl"))
    )
    # scalar pass: two-step projection so the token array is computed
    # once per row (CollapseProject keeps expensive multiply-referenced
    # expressions materialized — the shingle_words doctrine)
    scal = (
        docs.select(toks.alias("_tk"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.when(F.col("_tk").isNotNull(), F.size("_tk")).cast("bigint")
            ).cast("bigint").alias("t"),
            *[
                F.count(F.when(F.array_contains("_tk", term), 1)).alias(f"_df{i}")
                for i, term in enumerate(_BM25_TERMS)
            ],
        )
        .select(
            "n",
            "t",
            F.map_from_arrays(
                F.array(*[F.lit(term) for term in _BM25_TERMS]),
                F.array(*[F.col(f"_df{i}") for i in range(len(_BM25_TERMS))]),
            ).alias("_dfm"),
        )
    )
    tf = (
        docs.select("doc_id", toks.alias("_tk"))
        .select(
            "doc_id",
            F.size("_tk").cast("bigint").alias("dl"),
            F.explode(
                F.filter(F.col("_tk"), lambda tk: tk.isin(*_BM25_TERMS))
            ).alias("tok"),
        )
        .groupBy("doc_id", "tok")
        .agg(F.count(F.lit(1)).alias("tf"), F.max("dl").alias("dl"))
    )
    j = tf.crossJoin(F.broadcast(scal)).withColumn(
        "dfc", F.element_at(F.col("_dfm"), F.col("tok"))
    )
    idf = (
        F.log(
            F.lit(1.0)
            + (
                ((F.col("n") - F.col("dfc")).cast("double") + F.lit(0.5))
                / (F.col("dfc").cast("double") + F.lit(0.5))
            )
        )
        .cast("decimal(18,6)")
        .cast("double")
    )
    tf_part = (F.col("tf").cast("double") * F.lit(2.2)) / (
        F.col("tf").cast("double")
        + F.lit(1.2)
        * (
            F.lit(0.25)
            + F.lit(0.75)
            * (
                (F.col("dl").cast("double") * F.col("n").cast("double"))
                / F.col("t").cast("double")
            )
        )
    )
    bm = (
        j.select("doc_id", (idf * tf_part).alias("s"))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_terms_hit"),
            F.round(F.sum(F.col("s").cast("decimal(18,6)")).cast("double"), 6).alias(
                "bm25"
            ),
        )
    )
    return bm, dl


@query(
    "q235_bm25_retrieval",
    oracle=f"""
    WITH {_SQL_BM25_CTES}
    SELECT doc_id, n_terms_hit, bm25
    FROM bm ORDER BY bm25 DESC, doc_id LIMIT 20
    """,
    tags=("llm", "retrieval", "bm25", "ranking"),
)
def q235_bm25_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 (Okapi, Lucene idf form) top-20 retrieval for a fixed
    query-term set — the lexical half of a RAG retrieval stack (the
    dense half is q71-q76). k1=1.2, b=0.75; idf = LN(1+(N-df+.5)/
    (df+.5)) is always positive, so stop-ish terms rank low instead
    of negative.

    Cross-engine determinism: df/dl/N/T are integers; every double
    expression is built with an identical association on both engines
    (IEEE ops are deterministic given identical operands), the one
    libm call (LN) is quantized to DECIMAL(18,6) before use, and the
    per-doc score is a DECIMAL sum of DECIMAL(18,6)-quantized term
    scores, so accumulation order cannot move the hash (q85/q128
    doctrine). Non-dyadic constants enter as string-cast literals
    (wave-9 Benford lesson).

    Scale: the posting-list join keys on (doc_id, term) with the
    query's 5 terms pre-filtered at the scan, so only matching
    postings shuffle; df (5 rows) and the N/T scalars broadcast;
    TakeOrderedAndProject caps the result. At 100 TB the dl table is
    the only corpus-sized side and it carries two longs per doc."""
    bm, _dl = _bm25_doc_scores(spark, sf_dir)
    return bm.orderBy(F.desc("bm25"), "doc_id").limit(20)


# ---------------------------------------------------------------------------
# q236 — RAG chunking economics
# ---------------------------------------------------------------------------

# chunk_size=32 tokens, stride=24 (8-token overlap). For n > 32 the
# chunk count is 1 + ceil((n-32)/24) = 1 + (n-9) div 24, the emitted
# token count (overlap double-counted) is n + 8*(nc-1), and the final
# chunk's padding is 24*nc + 8 - n — closed forms verified against an
# explicit enumeration in tests/test_staged_wave10.py.


@query(
    "q236_rag_chunk_audit",
    oracle="""
    WITH tk AS (
      SELECT source, LEN(STRING_SPLIT(text, ' ')) AS n FROM documents
    ),
    ch AS (
      SELECT source, n,
             CASE WHEN n <= 32 THEN 1 ELSE 1 + (n - 9) // 24 END AS nc
      FROM tk
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n) AS BIGINT) AS n_tokens,
           CAST(SUM(nc) AS BIGINT) AS n_chunks,
           CAST(SUM(8 * (nc - 1)) AS BIGINT) AS overlap_tokens,
           CAST(SUM(24 * nc + 8 - n) AS BIGINT) AS pad_tokens,
           (CAST(FLOOR((CAST(SUM(n) AS DOUBLE) / CAST(32 * SUM(nc) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS utilization
    FROM ch GROUP BY source ORDER BY source
    """,
    tags=("llm", "rag", "chunking", "capacity"),
)
def q236_rag_chunk_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAG chunking economics per source: how many 32-token chunks a
    24-token stride produces, how many tokens the 8-token overlap
    re-embeds, and how much of the final chunk is padding — the
    embedding-cost model evaluated BEFORE paying for the embeddings
    (q79 is the chunker itself; this is its bill). Everything is a
    closed-form integer expression on the token count — no explode —
    so the plan is one scan + one tiny aggregate, and the single
    utilization ratio divides once at the end. Integer division uses
    `div` on nonnegative operands (identical truncation on both
    engines)."""
    docs = load(spark, sf_dir, "documents")
    ch = docs.select(
        "source",
        F.size(tokens(F.col("text"))).cast("bigint").alias("n"),
    ).select(
        "source",
        "n",
        F.when(F.col("n") <= 32, F.lit(1).cast("bigint"))
        .otherwise(F.lit(1) + F.expr("(n - 9) div 24"))
        .alias("nc"),
    )
    return (
        ch.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n").alias("n_tokens"),
            F.sum("nc").alias("n_chunks"),
            F.sum(F.lit(8) * (F.col("nc") - 1)).alias("overlap_tokens"),
            F.sum(F.lit(24) * F.col("nc") + 8 - F.col("n")).alias("pad_tokens"),
            det_round(
                F.sum("n").cast("double")
                / (F.lit(32) * F.sum("nc")).cast("double"),
                6,
            ).alias("utilization"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q237 — asymmetric containment dedup
# ---------------------------------------------------------------------------

_CONT_T = 0.7  # containment threshold
_CONT_MAX_DF = 100  # hot-shingle cap for the candidate index


@query(
    "q237_shingle_containment",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    ex AS (
      SELECT doc_id, {_sql_hex60("MD5(s)", 1)} AS h
      FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh) u
    ),
    cold AS (
      SELECT h FROM (SELECT h, COUNT(*) AS c FROM ex GROUP BY h) g
      WHERE c <= {_CONT_MAX_DF}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM ex a
      JOIN cold t ON t.h = a.h
      JOIN ex b ON b.h = a.h AND a.doc_id < b.doc_id
    ),
    sets AS (SELECT doc_id, LIST(h) AS lst, COUNT(*) AS n FROM ex GROUP BY doc_id)
    SELECT c.doc_id_a, c.doc_id_b,
           CAST(LEN(LIST_INTERSECT(sa.lst, sb.lst)) AS BIGINT) AS n_common,
           (CAST(FLOOR((CAST(LEN(LIST_INTERSECT(sa.lst, sb.lst)) AS DOUBLE)
                 / LEAST(sa.n, sb.n)) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS containment,
           (CAST(FLOOR((CAST(LEN(LIST_INTERSECT(sa.lst, sb.lst)) AS DOUBLE)
                 / (sa.n + sb.n - LEN(LIST_INTERSECT(sa.lst, sb.lst)))) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE))
             AS jaccard
    FROM cand c
    JOIN sets sa ON sa.doc_id = c.doc_id_a
    JOIN sets sb ON sb.doc_id = c.doc_id_b
    WHERE ROUND(CAST(LEN(LIST_INTERSECT(sa.lst, sb.lst)) AS DOUBLE)
                / LEAST(sa.n, sb.n), 6) >= {_CONT_T}
    ORDER BY doc_id_a, doc_id_b
    """,
    tags=("llm", "dedup", "containment", "asymmetric"),
)
def q237_shingle_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment dedup: C(A,B) = |A∩B| / min(|A|,|B|)
    over 3-word shingle fingerprints. Jaccard (q68/q70) misses the
    quote-and-extend case — a short doc fully embedded in a longer one
    scores low Jaccard but containment ~1 — and containment is the
    right gate for boilerplate-wrapper and excerpt dedup. Jaccard is
    emitted alongside so the gap between the two IS the asymmetry
    signal.

    Scale: candidates come from an inverted shingle-hash index with a
    document-frequency cap (df <= 100) so hot boilerplate shingles
    never fan out (the q70 `max_shingle_df` economics — a pair sharing
    ONLY hot shingles is missed, documented trade); verification
    intersects 60-bit hash sets, never text, and only candidate pairs
    reach it. Only 8-byte hashes + ids shuffle."""
    docs = load(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(shingle_hashes(F.col("text"), 3)).alias("h")
    ).persist()
    cold = (
        ex.groupBy("h")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _CONT_MAX_DF)
        .select("h")
    )
    idx = ex.join(cold, "h")
    a = idx.select(F.col("doc_id").alias("doc_id_a"), "h")
    b = ex.select(F.col("doc_id").alias("doc_id_b"), "h")
    cand = (
        a.join(b, "h")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    sets = ex.groupBy("doc_id").agg(
        F.collect_set("h").alias("lst"), F.count(F.lit(1)).alias("n")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("lst").alias("la"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lst").alias("lb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("la", "lb"))
    containment = det_round(inter.cast("double") / F.least("na", "nb"), 6)
    jacc = det_round(inter.cast("double") / (F.col("na") + F.col("nb") - inter), 6)
    out = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            inter.cast("bigint").alias("n_common"),
            containment.alias("containment"),
            jacc.alias("jaccard"),
        )
        .filter(F.col("containment") >= _CONT_T)
        .orderBy("doc_id_a", "doc_id_b")
    )
    return out


# ---------------------------------------------------------------------------
# q238 — source-pair term-frequency cosine
# ---------------------------------------------------------------------------


@query(
    "q238_source_term_cosine",
    oracle="""
    WITH tk AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    tf AS (SELECT source, tok, COUNT(*) AS c FROM tk GROUP BY source, tok),
    nrm AS (SELECT source, CAST(SUM(c * c) AS BIGINT) AS n2 FROM tf GROUP BY source),
    dt AS (
      SELECT a.source AS source_a, b.source AS source_b,
             CAST(SUM(a.c * b.c) AS BIGINT) AS dp
      FROM tf a JOIN tf b ON a.tok = b.tok AND a.source < b.source
      GROUP BY a.source, b.source
    )
    SELECT d.source_a, d.source_b, d.dp AS dot_product,
           (CAST(FLOOR((CAST(d.dp AS DOUBLE)
                 / SQRT(CAST(na.n2 AS DOUBLE) * CAST(nb.n2 AS DOUBLE))) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE))
             AS cosine
    FROM dt d
    JOIN nrm na ON na.source = d.source_a
    JOIN nrm nb ON nb.source = d.source_b
    ORDER BY source_a, source_b
    """,
    tags=("llm", "similarity", "sources", "cosine"),
)
def q238_source_term_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-level lexical similarity: cosine between per-source term-
    frequency vectors, all pairs — the dedup-BETWEEN-FEEDS signal
    (two sources with cosine -> 1 are mirroring each other and one
    can be dropped from the crawl schedule; q161 counts leaked docs,
    this measures distributional overlap even when no doc is shared).

    Numerics: dot products and squared norms are exact integer sums
    (CAST BIGINT — the HUGEINT lesson); the only floating ops are one
    IEEE-exact multiply, one IEEE-correctly-rounded SQRT, and one
    division — deterministic on both engines with identical operands,
    no libm transcendentals involved.

    Scale: the corpus collapses to a (source x term) table at the
    first aggregate — vocabulary-sized, not corpus-sized — and the
    pair join keys on term with source-count cardinality; with S
    sources the output is S(S-1)/2 rows. At 100 TB the tf table for
    curated feeds is millions of rows, trivially joinable."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    nrm = tf.groupBy("source").agg(
        F.sum(F.col("c") * F.col("c")).cast("bigint").alias("n2")
    )
    a = tf.select(F.col("source").alias("source_a"), "tok", F.col("c").alias("ca"))
    b = tf.select(F.col("source").alias("source_b"), "tok", F.col("c").alias("cb"))
    dt = (
        a.join(b, "tok")
        .filter(F.col("source_a") < F.col("source_b"))
        .groupBy("source_a", "source_b")
        .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("dp"))
    )
    na = nrm.select(F.col("source").alias("source_a"), F.col("n2").alias("n2a"))
    nb = nrm.select(F.col("source").alias("source_b"), F.col("n2").alias("n2b"))
    out = (
        dt.join(F.broadcast(na), "source_a")
        .join(F.broadcast(nb), "source_b")
        .select(
            "source_a",
            "source_b",
            F.col("dp").alias("dot_product"),
            det_round(
                F.col("dp").cast("double")
                / F.sqrt(F.col("n2a").cast("double") * F.col("n2b").cast("double")),
                6,
            ).alias("cosine"),
        )
        .orderBy("source_a", "source_b")
    )
    return out


# ---------------------------------------------------------------------------
# q239 — token-budget curation (greedy quality packing)
# ---------------------------------------------------------------------------


@query(
    "q239_quality_budget_packing",
    oracle="""
    WITH tk AS (
      SELECT doc_id, source, LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS d
      FROM documents
    ),
    q AS (SELECT doc_id, source, n, (1000000 * d) // n AS qk FROM tk),
    c AS (
      SELECT doc_id, source, n,
             SUM(n) OVER (ORDER BY qk DESC, doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM q
    ),
    t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM tk)
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN 2 * cum <= t.t THEN 1 ELSE 0 END) AS BIGINT)
             AS n_selected,
           CAST(SUM(CASE WHEN 2 * cum <= t.t THEN n ELSE 0 END) AS BIGINT)
             AS sel_tokens,
           (CAST(FLOOR((CAST(SUM(CASE WHEN 2 * cum <= t.t THEN n ELSE 0 END)
                       AS DOUBLE) / CAST(SUM(n) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS token_share
    FROM c CROSS JOIN t
    GROUP BY source ORDER BY source
    """,
    tags=("llm", "curation", "budget", "selection"),
)
def q239_quality_budget_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget curation: rank every document by a lexical-
    diversity quality key (scaled distinct-token ratio, an integer),
    admit documents best-first until half the corpus's tokens are
    spent, and report per source how much survived — the
    "which feeds does the budget actually buy" audit behind every
    data-mixture decision (q102 weights a GIVEN mixture; this derives
    one from quality under a budget). The quality key and the
    admission test are pure integer arithmetic; the one ratio divides
    once at the end.

    Scale note: the cumulative sum is a single global-order window
    (fine at audit time — two longs per doc); at 100 TB the same
    selection runs as the two-pass distributed prefix sum (per-
    partition subtotals broadcast back, the q189 posture) or as a
    quality-threshold binary search, both shuffle-light. Admission
    uses 2*cum <= T rather than a precomputed half so the budget stays
    exact under integer division."""
    docs = load(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    tk = docs.select(
        "doc_id",
        "source",
        F.size(words).cast("bigint").alias("n"),
        F.size(F.array_distinct(words)).cast("bigint").alias("d"),
    )
    q = tk.select(
        "doc_id", "source", "n", F.expr("(1000000 * d) div n").alias("qk")
    )
    # global-window-ok: corpus-grain quality cumsum; 100 TB form = two-pass distributed prefix sum (SCALE.md q239)
    w = W.orderBy(F.desc("qk"), "doc_id").rowsBetween(
        W.unboundedPreceding, W.currentRow
    )
    c = q.select("doc_id", "source", "n", F.sum("n").over(w).alias("cum"))
    t = tk.agg(F.sum("n").cast("bigint").alias("t"))
    sel = F.when(F.lit(2) * F.col("cum") <= F.col("t"), F.lit(1)).otherwise(0)
    return (
        c.crossJoin(F.broadcast(t))
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(sel).cast("bigint").alias("n_selected"),
            F.sum(sel * F.col("n")).cast("bigint").alias("sel_tokens"),
            det_round(
                F.sum(sel * F.col("n")).cast("double") / F.sum("n").cast("double"),
                6,
            ).alias("token_share"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q240 — dyadic-decay burst detection
# ---------------------------------------------------------------------------


def dyadic_burst_frame(d: DataFrame) -> DataFrame:
    """The q240 detector over any (event_type, day, cnt) frame: q240
    runs it over streaming/events.py::daily_counts of the batch events,
    and a stream runs it over the same operator's drained state
    (test-asserted equal to q240's rows)."""
    w = W.partitionBy("event_type").orderBy("day")
    decay = (
        F.lit(64) * F.lag("cnt", 1, 0).over(w)
        + F.lit(32) * F.lag("cnt", 2, 0).over(w)
        + F.lit(16) * F.lag("cnt", 3, 0).over(w)
        + F.lit(8) * F.lag("cnt", 4, 0).over(w)
        + F.lit(4) * F.lag("cnt", 5, 0).over(w)
        + F.lit(2) * F.lag("cnt", 6, 0).over(w)
        + F.lag("cnt", 7, 0).over(w)
    )
    l = d.select("event_type", "day", "cnt", decay.alias("decay_num"))
    return l.select(
        "event_type",
        "day",
        F.col("cnt").cast("bigint").alias("n_events"),
        F.col("decay_num").cast("bigint").alias("decay_num"),
        F.when(
            F.col("decay_num") > 0,
            det_round(
                (F.lit(127) * F.col("cnt")).cast("double")
                / F.col("decay_num").cast("double"),
                6,
            ),
        ).alias("burst_ratio"),
        F.when(
            (F.lit(127) * F.col("cnt") > F.lit(2) * F.col("decay_num"))
            & (F.col("decay_num") > 0),
            1,
        )
        .otherwise(0)
        .alias("is_burst"),
    ).orderBy("event_type", "day")



@query(
    "q240_ewma_burst_detection",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    l AS (
      SELECT event_type, day, cnt,
             64 * LAG(cnt, 1, 0) OVER w + 32 * LAG(cnt, 2, 0) OVER w
           + 16 * LAG(cnt, 3, 0) OVER w + 8 * LAG(cnt, 4, 0) OVER w
           + 4 * LAG(cnt, 5, 0) OVER w + 2 * LAG(cnt, 6, 0) OVER w
           + LAG(cnt, 7, 0) OVER w AS decay_num
      FROM d
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, day, CAST(cnt AS BIGINT) AS n_events,
           CAST(decay_num AS BIGINT) AS decay_num,
           CASE WHEN decay_num > 0
                THEN (CAST(FLOOR((CAST(127 * cnt AS DOUBLE)
                           / CAST(decay_num AS DOUBLE)) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE))
                END AS burst_ratio,
           CASE WHEN 127 * cnt > 2 * decay_num AND decay_num > 0
                THEN 1 ELSE 0 END AS is_burst
    FROM l ORDER BY event_type, day
    """,
    tags=("streaming", "events", "anomaly", "ewma"),
)
def q240_ewma_burst_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burst detection against an exponentially-decaying baseline:
    each (event_type, day) volume is compared to a dyadic-weight EWMA
    of the prior seven observed days (weights 64..1, total 127 — a
    halving decay truncated at 7 taps). A day is a burst when its
    count exceeds twice the decayed baseline mean: 127*cnt >
    2*decay_num, an INTEGER comparison — the whole detector is
    integer arithmetic except the one reported ratio, so there is no
    smoothing-constant float to diverge cross-engine (the reason this
    uses dyadic weights rather than a 0.3-alpha EWMA).

    Scale: daily pre-aggregation shrinks events to (types x days)
    rows before the per-type LAG window — the window never sees raw
    events. Decay over OBSERVED days: a gap simply ages the baseline
    by rank, which is the desired behavior for sparse feeds."""
    return dyadic_burst_frame(daily_counts(load(spark, sf_dir, "events")))


# ---------------------------------------------------------------------------
# q241 — changelog compaction audit (last-write-wins)
# ---------------------------------------------------------------------------


@query(
    "q241_cdc_compaction_audit",
    oracle="""
    WITH v AS (
      SELECT event_type,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY event_id DESC) AS rn
      FROM events
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS total_rows,
           CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS live_rows,
           CAST(COUNT(*) - SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS superseded_rows,
           (CAST(FLOOR((CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS live_share
    FROM v GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "cdc", "compaction", "upsert"),
)
def q241_cdc_compaction_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-write-wins changelog compaction: treating events as an
    upsert stream keyed by user_id and versioned by event_id, how many
    rows survive compaction (one live row per key) and how many are
    superseded history, grouped by the event type of each row — the
    storage-planning number behind any Hudi/Delta-style merge-on-read
    table (q202's SCD2 keeps ALL versions with validity intervals;
    this is the compact-to-latest complement, and its live/superseded
    ratio decides which of the two layouts a 100 TB table should
    use). One key-partitioned window (the shuffle the compaction
    itself would need anyway) and one aggregate; event_id gives a
    total version order so no timestamp tie can flip the winner."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy(F.desc("event_id"))
    v = ev.select("event_type", F.row_number().over(w).alias("rn"))
    live = F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
    return (
        v.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("total_rows"),
            live.cast("bigint").alias("live_rows"),
            (F.count(F.lit(1)) - live).cast("bigint").alias("superseded_rows"),
            det_round(
                live.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("live_share"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q242 — behavioral item-affinity (co-occurrence Jaccard)
# ---------------------------------------------------------------------------

_AFF_MAX_ITEMS = 64  # hot-user cap for the pair join


@query(
    "q242_item_cooccurrence_affinity",
    oracle=f"""
    WITH ui AS (
      SELECT DISTINCT user_id,
             CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS item
      FROM events
    ),
    cap AS (
      SELECT user_id FROM (
        SELECT user_id, COUNT(*) AS c FROM ui GROUP BY user_id
      ) g WHERE c <= {_AFF_MAX_ITEMS}
    ),
    u2 AS (SELECT ui.user_id, ui.item FROM ui JOIN cap ON cap.user_id = ui.user_id),
    sz AS (SELECT item, COUNT(*) AS n FROM u2 GROUP BY item),
    pr AS (
      SELECT a.item AS item_a, b.item AS item_b, COUNT(*) AS common
      FROM u2 a JOIN u2 b ON a.user_id = b.user_id AND a.item < b.item
      GROUP BY a.item, b.item
    )
    SELECT p.item_a, p.item_b, CAST(p.common AS BIGINT) AS n_common,
           (CAST(FLOOR((CAST(p.common AS DOUBLE) / (sa.n + sb.n - p.common)) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE))
             AS jaccard
    FROM pr p
    JOIN sz sa ON sa.item = p.item_a
    JOIN sz sb ON sb.item = p.item_b
    ORDER BY jaccard DESC, item_a, item_b LIMIT 20
    """,
    tags=("streaming", "events", "affinity", "recommendation"),
)
def q242_item_cooccurrence_affinity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item affinity from behavior: Jaccard similarity of user
    sets between payload items (props.k), top-20 — the co-occurrence
    kernel of an item-based recommender and the same
    similarity-of-sets machinery the dedup family applies to shingles
    (q164 counts brand pairs per order; this normalizes by reach so
    ubiquitous items don't dominate).

    Scale: the quadratic term is per-user item-pairs, so a single hot
    user (a bot touching everything) dominates cost — the cap drops
    users with more than 64 distinct items from BOTH the pair join
    and the reach denominators (consistent economics, same role as
    q68's max_bucket_size). Distinct (user, item) collapses first;
    only ids shuffle; TakeOrderedAndProject caps output."""
    ev = load(spark, sf_dir, "events")
    ui = (
        ev.select(
            "user_id",
            F.get_json_object("props", "$.k").cast("int").alias("item"),
        )
        .distinct()
        .persist()
    )
    cap = (
        ui.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("c"))
        .filter(F.col("c") <= _AFF_MAX_ITEMS)
        .select("user_id")
    )
    u2 = ui.join(cap, "user_id").persist()
    sz = u2.groupBy("item").agg(F.count(F.lit(1)).alias("n"))
    a = u2.select("user_id", F.col("item").alias("item_a"))
    b = u2.select("user_id", F.col("item").alias("item_b"))
    pr = (
        a.join(b, "user_id")
        .filter(F.col("item_a") < F.col("item_b"))
        .groupBy("item_a", "item_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sz.select(F.col("item").alias("item_a"), F.col("n").alias("na"))
    sb = sz.select(F.col("item").alias("item_b"), F.col("n").alias("nb"))
    out = (
        pr.join(F.broadcast(sa), "item_a")
        .join(F.broadcast(sb), "item_b")
        .select(
            "item_a",
            "item_b",
            F.col("common").cast("bigint").alias("n_common"),
            det_round(
                F.col("common").cast("double")
                / (F.col("na") + F.col("nb") - F.col("common")),
                6,
            ).alias("jaccard"),
        )
        .orderBy(F.desc("jaccard"), "item_a", "item_b")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q243 — quality-decile vs duplication lift
# ---------------------------------------------------------------------------


@query(
    "q243_quality_vs_dup_lift",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    dup AS (
      SELECT DISTINCT doc_id FROM (
        SELECT doc_id_a AS doc_id FROM pairs
        UNION ALL SELECT doc_id_b AS doc_id FROM pairs
      ) u
    ),
    tk AS (
      SELECT doc_id, LEN(STRING_SPLIT(text, ' ')) AS n,
             LEN(LIST_DISTINCT(STRING_SPLIT(text, ' '))) AS d
      FROM documents
    ),
    q AS (
      SELECT doc_id,
             CAST(NTILE(10) OVER (ORDER BY (1000000 * d) // n DESC, doc_id)
                  AS INTEGER) AS decile
      FROM tk
    )
    SELECT decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dup,
           (CAST(FLOOR((CAST(SUM(CASE WHEN dup.doc_id IS NOT NULL
                                  THEN 1 ELSE 0 END) AS DOUBLE)
                       / CAST(COUNT(*) AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS dup_rate
    FROM q LEFT JOIN dup ON dup.doc_id = q.doc_id
    GROUP BY decile ORDER BY decile
    """,
    tags=("llm", "dedup", "quality", "calibration"),
)
def q243_quality_vs_dup_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Does quality predict duplication? Documents are ranked into
    deciles by the q239 lexical-diversity key and each decile's
    verified near-duplicate membership rate (q68 pipeline) is
    reported — the calibration curve that justifies (or kills)
    "filter by quality before paying for dedup" cheap-first ladders
    (q182): if low-quality deciles carry most duplicates, the ladder
    reorders. Decile assignment is an integer-key NTILE with doc_id
    tiebreak (cross-engine deterministic, q176 doctrine); membership
    is a LEFT JOIN against the distinct doc ids of the verified pair
    set — ids only, both sides corpus-shrunk before the join."""
    from ..operators.dedup import minhash_near_duplicates

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    dup = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .distinct()
        .select("doc_id", F.lit(1).alias("is_dup"))
    )
    words = tokens(F.col("text"))
    tk = docs.select(
        "doc_id",
        F.size(words).cast("bigint").alias("n"),
        F.size(F.array_distinct(words)).cast("bigint").alias("d"),
    )
    q = tk.select(
        "doc_id",
        F.ntile(10)
        # global-window-ok: corpus-grain decile ntile; 100 TB form = repartitionByRange + per-partition offsets (SCALE.md)
        .over(W.orderBy(F.desc(F.expr("(1000000 * d) div n")), "doc_id"))
        .cast("int")
        .alias("decile"),
    )
    flag = F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
    return (
        q.join(dup, "doc_id", "left")
        .groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            flag.cast("bigint").alias("n_dup"),
            det_round(
                flag.cast("double") / F.count(F.lit(1)).cast("double"), 6
            ).alias("dup_rate"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q244 — bigram conditional entropy rate per source
# ---------------------------------------------------------------------------


@query(
    "q244_bigram_entropy_rate",
    oracle="""
    WITH w AS (SELECT source, STRING_SPLIT(text, ' ') AS words FROM documents),
    bi AS (
      SELECT source, w1, w2, COUNT(*) AS c FROM (
        SELECT source, words[i] AS w1, words[i + 1] AS w2
        FROM w, UNNEST(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1)) AS r(i)
      ) x GROUP BY source, w1, w2
    ),
    pre AS (
      SELECT source, w1, CAST(SUM(c) AS BIGINT) AS c1
      FROM bi GROUP BY source, w1
    ),
    t AS (SELECT source, CAST(SUM(c) AS BIGINT) AS tt FROM bi GROUP BY source),
    terms AS (
      SELECT b.source, b.c,
             CAST(b.c * CAST(LN(CAST(b.c AS DOUBLE) / CAST(p.c1 AS DOUBLE))
                             AS DECIMAL(18,6)) AS DECIMAL(28,6)) AS term
      FROM bi b JOIN pre p ON p.source = b.source AND p.w1 = b.w1
    )
    SELECT tm.source,
           t.tt AS n_bigrams,
           CAST(COUNT(*) AS BIGINT) AS distinct_bigrams,
           (CAST(FLOOR((-(CAST(SUM(tm.term) AS DOUBLE)) / CAST(t.tt AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS entropy_rate
    FROM terms tm JOIN t ON t.source = tm.source
    GROUP BY tm.source, t.tt ORDER BY tm.source
    """,
    tags=("llm", "text", "entropy", "language-model"),
)
def q244_bigram_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy rate H(w2|w1) per source — the
    predictability of each feed's text under a first-order language
    model, in nats per token: low entropy flags templated/boilerplate
    feeds (cheap to compress, low training value per token), and the
    drop from q128's unigram surprisal to this is the context gain.
    Computed as -(sum over bigrams of c * LN(c/c1)) / T: counts are
    integers, each LN is quantized to DECIMAL(18,6) BEFORE the
    integer multiply (q128/q166 doctrine), the sum runs in exact
    decimal so accumulation order cannot move it, and one double
    division closes. The corpus collapses to (source x bigram) counts
    at the first aggregate — vocabulary-squared-sized, map-side
    combined; the prefix-count join keys on (source, w1)."""
    docs = load(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    w = docs.select("source", words.alias("words"))
    bigrams = F.when(
        F.size(F.col("words")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("words")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("words"), i).alias("w1"),
                F.element_at(F.col("words"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())
    bi = (
        w.select("source", F.explode(bigrams).alias("bg"))
        .select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
        .persist()
    )
    pre = bi.groupBy("source", "w1").agg(F.sum("c").cast("bigint").alias("c1"))
    t = bi.groupBy("source").agg(F.sum("c").cast("bigint").alias("tt"))
    lnterm = F.log(F.col("c").cast("double") / F.col("c1").cast("double")).cast(
        "decimal(18,6)"
    )
    terms = bi.join(pre, ["source", "w1"]).select(
        "source", "c", (F.col("c") * lnterm).cast("decimal(28,6)").alias("term")
    )
    out = (
        terms.join(F.broadcast(t), "source")
        .groupBy("source", "tt")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("distinct_bigrams"),
            det_round(
                -(F.sum("term").cast("double")) / F.col("tt").cast("double"),
                6,
            ).alias("entropy_rate"),
        )
        .select(
            "source",
            F.col("tt").alias("n_bigrams"),
            "distinct_bigrams",
            "entropy_rate",
        )
        .orderBy("source")
    )
    return out


# ---------------------------------------------------------------------------
# q245 — hybrid retrieval fusion (RRF over BM25 + dense cosine)
# ---------------------------------------------------------------------------

_RRF_K = 60  # standard reciprocal-rank-fusion damping constant
_RRF_DEPTH = 100  # fuse the top-100 of each ranking


@query(
    "q245_rrf_hybrid_retrieval",
    oracle=f"""
    WITH {_SQL_BM25_CTES},
    lex AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS INTEGER)
               AS lr
      FROM bm
    ),
    lex100 AS (SELECT doc_id, lr FROM lex WHERE lr <= {_RRF_DEPTH}),
    qv AS (SELECT embedding FROM embeddings WHERE vec_id = 0),
    cosd AS (
      SELECT e.vec_id AS doc_id,
             {_sql_cosine('e.embedding', 'qv.embedding')} AS c
      FROM embeddings e CROSS JOIN qv WHERE e.vec_id <> 0
    ),
    den AS (
      SELECT doc_id,
             CAST(ROW_NUMBER() OVER (ORDER BY c DESC, doc_id) AS INTEGER) AS dr
      FROM cosd
    ),
    den100 AS (SELECT doc_id, dr FROM den WHERE dr <= {_RRF_DEPTH}),
    fused AS (
      SELECT COALESCE(l.doc_id, d.doc_id) AS doc_id,
             l.lr AS lex_rank, d.dr AS dense_rank,
             CAST(CASE WHEN l.lr IS NULL THEN 0
                       ELSE 1000000 // ({_RRF_K} + l.lr) END
                + CASE WHEN d.dr IS NULL THEN 0
                       ELSE 1000000 // ({_RRF_K} + d.dr) END AS BIGINT)
               AS rrf_score_ppm
      FROM lex100 l FULL OUTER JOIN den100 d ON d.doc_id = l.doc_id
    )
    SELECT doc_id, rrf_score_ppm, lex_rank, dense_rank
    FROM fused ORDER BY rrf_score_ppm DESC, doc_id LIMIT 20
    """,
    tags=("llm", "retrieval", "hybrid", "rrf"),
)
def q245_rrf_hybrid_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval via reciprocal rank fusion: the q235 BM25
    ranking (lexical) and a dense cosine ranking against a fixed query
    vector (vec_id 0, the dense twin of q235's fixed term set) are
    fused as RRF(d) = Σ 1/(60+rank_d) over the two top-100 lists —
    the standard way production search blends sparse and dense
    retrieval without score calibration, since RRF consumes only
    RANKS. Scores are computed in parts-per-million INTEGER arithmetic
    (1000000 div (60+rank)), so fusion is bit-exact on both engines;
    ranks themselves are deterministic (BM25 rounded to 6 with doc_id
    tiebreak; cosine likewise — the q71 bit-identical fold). A doc
    absent from one list contributes zero from it (full outer join).

    Scale: each ranking is already top-k-bounded before the fusion
    join (TakeOrdered-style), so the fusion input is 2·depth rows
    regardless of corpus size; the dense side broadcasts the single
    query vector and never moves the corpus."""
    from ..operators.similarity import cosine

    bm, _dl = _bm25_doc_scores(spark, sf_dir)
    lex = (
        bm.select(
            "doc_id",
            F.row_number()
            # global-window-ok: rank over query-term candidate docs, depth-capped downstream; 100 TB form = per-query top-k
            .over(W.orderBy(F.desc("bm25"), "doc_id"))
            .cast("int")
            .alias("lr"),
        )
        .filter(F.col("lr") <= _RRF_DEPTH)
    )
    emb = load(spark, sf_dir, "embeddings")
    qv = emb.filter(F.col("vec_id") == 0).select(F.col("embedding").alias("qe"))
    cosd = (
        emb.filter(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qv))
        .select(
            F.col("vec_id").alias("doc_id"),
            cosine(F.col("embedding"), F.col("qe")).alias("c"),
        )
    )
    den = (
        cosd.select(
            "doc_id",
            F.row_number()
            # global-window-ok: corpus-grain dense rank, depth-capped downstream; 100 TB form = per-query top-k (TakeOrdered)
            .over(W.orderBy(F.desc("c"), "doc_id"))
            .cast("int")
            .alias("dr"),
        )
        .filter(F.col("dr") <= _RRF_DEPTH)
    )
    fused = lex.join(den, "doc_id", "full_outer")
    rrf = (
        F.when(F.col("lr").isNull(), 0).otherwise(
            F.expr(f"1000000 div ({_RRF_K} + lr)")
        )
        + F.when(F.col("dr").isNull(), 0).otherwise(
            F.expr(f"1000000 div ({_RRF_K} + dr)")
        )
    ).cast("bigint")
    out = (
        fused.select(
            "doc_id",
            rrf.alias("rrf_score_ppm"),
            F.col("lr").alias("lex_rank"),
            F.col("dr").alias("dense_rank"),
        )
        .orderBy(F.desc("rrf_score_ppm"), "doc_id")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q246 — A/B assignment sample-ratio-mismatch audit
# ---------------------------------------------------------------------------


@query(
    "q246_ab_assignment_srm_audit",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    gated AS (
      SELECT user_id,
             CAST('0x' || SUBSTR(MD5(CAST(user_id AS VARCHAR) || ':exp1'), 1, 2)
                  AS INTEGER) AS gate
      FROM u
    ),
    assigned AS (
      SELECT CASE WHEN gate < 128 THEN 'control'
                  WHEN gate < 192 THEN 'variant_a'
                  ELSE 'variant_b' END AS variant,
             CASE WHEN gate < 128 THEN 128 ELSE 64 END AS exp_x256
      FROM gated
    ),
    tot AS (SELECT COUNT(*) AS n FROM u)
    SELECT a.variant,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(MIN(a.exp_x256) * t.n AS BIGINT) AS expected_x256,
           CAST(256 * COUNT(*) - MIN(a.exp_x256) * t.n AS BIGINT) AS delta_x256,
           (CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) / CAST(t.n AS DOUBLE))
                 * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS obs_share
    FROM assigned a CROSS JOIN tot t
    GROUP BY a.variant, t.n ORDER BY a.variant
    """,
    tags=("streaming", "experiment", "srm", "audit"),
)
def q246_ab_assignment_srm_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Experiment-assignment health: users are deterministically
    bucketed into a 50/25/25 experiment by an md5 gate (the q105
    split doctrine — assignment is a pure function of the key, salted
    per experiment, stable under reruns and corpus growth), and the
    observed arm sizes are compared to expectation as an exact
    integer sample-ratio-mismatch delta: delta_x256 = 256*observed -
    expected_weight*total. A drifting delta is the classic symptom of
    a broken bucketing pipeline (bot filtering applied after
    assignment, collisions, truncated ids) that silently invalidates
    every downstream metric. Map-only assignment; one distinct-user
    aggregate; the SRM arithmetic never leaves integers except the
    one reported share."""
    ev = load(spark, sf_dir, "events")
    u = ev.select("user_id").distinct()
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col("user_id").cast("string"), F.lit(":exp1"))), 1, 2
        ),
        16,
        10,
    ).cast("int")
    assigned = u.select(
        F.when(gate < 128, "control")
        .when(gate < 192, "variant_a")
        .otherwise("variant_b")
        .alias("variant"),
        F.when(gate < 128, 128).otherwise(64).alias("exp_x256"),
    )
    tot = u.agg(F.count(F.lit(1)).alias("n"))
    return (
        assigned.crossJoin(F.broadcast(tot))
        .groupBy("variant", "n")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            (F.min("exp_x256") * F.col("n")).cast("bigint").alias("expected_x256"),
            (F.lit(256) * F.count(F.lit(1)) - F.min("exp_x256") * F.col("n"))
            .cast("bigint")
            .alias("delta_x256"),
            det_round(
                F.count(F.lit(1)).cast("double") / F.col("n").cast("double"), 6
            ).alias("obs_share"),
        )
        .select(
            "variant", "n_users", "expected_x256", "delta_x256", "obs_share"
        )
        .orderBy("variant")
    )
