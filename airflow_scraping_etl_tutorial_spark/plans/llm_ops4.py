"""LLM-ops wave 5: corpus curation DECISIONS — the operators that turn
the engine's measurements (near-dup pairs, cluster assignments, quality
scores) into the keep/drop/weight actions a 100 TB training-data
pipeline actually executes, plus the audit rollups that monitor those
decisions per source.

- SemDeDup-style semantic dedup (Abbas et al. 2023): k-means cluster
  the embedding space, drop near-identical vectors within each cluster;
- dedup keep-list materialization: per-document keep/drop verdicts from
  MinHash pair evidence — the artifact a pipeline writes back;
- quality / repetition / contamination drift per source: the per-feed
  dashboards that catch a bad crawl before it trains;
- LSH precision + duplicate-graph shape audits (candidate efficiency,
  degree histogram, cross-source leakage);
- deterministic stratified sampling and embedding-space profiling.

Reference parity: the reference validates each daily batch before
insert and alerts on failure (dags/Final_app.py:52-56, 79-149); these
entries generalize that validate-then-act posture from one row per day
to corpus scale, in the same declarative DataFrame style as waves 1-4.

Every entry follows the registry doctrine: aliased columns identical on
both sides, doubles rounded at the boundary, means via decimal-exact
sums (functions/compare.py), and md5-derived determinism for anything
sampled — no RNG, no engine-private hashing on the compare path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out
from ..operators.dedup import minhash_near_duplicates, shingle_hashes
from ..operators.similarity import (
    as_double,
    assign_argmax_cosine,
    dot,
    kmeans_centroids,
    within_cell_near_pairs,
)
from ..operators.text import en_stopword_ratio, tokens
from ..sources.tables import load
from .llm_ops import _sql_cosine, _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q154 — SemDeDup semantic dedup
# ---------------------------------------------------------------------------


def _sql_lloyd1_vec_cte(n_centroids: int, dim: int = 64) -> str:
    """cent0 -> a1 -> m1 CTE chain: one deterministic Lloyd iteration
    (md5-ordered init, argmax-cosine assignment, decimal-exact component
    means) with the trained centroids reassembled as a LIST so callers
    can score against them with _sql_cosine. DuckDB twin of
    operators.similarity.kmeans_centroids(n_iterations=1) via the
    q151 comp/vec reassembly pattern."""
    return f"""
    cent0 AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {n_centroids}
    ),
    a1 AS (
      SELECT e.vec_id, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'c.ce')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent0 c
    ),
    m1comp AS (
      SELECT a.cid, i AS pos,
             CAST(SUM(CAST(CAST(e.embedding[i] AS DOUBLE) AS DECIMAL(18,6)))
                  AS DOUBLE) / COUNT(*) AS mean_i
      FROM a1 a JOIN embeddings e ON e.vec_id = a.vec_id,
           (SELECT UNNEST(RANGE(1, {dim + 1})) AS i) r
      WHERE a.rn = 1
      GROUP BY 1, 2
    ),
    m1 AS (SELECT cid, LIST(mean_i ORDER BY pos) AS ce FROM m1comp GROUP BY 1)
"""


@query(
    "q154_semdedup_semantic_dedup",
    oracle=f"""
    WITH {_sql_lloyd1_vec_cte(8)},
    assign AS (
      SELECT e.vec_id, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'm.ce')} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN m1 m
    ),
    cells AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    dropped AS (
      SELECT DISTINCT b.vec_id
      FROM cells a JOIN cells b ON a.cid = b.cid AND a.vec_id < b.vec_id
      JOIN embeddings ea ON ea.vec_id = a.vec_id
      JOIN embeddings eb ON eb.vec_id = b.vec_id
      WHERE ROUND({_sql_cosine('ea.embedding', 'eb.embedding')}, 6) >= 0.3
    )
    SELECT c.cid AS centroid_id,
           COUNT(*) AS n_vecs,
           COUNT(d.vec_id) AS n_dropped,
           ROUND(CAST(COUNT(d.vec_id) AS DOUBLE) / COUNT(*), 6) AS drop_rate
    FROM cells c LEFT JOIN dropped d ON d.vec_id = c.vec_id
    GROUP BY c.cid ORDER BY centroid_id
    """,
    tags=("llm", "dedup", "semantic", "kmeans", "semdedup"),
)
def q154_semdedup_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): cluster the embedding space with
    deterministic k-means (1 Lloyd iteration, md5-ordered init), then
    inside each cluster drop every vector that has a LOWER-id neighbor
    with cosine >= tau — keep-first-occurrence, the deterministic form
    of the paper's one-per-epsilon-ball rule. Pairwise cosine runs only
    WITHIN clusters, which is the whole point at 100 TB: the quadratic
    term is bounded per cell (cap cell size with the q68 hot-bucket
    doctrine when a cluster collapses), and the clustering stage is one
    broadcast of 8 centroids + a map-side argmax.

    Returns per-cluster dedup pressure: (centroid_id, n_vecs,
    n_dropped, drop_rate) — the report that decides which shards
    actually shrink. tau=0.3 is fixture-calibrated (max pairwise cosine
    ~0.46, same constant as q74's embedding near-dup)."""
    emb = load(spark, sf_dir, "embeddings")
    cents = kmeans_centroids(emb, n_centroids=8, n_iterations=1)
    # fan_out BEFORE the map-side assignment: the fold inherits the
    # input partitioning, and the quadratic within-cell self-join
    # downstream needs its probe side spread across cores (the window
    # form's shuffle used to provide this by accident)
    vecs = fan_out(
        emb.select("vec_id", as_double(F.col("embedding")).alias("_e"))
    )
    # cells feeds both sides of the within-cell self-join AND the final
    # report join — persist it or the k-means +
    # assignment pipeline runs three times. Assignment is the map-side
    # argmax fold (assign_argmax_cosine) — no (n x 8) shuffle.
    # r14 (guide §1.2 per-task work): the L2 norm is materialized ONCE
    # PER VECTOR into the persisted cells (the q74/q75
    # embedding_near_dup_pairs doctrine) — the quadratic within-cell
    # stage then evaluates one dot() per pair instead of dot + two
    # norm folds, a 3x cut in the per-pair array traversals. Bit-exact:
    # dot/(sqrt(dot(a,a))*sqrt(dot(b,b))) runs the IDENTICAL IEEE ops
    # as cosine(), just with the per-vector sqrt hoisted out of the
    # pair loop.
    cells = (
        assign_argmax_cosine(vecs, "_e", cents)
        .select(
            "vec_id",
            "_e",
            F.col("centroid_id").alias("cid"),
            F.sqrt(dot(F.col("_e"), F.col("_e"))).alias("_n"),
        )
        .persist()
    )
    # r14 batch 2 (guide §4.2): the quadratic within-cell stage runs in
    # the Arrow-vectorized NumPy kernel (within_cell_near_pairs) instead
    # of a per-pair interpreted-HOF dot join — the Gram accumulation
    # replays the identical IEEE left fold, and the kernel only
    # PREFILTERS on a guard strictly below tau (0.2999985 < any double
    # that can round to >= 0.3): the semantic cutoff stays this exact
    # JVM expression, so threshold decisions — including Java BigDecimal
    # HALF_UP rounding — are unchanged (proven by the unchanged oracle
    # hash at 3 SFs and tests/test_vectorized_pairs.py).
    dropped = (
        within_cell_near_pairs(cells, cos_guard=0.2999985)
        .filter(F.round(F.col("cos_raw"), 6) >= 0.3)
        .select(F.col("id_b").alias("vec_id"))
        .distinct()
        .withColumn("_dropped", F.lit(1))
    )

    out = (
        cells.join(dropped, "vec_id", "left")
        .groupBy(F.col("cid").alias("centroid_id"))
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.count("_dropped").alias("n_dropped"),
            F.round(
                F.count("_dropped").cast("double") / F.count(F.lit(1)), 6
            ).alias("drop_rate"),
        )
        .orderBy("centroid_id")
    )
    return out


# ---------------------------------------------------------------------------
# q155 — dedup keep-list materialization
# ---------------------------------------------------------------------------


@query(
    "q155_dedup_keep_list",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    drops AS (SELECT DISTINCT doc_id_b AS doc_id FROM pairs)
    SELECT d.source,
           COUNT(*) AS n_docs,
           COUNT(x.doc_id) AS n_dropped,
           COUNT(*) - COUNT(x.doc_id) AS n_kept,
           CAST(COALESCE(SUM(CASE WHEN x.doc_id IS NOT NULL
                    THEN LEN(STRING_SPLIT(d.text, ' ')) END), 0)
                AS BIGINT) AS tokens_dropped,
           CAST(COALESCE(SUM(CASE WHEN x.doc_id IS NULL
                    THEN LEN(STRING_SPLIT(d.text, ' ')) END), 0)
                AS BIGINT) AS tokens_kept
    FROM documents d LEFT JOIN drops x ON x.doc_id = d.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("llm", "dedup", "minhash", "keep-list"),
)
def q155_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-list materialization — the artifact a dedup pass actually
    writes back: every document voted keep or drop from MinHash+LSH
    pair evidence (drop the higher id of each verified pair; keep-first
    is deterministic and order-free, the same rule large pipelines use
    so reruns agree). The pair set is q68's banding pipeline untouched;
    this entry turns pairs into per-source keep/drop/token accounting —
    what the mixture planner (q101/q125) consumes next.

    Scale: the keep-list join is digest-keyed (doc_id only); text
    stays put and is token-counted map-side before the per-source
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    drops = (
        pairs.select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("_drop", F.lit(1))
    )
    flagged = docs.join(drops, "doc_id", "left").select(
        "source",
        F.col("_drop"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("_tok"),
    )
    return (
        flagged.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.count("_drop").alias("n_dropped"),
            (F.count(F.lit(1)) - F.count("_drop")).alias("n_kept"),
            F.coalesce(
                F.sum(F.when(F.col("_drop").isNotNull(), F.col("_tok"))), F.lit(0)
            ).alias("tokens_dropped"),
            F.coalesce(
                F.sum(F.when(F.col("_drop").isNull(), F.col("_tok"))), F.lit(0)
            ).alias("tokens_kept"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q156 — quality-score drift per source
# ---------------------------------------------------------------------------


@query(
    "q156_quality_drift_by_source",
    oracle="""
    WITH t AS (
      SELECT source,
             CAST(ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                    x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is',
                               'it', 'that', 'for'))) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')), 6) AS DECIMAL(10,6)) AS r6,
             CASE WHEN LEN(STRING_SPLIT(text, ' ')) BETWEEN 10 AND 1000
                  THEN 1 ELSE 0 END AS ok
      FROM documents
    ),
    src AS (
      SELECT source, COUNT(*) AS n_docs, SUM(r6) AS s, SUM(ok) AS n_ok
      FROM t GROUP BY source
    ),
    corpus AS (SELECT SUM(s) AS cs, SUM(n_docs) AS cn FROM src)
    SELECT source,
           CAST(n_docs AS BIGINT) AS n_docs,
           ROUND(CAST(s AS DOUBLE) / n_docs, 6) AS mean_stop_ratio,
           ROUND(CAST(n_ok AS DOUBLE) / n_docs, 6) AS frac_length_ok,
           ROUND(CAST(s AS DOUBLE) / n_docs
                 - CAST(c.cs AS DOUBLE) / c.cn, 6) AS drift_vs_corpus
    FROM src CROSS JOIN corpus c ORDER BY source
    """,
    tags=("llm", "quality", "drift", "audit"),
)
def q156_quality_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality drift per source: mean stopword ratio and length-gate
    pass rate per feed, each with its signed deviation from the corpus
    mean — the per-crawl dashboard that catches a degraded source
    before its documents train. Per-doc ratios are rounded then summed
    as DECIMAL so every mean is order-independent (q109 doctrine); the
    corpus row derives from the SAME per-source partials (decimal sums
    are exactly associative), so drift is bit-stable on any
    partitioning. One scan, two tiny aggregates, a broadcast of one
    corpus row."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select(
        "source",
        F.round(en_stopword_ratio(F.col("text")), 6).cast("decimal(10,6)").alias("r6"),
        F.size(tokens(F.col("text"))).between(10, 1000).cast("int").alias("ok"),
    )
    src = t.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("r6").alias("s"),
        F.sum("ok").alias("n_ok"),
    )
    corpus = src.agg(F.sum("s").alias("cs"), F.sum("n_docs").alias("cn"))
    return (
        src.crossJoin(F.broadcast(corpus))
        .select(
            "source",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.round(F.col("s").cast("double") / F.col("n_docs"), 6).alias(
                "mean_stop_ratio"
            ),
            F.round(F.col("n_ok").cast("double") / F.col("n_docs"), 6).alias(
                "frac_length_ok"
            ),
            F.round(
                F.col("s").cast("double") / F.col("n_docs")
                - F.col("cs").cast("double") / F.col("cn"),
                6,
            ).alias("drift_vs_corpus"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q157 — token-count magnitude histogram
# ---------------------------------------------------------------------------


@query(
    "q157_token_magnitude_histogram",
    oracle="""
    WITH t AS (
      SELECT lang, LEN(STRING_SPLIT(text, ' ')) AS n_tok FROM documents
    )
    SELECT lang,
           LENGTH(CAST(n_tok AS VARCHAR)) AS magnitude,
           COUNT(*) AS n_docs,
           MIN(n_tok) AS min_tokens,
           MAX(n_tok) AS max_tokens
    FROM t GROUP BY lang, magnitude ORDER BY lang, magnitude
    """,
    tags=("llm", "text", "histogram", "profile"),
)
def q157_token_magnitude_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document-length distribution per language in order-of-magnitude
    buckets (decimal-digit count of the token count — an integer-exact
    log10 both engines compute identically, no float log). The shape
    report a curation run reads before setting min/max length gates:
    one map-side bucket assignment, one tiny aggregate; text never
    shuffles."""
    docs = load(spark, sf_dir, "documents")
    t = docs.select("lang", F.size(tokens(F.col("text"))).alias("n_tok"))
    return (
        t.groupBy(
            "lang", F.length(F.col("n_tok").cast("string")).alias("magnitude")
        )
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.min("n_tok").alias("min_tokens"),
            F.max("n_tok").alias("max_tokens"),
        )
        .orderBy("lang", "magnitude")
    )


# ---------------------------------------------------------------------------
# q158 — shingle novelty per source
# ---------------------------------------------------------------------------


@query(
    "q158_shingle_novelty_by_source",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    ),
    ex AS (
      SELECT doc_id, CAST('0x' || SUBSTR(MD5(s.s), 1, 15) AS BIGINT) AS h
      FROM sh, UNNEST(shingles) AS s(s)
    ),
    first_seen AS (SELECT h, MIN(doc_id) AS first_doc FROM ex GROUP BY h),
    perdoc AS (
      SELECT ex.doc_id,
             CAST(ROUND(
               CAST(SUM(CASE WHEN f.first_doc = ex.doc_id THEN 1 ELSE 0 END)
                    AS DOUBLE) / COUNT(*), 6) AS DECIMAL(10,6)) AS novelty
      FROM ex JOIN first_seen f ON f.h = ex.h
      GROUP BY ex.doc_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(p.novelty) AS DOUBLE) / COUNT(*), 6)
             AS mean_novelty
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("llm", "dedup", "novelty", "profile"),
)
def q158_shingle_novelty_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """N-gram novelty per source: the fraction of each document's
    distinct 3-word shingles whose corpus-wide FIRST occurrence (min
    doc_id) is that document, averaged per source — the marginal-value
    curve of a feed (a source whose novelty trends to zero is
    re-crawling what the corpus already has). Shingles ride the 60-bit
    md5 fingerprint family (operators/dedup.py), so only 8-byte hashes
    shuffle; the first-seen aggregate is one map-side-combined groupBy
    and per-doc rollups are decimal-exact (q109 doctrine). Documents
    with fewer than 3 words carry no shingles and drop out of the
    novelty base on both engines."""
    docs = load(spark, sf_dir, "documents")
    ex = docs.select(
        "doc_id", F.explode(shingle_hashes(F.col("text"), 3)).alias("h")
    )
    first_seen = ex.groupBy("h").agg(F.min("doc_id").alias("first_doc"))
    perdoc = (
        ex.join(first_seen, "h")
        .groupBy("doc_id")
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
                ).cast("double")
                / F.count(F.lit(1)),
                6,
            )
            .cast("decimal(10,6)")
            .alias("novelty")
        )
    )
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("novelty").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_novelty"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q159 — LSH precision audit
# ---------------------------------------------------------------------------


@query(
    "q159_lsh_precision_audit",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.0)}
    SELECT COUNT(*) AS n_candidates,
           CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_verified,
           ROUND(CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS precision
    FROM pairs
    """,
    tags=("llm", "dedup", "minhash", "audit", "precision"),
)
def q159_lsh_precision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidate precision — the efficiency counterpart of q143's
    recall audit: of all pairs the banding scheme surfaces, what
    fraction survive exact-Jaccard verification at the working
    threshold? Low precision means the verify stage (the expensive
    shingle-set intersection) is mostly wasted work and the band/row
    split needs retuning via the S-curve. Reuses q68's pipeline with
    the verify gate open (threshold 0), so candidate counting IS the
    production plan; one three-counter aggregate leaves the
    executors."""
    docs = load(spark, sf_dir, "documents")
    cand = minhash_near_duplicates(docs, jaccard_threshold=0.0)
    return cand.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).alias("n_verified"),
        F.round(
            F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).cast("double")
            / F.count(F.lit(1)),
            6,
        ).alias("precision"),
    )


# ---------------------------------------------------------------------------
# q160 — duplicate-graph degree histogram
# ---------------------------------------------------------------------------


@query(
    "q160_dup_degree_histogram",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    deg AS (
      SELECT doc_id, COUNT(*) AS degree FROM (
        SELECT doc_id_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_id_b AS doc_id FROM pairs
      ) GROUP BY doc_id
    )
    SELECT degree, COUNT(*) AS n_docs
    FROM deg GROUP BY degree ORDER BY degree
    """,
    tags=("llm", "dedup", "graph", "histogram"),
)
def q160_dup_degree_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate graph shape: how many verified-duplicate partners
    each involved document has (degree), histogrammed. A heavy tail
    here is the boilerplate signature — one template shared by
    thousands of pages — and predicts connected-component collapse
    (q90) and hot LSH buckets (the q68 cap) before either happens.
    Pairs shrink to ids immediately; two tiny integer aggregates
    follow."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    deg = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    return (
        deg.groupBy("degree")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("degree")
    )


# ---------------------------------------------------------------------------
# q161 — cross-source duplicate leakage
# ---------------------------------------------------------------------------


@query(
    "q161_cross_source_leakage",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    lab AS (
      SELECT LEAST(da.source, db.source) AS source_x,
             GREATEST(da.source, db.source) AS source_y,
             CAST(p.jaccard AS DECIMAL(10,6)) AS j6
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_a
      JOIN documents db ON db.doc_id = p.doc_id_b
    )
    SELECT source_x, source_y,
           COUNT(*) AS n_pairs,
           ROUND(CAST(SUM(j6) AS DOUBLE) / COUNT(*), 6) AS mean_jaccard
    FROM lab GROUP BY source_x, source_y ORDER BY source_x, source_y
    """,
    tags=("llm", "dedup", "leakage", "audit"),
)
def q161_cross_source_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate leakage between feeds: verified near-dup pairs rolled
    up by unordered source pair. Off-diagonal mass means two crawlers
    are fetching the same content (pay for it once); the within-source
    diagonal is ordinary re-crawl. The doc->source joins are
    digest-keyed broadcasts of the pair list; mean jaccard rides the
    rounded-decimal sum so the report is partitioning-independent."""
    docs = load(spark, sf_dir, "documents")
    src = docs.select("doc_id", "source")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    lab = (
        pairs.join(
            src.select(F.col("doc_id").alias("doc_id_a"), F.col("source").alias("sa")),
            "doc_id_a",
        )
        .join(
            src.select(F.col("doc_id").alias("doc_id_b"), F.col("source").alias("sb")),
            "doc_id_b",
        )
        .select(
            F.least("sa", "sb").alias("source_x"),
            F.greatest("sa", "sb").alias("source_y"),
            F.col("jaccard").cast("decimal(10,6)").alias("j6"),
        )
    )
    return (
        lab.groupBy("source_x", "source_y")
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.round(F.sum("j6").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_jaccard"
            ),
        )
        .orderBy("source_x", "source_y")
    )


# ---------------------------------------------------------------------------
# q162 — deterministic stratified sample
# ---------------------------------------------------------------------------


@query(
    "q162_stratified_sample",
    oracle="""
    WITH ranked AS (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY MD5(CAST(doc_id AS VARCHAR)), doc_id) AS sample_rank
      FROM documents
    )
    SELECT lang, doc_id, sample_rank
    FROM ranked WHERE sample_rank <= 5 ORDER BY lang, sample_rank
    """,
    tags=("llm", "sampling", "stratified"),
)
def q162_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling: a fixed-size per-language
    audit sample selected by md5 rank over the key — no RNG state, so
    every engine, rerun, and replica draws the SAME sample (the q76/
    q127 init idiom applied to QA sampling). At scale this is a
    map-side rank within each stratum partition; only k rows per
    stratum survive the TopK."""
    docs = load(spark, sf_dir, "documents")
    w = W.partitionBy("lang").orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    return (
        docs.select("lang", "doc_id", F.row_number().over(w).alias("sample_rank"))
        .filter(F.col("sample_rank") <= 5)
        .orderBy("lang", "sample_rank")
    )


# ---------------------------------------------------------------------------
# q163 — embedding dimension statistics
# ---------------------------------------------------------------------------


@query(
    "q163_embedding_dimension_stats",
    oracle="""
    WITH comp AS (
      SELECT i AS pos, CAST(embedding[i] AS DOUBLE) AS v
      FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i) r
    ),
    agg AS (
      SELECT pos,
             COUNT(*) AS n,
             CAST(SUM(CAST(v AS DECIMAL(18,6))) AS DOUBLE) AS s,
             CAST(SUM(CAST(v * v AS DECIMAL(18,12))) AS DOUBLE) AS ss,
             MIN(v) AS mn, MAX(v) AS mx
      FROM comp GROUP BY pos
    )
    SELECT pos,
           ROUND(s / n, 6) AS mean_val,
           ROUND(ss / n - (s / n) * (s / n), 6) AS var_val,
           ROUND(mn, 6) AS min_val,
           ROUND(mx, 6) AS max_val
    FROM agg ORDER BY pos
    """,
    tags=("llm", "similarity", "profile", "stats"),
)
def q163_embedding_dimension_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding profile (mean / variance / range) — the
    collapse detector for a vector store: a dimension whose variance
    goes to zero carries no signal, a shifted mean breaks dot-product
    assumptions downstream (quantization q98, IVF q76). posexplode +
    (position) groupBy keeps the expression tree O(1) in dim (the
    _lloyd_step doctrine) and the power sums ride decimals, so every
    statistic is the same double on any partitioning. 64 rows leave the
    executors."""
    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        F.posexplode(as_double(F.col("embedding"))).alias("_p", "v")
    ).select((F.col("_p") + 1).alias("pos"), "v")
    agg = comp.groupBy("pos").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("v").cast("decimal(18,6)")).cast("double").alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(18,12)"))
        .cast("double")
        .alias("ss"),
        F.min("v").alias("mn"),
        F.max("v").alias("mx"),
    )
    return agg.select(
        "pos",
        F.round(F.col("s") / F.col("n"), 6).alias("mean_val"),
        F.round(
            F.col("ss") / F.col("n")
            - (F.col("s") / F.col("n")) * (F.col("s") / F.col("n")),
            6,
        ).alias("var_val"),
        F.round("mn", 6).alias("min_val"),
        F.round("mx", 6).alias("max_val"),
    ).orderBy("pos")


# ---------------------------------------------------------------------------
# q164 — brand basket pairs (co-purchase affinity)
# ---------------------------------------------------------------------------


@query(
    "q164_brand_basket_pairs",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    )
    SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
           COUNT(*) AS n_orders
    FROM ob a JOIN ob b
      ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
    GROUP BY 1, 2
    ORDER BY n_orders DESC, brand_a, brand_b
    LIMIT 20
    """,
    tags=("relational", "join", "basket", "affinity"),
)
def q164_brand_basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket co-occurrence: the top brand pairs bought together
    in one order — the association-mining shape (self-join on the
    basket key) that also powers doc-level tag co-occurrence in a
    curation pipeline. part SCALES with SF, so no forced broadcast
    hint (r13) — AQE picks broadcast while it fits and degrades to a
    shuffled join beyond the threshold; baskets collapse to
    DISTINCT (order, brand) first, so the self-join's quadratic term is
    bounded by the BRAND count per order (<= ~25 brands total), never
    by line items. TakeOrderedAndProject caps the output at 20."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    return (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .orderBy(F.desc("n_orders"), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q165 — bigram PMI (collocation mining)
# ---------------------------------------------------------------------------


@query(
    "q165_bigram_pmi",
    oracle="""
    WITH w AS (SELECT STRING_SPLIT(text, ' ') AS words FROM documents),
    uni AS (
      SELECT tok, COUNT(*) AS c FROM (SELECT UNNEST(words) AS tok FROM w)
      GROUP BY tok
    ),
    nu AS (SELECT SUM(c) AS n_uni FROM uni),
    bi AS (
      SELECT w1, w2, COUNT(*) AS c FROM (
        SELECT words[i] AS w1, words[i + 1] AS w2
        FROM w, UNNEST(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1)) AS r(i)
      ) GROUP BY w1, w2
    ),
    nb AS (SELECT SUM(c) AS n_bi FROM bi),
    scored AS (
      SELECT b.w1, b.w2, b.c AS pair_count,
             ROUND(LN((CAST(b.c AS DOUBLE) / nb.n_bi)
                   / ((CAST(ua.c AS DOUBLE) / nu.n_uni)
                      * (CAST(ub.c AS DOUBLE) / nu.n_uni))), 4) AS pmi
      FROM bi b
      JOIN uni ua ON ua.tok = b.w1
      JOIN uni ub ON ub.tok = b.w2
      CROSS JOIN nu CROSS JOIN nb
      WHERE b.c >= 5
    )
    SELECT w1, w2, CAST(pair_count AS BIGINT) AS pair_count, pmi
    FROM scored ORDER BY pmi DESC, w1, w2 LIMIT 20
    """,
    tags=("llm", "text", "pmi", "collocation"),
)
def q165_bigram_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: top bigrams by pointwise mutual information
    (min support 5) — the phrase detector run before vocabulary
    decisions. Unigram and bigram counts are two map-side-combined
    aggregates whose results (vocab-sized, not corpus-sized) broadcast
    back onto the bigram table; the PMI argument is built from integer
    counts with an identical double expression on both engines and
    rounded before ranking so ordering cannot diverge in the last ulp
    (q128's LN doctrine)."""
    docs = load(spark, sf_dir, "documents")
    words = tokens(F.col("text"))
    w = docs.select(words.alias("words"))
    uni = (
        w.select(F.explode("words").alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nu = uni.agg(F.sum("c").alias("n_uni"))
    bigrams = F.when(
        F.size(F.col("words")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("words")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("words"), i).alias("w1"),
                F.element_at(F.col("words"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (
        w.select(F.explode(bigrams).alias("p"))
        .select(F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    nb = bi.agg(F.sum("c").alias("n_bi"))
    ua = uni.select(F.col("tok").alias("w1"), F.col("c").alias("ca"))
    ub = uni.select(F.col("tok").alias("w2"), F.col("c").alias("cb"))
    scored = (
        bi.filter(F.col("c") >= 5)
        .join(F.broadcast(ua), "w1")
        .join(F.broadcast(ub), "w2")
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
        .select(
            "w1",
            "w2",
            F.col("c").cast("bigint").alias("pair_count"),
            F.round(
                F.log(
                    (F.col("c").cast("double") / F.col("n_bi"))
                    / (
                        (F.col("ca").cast("double") / F.col("n_uni"))
                        * (F.col("cb").cast("double") / F.col("n_uni"))
                    )
                ),
                4,
            ).alias("pmi"),
        )
    )
    return scored.orderBy(F.desc("pmi"), "w1", "w2").limit(20)


# ---------------------------------------------------------------------------
# q166 — Zipf slope of the token distribution
# ---------------------------------------------------------------------------


@query(
    "q166_zipf_slope",
    oracle="""
    WITH freq AS (
      SELECT tok, COUNT(*) AS cnt
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    top AS (
      SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, tok) AS rnk
      FROM freq ORDER BY cnt DESC, tok LIMIT 100
    ),
    q AS (
      SELECT CAST(LN(CAST(rnk AS DOUBLE)) AS DECIMAL(18,6)) AS x,
             CAST(LN(CAST(cnt AS DOUBLE)) AS DECIMAL(18,6)) AS y
      FROM top
    ),
    s AS (
      SELECT COUNT(*) AS n,
             CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
             CAST(SUM(x * y) AS DOUBLE) AS sxy,
             CAST(SUM(x * x) AS DOUBLE) AS sxx
      FROM q
    )
    SELECT CAST(n AS BIGINT) AS n_tokens_fit,
           ROUND((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS zipf_slope,
           ROUND((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
             AS zipf_intercept
    FROM s
    """,
    tags=("llm", "text", "zipf", "stats"),
)
def q166_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf-law fit: OLS slope of ln(frequency) against ln(rank) over
    the top-100 tokens — the one-number lexical-health check (natural
    text sits near -1; template spam flattens it). Ranks come from the
    deterministic (count DESC, token) order; each ln is quantized to
    DECIMAL(18,6) before the power sums (q128's LN doctrine) and the
    decimal products are exact, so the regression inputs — and hence
    the fitted slope — are identical doubles on both engines. Only the
    vocab aggregate and 100 tiny rows ever exist."""
    docs = load(spark, sf_dir, "documents")
    freq = (
        docs.select(F.explode(tokens(F.col("text"))).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    top = (
        freq.orderBy(F.desc("cnt"), "tok")
        .limit(100)
        .select(
            "cnt",
            # global-window-ok: 100-row frame (applied after limit(100))
            F.row_number().over(W.orderBy(F.desc("cnt"), "tok")).alias("rnk"),
        )
    )
    q = top.select(
        F.log(F.col("rnk").cast("double")).cast("decimal(18,6)").alias("x"),
        F.log(F.col("cnt").cast("double")).cast("decimal(18,6)").alias("y"),
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
        F.col("n").cast("bigint").alias("n_tokens_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round((F.col("sy") - slope * F.col("sx")) / F.col("n"), 6).alias(
            "zipf_intercept"
        ),
    )


# ---------------------------------------------------------------------------
# q167 — hash-partition balance audit
# ---------------------------------------------------------------------------


@query(
    "q167_hash_partition_balance",
    oracle="""
    WITH b AS (
      SELECT CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               % 64 AS bucket,
             n_chars
      FROM documents
    ),
    agg AS (
      SELECT bucket, COUNT(*) AS n_docs, SUM(n_chars) AS total_chars
      FROM b GROUP BY bucket
    ),
    tot AS (SELECT SUM(n_docs) AS n FROM agg)
    SELECT bucket,
           CAST(n_docs AS BIGINT) AS n_docs,
           CAST(total_chars AS BIGINT) AS total_chars,
           ROUND(CAST(n_docs AS DOUBLE) * 64 / tot.n, 4) AS load_factor
    FROM agg CROSS JOIN tot ORDER BY bucket
    """,
    tags=("llm", "partitioning", "skew", "audit"),
)
def q167_hash_partition_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partition-balance audit: row and byte mass per md5-derived
    bucket (64-way), with each bucket's load factor vs the uniform
    ideal — the check run BEFORE choosing a partitioning key at 100 TB,
    where one hot bucket becomes one straggling executor. The md5
    bucket is engine-portable (unlike xxhash-based internal
    partitioning), so the oracle audits the same assignment. One
    map-side bucket tag + a 64-row aggregate; the load factor joins a
    broadcast scalar."""
    docs = load(spark, sf_dir, "documents")
    bucket = (
        F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int")
        % 64
    )
    agg = (
        docs.select(bucket.alias("bucket"), "n_chars")
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
        )
    )
    tot = agg.agg(F.sum("n_docs").alias("n"))
    return (
        agg.crossJoin(F.broadcast(tot))
        .select(
            "bucket",
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("total_chars").cast("bigint").alias("total_chars"),
            F.round(F.col("n_docs").cast("double") * 64 / F.col("n"), 4).alias(
                "load_factor"
            ),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q168 — event inter-arrival magnitude histogram
# ---------------------------------------------------------------------------


@query(
    "q168_interarrival_histogram",
    oracle="""
    WITH g AS (
      SELECT event_type,
             CAST(EPOCH_US(ts) AS BIGINT)
               - LAG(CAST(EPOCH_US(ts) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    )
    SELECT event_type,
           LENGTH(CAST(gap_us AS VARCHAR)) AS magnitude,
           COUNT(*) AS n_gaps,
           MIN(gap_us) AS min_gap_us,
           MAX(gap_us) AS max_gap_us
    FROM g WHERE gap_us IS NOT NULL
    GROUP BY event_type, magnitude ORDER BY event_type, magnitude
    """,
    tags=("streaming", "events", "histogram", "profile"),
)
def q168_interarrival_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival-time profile: per event type, the order-of-
    magnitude histogram (decimal digits of the microsecond gap — the
    integer-exact log10) of the time since the same user's previous
    event. The cadence fingerprint that separates human click streams
    from bot bursts and tunes session timeouts (q82's 30-minute gap)
    from evidence. One user-partitioned window (same shuffle as
    sessionization), then a tiny integer aggregate."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        "event_type",
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us"),
    ).filter(F.col("gap_us").isNotNull())
    return (
        g.groupBy(
            "event_type",
            F.length(F.col("gap_us").cast("string")).alias("magnitude"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.min("gap_us").alias("min_gap_us"),
            F.max("gap_us").alias("max_gap_us"),
        )
        .orderBy("event_type", "magnitude")
    )


# ---------------------------------------------------------------------------
# q169 — user activity concentration (decile shares)
# ---------------------------------------------------------------------------


@query(
    "q169_activity_concentration",
    oracle="""
    WITH u AS (
      SELECT event_type, user_id, COUNT(*) AS cnt
      FROM events GROUP BY event_type, user_id
    ),
    d AS (
      SELECT event_type, cnt,
             NTILE(10) OVER (PARTITION BY event_type
                             ORDER BY cnt DESC, user_id) AS decile
      FROM u
    ),
    tot AS (SELECT event_type, SUM(cnt) AS total FROM u GROUP BY event_type)
    SELECT d.event_type, d.decile,
           COUNT(*) AS n_users,
           CAST(SUM(d.cnt) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(d.cnt) AS DOUBLE) / MIN(t.total), 6) AS share
    FROM d JOIN tot t ON t.event_type = d.event_type
    GROUP BY d.event_type, d.decile ORDER BY d.event_type, d.decile
    """,
    tags=("streaming", "events", "concentration", "audit"),
)
def q169_activity_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Activity concentration: how much of each event type's volume the
    top user deciles generate (decile 1 = heaviest users). A spiking
    top-decile share is the abuse/bot alarm AND the shuffle-skew
    early-warning — the same heavy keys that dominate volume dominate
    any user-keyed join (q26's salting threshold feeds on this).
    Volumes aggregate per user first (map-side), so the window ranks
    users-not-events; ties break on user_id for cross-engine NTILE
    agreement."""
    ev = load(spark, sf_dir, "events")
    u = ev.groupBy("event_type", "user_id").agg(F.count(F.lit(1)).alias("cnt"))
    d = u.select(
        "event_type",
        "cnt",
        F.ntile(10)
        .over(W.partitionBy("event_type").orderBy(F.desc("cnt"), "user_id"))
        .alias("decile"),
    )
    tot = u.groupBy("event_type").agg(F.sum("cnt").alias("total"))
    return (
        d.join(tot, "event_type")
        .groupBy("event_type", "decile")
        .agg(
            F.count(F.lit(1)).alias("n_users"),
            F.sum("cnt").alias("n_events"),
            F.round(F.sum("cnt").cast("double") / F.min("total"), 6).alias("share"),
        )
        .orderBy("event_type", "decile")
    )


# ---------------------------------------------------------------------------
# q170 — sequence-packing efficiency audit
# ---------------------------------------------------------------------------


@query(
    "q170_packing_efficiency",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) - n_tokens AS start
      FROM toks
    )
    SELECT shard,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           CAST(CEIL(CAST(SUM(n_tokens) AS DOUBLE) / 2048) AS BIGINT) AS n_seqs,
           CAST(SUM(CASE WHEN start % 2048 + n_tokens > 2048 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_straddlers,
           ROUND(CAST(SUM(n_tokens) AS DOUBLE)
                 / (CEIL(CAST(SUM(n_tokens) AS DOUBLE) / 2048) * 2048), 6)
             AS utilization
    FROM packed GROUP BY shard ORDER BY shard
    """,
    tags=("llm", "packing", "audit"),
)
def q170_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Packing-efficiency audit over q102's greedy sequence packer: per
    shard, how many fixed 2048-token sequences the docs fill, how many
    docs straddle a sequence boundary (cross-attention pollution the
    trainer must mask), and the fill fraction of the final layout. The
    report that decides whether the packer needs a best-fit upgrade.
    Same shard-local window as q102 — no global state — followed by an
    8-row integer aggregate."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("bigint").alias("shard"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = toks.select(
        "shard",
        "n_tokens",
        (F.sum("n_tokens").over(w) - F.col("n_tokens")).alias("start"),
    )
    n_seqs = F.ceil(F.sum("n_tokens").cast("double") / 2048).cast("bigint")
    return (
        packed.groupBy("shard")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").alias("total_tokens"),
            n_seqs.alias("n_seqs"),
            F.sum(
                F.when(F.col("start") % 2048 + F.col("n_tokens") > 2048, 1).otherwise(
                    0
                )
            ).alias("n_straddlers"),
            F.round(
                F.sum("n_tokens").cast("double") / (n_seqs * 2048), 6
            ).alias("utilization"),
        )
        .orderBy("shard")
    )


# ---------------------------------------------------------------------------
# q171 — prefix-dedup savings per source
# ---------------------------------------------------------------------------


@query(
    "q171_prefix_dedup_savings",
    oracle="""
    WITH k AS (
      SELECT doc_id, source, n_chars,
             MIN(doc_id) OVER (PARTITION BY lang, MD5(SUBSTR(text, 1, 50)))
               AS kept_doc_id
      FROM documents
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN doc_id <> kept_doc_id THEN 1 ELSE 0 END)
             AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN doc_id <> kept_doc_id THEN n_chars ELSE 0 END)
             AS BIGINT) AS chars_dropped,
           CAST(SUM(CASE WHEN doc_id = kept_doc_id THEN n_chars ELSE 0 END)
             AS BIGINT) AS chars_kept
    FROM k GROUP BY source ORDER BY source
    """,
    tags=("llm", "dedup", "prefix", "savings"),
)
def q171_prefix_dedup_savings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What q124's cheap prefix-dedup pass actually SAVES, per source:
    docs and bytes that the (lang, 50-char-prefix-md5) keep-first rule
    would drop before the expensive MinHash stage runs. This is the
    cost-avoidance report that justifies running the cheap pass first
    in a tiered dedup cascade. The keep decision is a window-min over
    the 16-byte digest key — text never shuffles — then one per-source
    aggregate."""
    docs = load(spark, sf_dir, "documents")
    k = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.min("doc_id")
        .over(W.partitionBy("lang", F.md5(F.substring("text", 1, 50))))
        .alias("kept_doc_id"),
    )
    dropped = F.col("doc_id") != F.col("kept_doc_id")
    return (
        k.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(dropped, 1).otherwise(0)).alias("n_dropped"),
            F.sum(F.when(dropped, F.col("n_chars")).otherwise(0)).alias(
                "chars_dropped"
            ),
            F.sum(F.when(~dropped, F.col("n_chars")).otherwise(0)).alias(
                "chars_kept"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q172 — repetition drift per source
# ---------------------------------------------------------------------------


@query(
    "q172_repetition_drift_by_source",
    oracle="""
    WITH w AS (
      SELECT source, STRING_SPLIT(text, ' ') AS words FROM documents
    ),
    g AS (
      SELECT source, words, LEN(words) AS n_words,
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1),
                            i -> ARRAY_TO_STRING(words[i:i+1], ' ')) AS bigrams
      FROM w
    ),
    m AS (
      SELECT source,
             CAST(ROUND(1.0 - CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE)
                        / n_words, 6) AS DECIMAL(10,6)) AS dw,
             CAST(CASE WHEN LEN(bigrams) > 0
                  THEN ROUND(1.0 - CAST(LEN(LIST_DISTINCT(bigrams)) AS DOUBLE)
                             / LEN(bigrams), 6)
                  ELSE 0.0 END AS DECIMAL(10,6)) AS db
      FROM g
    )
    SELECT source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(dw) AS DOUBLE) / COUNT(*), 6) AS mean_dup_word_frac,
           ROUND(CAST(SUM(db) AS DOUBLE) / COUNT(*), 6) AS mean_dup_bigram_frac,
           CAST(SUM(CASE WHEN db > 0.2 OR dw > 0.3 THEN 1 ELSE 0 END)
             AS BIGINT) AS n_repetitive
    FROM m GROUP BY source ORDER BY source
    """,
    tags=("llm", "quality", "repetition", "drift"),
)
def q172_repetition_drift_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition drift per source: q104's Gopher duplicate-word /
    duplicate-bigram fractions rolled up per feed, plus the count of
    docs the repetition filter would drop. A source whose means creep
    up is shipping boilerplate; this is the dashboard row that catches
    it. Per-doc fractions are rounded then decimal-summed (q109
    doctrine) so the per-source means are partitioning-independent;
    the flags compare the SAME rounded values as q104."""
    from ..operators.text import repetition_stats

    docs = load(spark, sf_dir, "documents")
    stats = repetition_stats(F.col("text"))
    m = docs.select(
        "source",
        stats["dup_word_frac"].cast("decimal(10,6)").alias("dw"),
        stats["dup_bigram_frac"].cast("decimal(10,6)").alias("db"),
    )
    return (
        m.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("dw").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_dup_word_frac"
            ),
            F.round(F.sum("db").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_dup_bigram_frac"
            ),
            F.sum(
                F.when((F.col("db") > 0.2) | (F.col("dw") > 0.3), 1).otherwise(0)
            ).alias("n_repetitive"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q173 — contamination drift per source
# ---------------------------------------------------------------------------


@query(
    "q173_contamination_by_source",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    ),
    g AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               AS gate,
             shingles
      FROM sh),
    ev AS (
      SELECT DISTINCT CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) AS h
      FROM (SELECT UNNEST(shingles) AS s FROM g WHERE gate < 16) q),
    c AS (
      SELECT doc_id, CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) AS h
      FROM (SELECT doc_id, UNNEST(shingles) AS s FROM g
            WHERE gate >= 16 AND LEN(shingles) > 0) q),
    perdoc AS (
      SELECT c.doc_id,
             CAST(ROUND(CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
                   AS DOUBLE) / COUNT(*), 6) AS DECIMAL(10,6)) AS ratio,
             CASE WHEN SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) > 0
                  THEN 1 ELSE 0 END AS hit
      FROM c LEFT JOIN ev ON c.h = ev.h
      GROUP BY c.doc_id
    )
    SELECT d.source,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(p.ratio) AS DOUBLE) / COUNT(*), 6)
             AS mean_contamination,
           CAST(SUM(p.hit) AS BIGINT) AS n_contaminated
    FROM perdoc p JOIN documents d ON d.doc_id = p.doc_id
    GROUP BY d.source ORDER BY d.source
    """,
    tags=("llm", "dedup", "decontamination", "drift"),
)
def q173_contamination_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contamination drift per source: q141's per-document eval-overlap
    ratio (md5-gated ~6% eval split, broadcast 60-bit shingle hashes)
    rolled up per feed — mean overlap and the count of any-hit docs.
    The report that tells you WHICH crawler is re-ingesting your eval
    benchmarks. Same broadcast-eval / map-side-aggregate shape as
    q103/q141; per-doc ratios ride the rounded-decimal mean."""
    docs = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    sh = docs.select(
        "doc_id", gate.alias("gate"), shingle_hashes(F.col("text"), 3).alias("hs")
    )
    ev = (
        sh.filter(F.col("gate") < 16)
        .select(F.explode("hs").alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = sh.filter((F.col("gate") >= 16) & (F.size("hs") > 0)).select(
        "doc_id", F.explode("hs").alias("h")
    )
    shared = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    perdoc = (
        corpus.join(F.broadcast(ev), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.round(shared.cast("double") / F.count(F.lit(1)), 6)
            .cast("decimal(10,6)")
            .alias("ratio"),
            F.when(shared > 0, 1).otherwise(0).alias("hit"),
        )
    )
    return (
        perdoc.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("ratio").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_contamination"
            ),
            F.sum("hit").alias("n_contaminated"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q174 — winnowing fingerprint overlap between sources
# ---------------------------------------------------------------------------


@query(
    "q174_winnowing_source_overlap",
    oracle="""
    WITH g AS (
      SELECT doc_id,
             LIST_TRANSFORM(
               RANGE(1, GREATEST(LENGTH(text) - 8 + 1, 0) + 1),
               i -> CAST('0x' || SUBSTR(MD5(SUBSTR(text, CAST(i AS INTEGER), 8)),
                         1, 15) AS BIGINT)
             ) AS gh
      FROM documents WHERE doc_id < 300
    ),
    w AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(gh) - 4 + 1, 0) + 1),
               i -> LIST_MIN(gh[i:i+3])
             )) AS fps
      FROM g
    ),
    sf AS (
      SELECT DISTINCT d.source, f.fp
      FROM w JOIN documents d ON d.doc_id = w.doc_id,
           UNNEST(w.fps) AS f(fp)
    )
    SELECT a.source AS source_x, b.source AS source_y,
           COUNT(*) AS n_shared_fingerprints
    FROM sf a JOIN sf b ON a.fp = b.fp AND a.source < b.source
    GROUP BY 1, 2 ORDER BY source_x, source_y
    """,
    tags=("llm", "text", "fingerprint", "leakage"),
)
def q174_winnowing_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring-level leakage between feeds: winnowing fingerprints
    (q97's MOSS scheme — any shared substring of length >= 11 is
    guaranteed to share a fingerprint) collapsed to DISTINCT
    (source, fingerprint) and self-joined across sources. Complements
    q161: MinHash sees whole-document similarity, winnowing catches a
    shared paragraph inside otherwise-different documents. The distinct
    collapse bounds the join input by unique-fingerprint count, and
    only 8-byte hashes shuffle."""
    from ..operators.text import winnowing_fingerprints

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    fps = winnowing_fingerprints(docs, k=8, window=4)
    sf = (
        fps.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "fingerprint")
        .distinct()
    )
    a = sf.select(F.col("source").alias("source_x"), "fingerprint")
    b = sf.select(F.col("source").alias("source_y"), "fingerprint")
    return (
        a.join(b, "fingerprint")
        .filter(F.col("source_x") < F.col("source_y"))
        .groupBy("source_x", "source_y")
        .agg(F.count(F.lit(1)).alias("n_shared_fingerprints"))
        .orderBy("source_x", "source_y")
    )


# ---------------------------------------------------------------------------
# q175 — exact-duplicate multiplicity histogram
# ---------------------------------------------------------------------------


@query(
    "q175_exact_dup_multiplicity",
    oracle="""
    WITH g AS (
      SELECT MD5(LOWER(TRIM(text))) AS fp, COUNT(*) AS n_copies
      FROM documents GROUP BY 1
    )
    SELECT n_copies, COUNT(*) AS n_groups, n_copies * COUNT(*) AS n_docs
    FROM g GROUP BY n_copies ORDER BY n_copies
    """,
    tags=("llm", "dedup", "exact", "histogram"),
)
def q175_exact_dup_multiplicity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-duplicate multiplicity profile: group documents by
    normalized content hash (q64's fp_normalized) and histogram the
    copy counts — the first corpus-shape question (how much is
    byte-identical mirror mass?) answered before any fuzzy dedup runs.
    Two map-side-combined integer aggregates over 16-byte digests."""
    docs = load(spark, sf_dir, "documents")
    g = (
        docs.select(F.md5(F.lower(F.trim("text"))).alias("fp"))
        .groupBy("fp")
        .agg(F.count(F.lit(1)).alias("n_copies"))
    )
    return (
        g.groupBy("n_copies")
        .agg(F.count(F.lit(1)).alias("n_groups"))
        .select(
            "n_copies",
            "n_groups",
            (F.col("n_copies") * F.col("n_groups")).alias("n_docs"),
        )
        .orderBy("n_copies")
    )


# ---------------------------------------------------------------------------
# q176 — order value deciles
# ---------------------------------------------------------------------------


@query(
    "q176_order_value_deciles",
    oracle="""
    WITH d AS (
      SELECT o_totalprice,
             NTILE(10) OVER (ORDER BY o_totalprice, o_orderkey) AS decile
      FROM orders
    )
    SELECT decile,
           COUNT(*) AS n_orders,
           MIN(o_totalprice) AS min_price,
           MAX(o_totalprice) AS max_price,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE)
             AS total_price
    FROM d GROUP BY decile ORDER BY decile
    """,
    tags=("relational", "window", "decile", "distribution"),
)
def q176_order_value_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-value decile table: equal-population bands of order totals
    with each band's boundaries and mass — the distribution summary a
    pricing or segmentation pass reads (exact-percentile q28's
    banded cousin). NTILE ties break on the key so both engines cut
    identical bands. At scale a global NTILE is one total-order sort —
    acceptable for a report; range-partitioned sort, no driver
    collect."""
    orders = load(spark, sf_dir, "orders")
    d = orders.select(
        "o_totalprice",
        # global-window-ok: order-grain ntile; docstring documents the range-partitioned sort trade
        F.ntile(10).over(W.orderBy("o_totalprice", "o_orderkey")).alias("decile"),
    )
    return (
        d.groupBy("decile")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.min("o_totalprice").alias("min_price"),
            F.max("o_totalprice").alias("max_price"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,2)")), 2)
            .cast("double")
            .alias("total_price"),
        )
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q177 — customer re-order cadence
# ---------------------------------------------------------------------------


@query(
    "q177_customer_order_cadence",
    oracle="""
    WITH g AS (
      SELECT c.c_mktsegment,
             DATE_DIFF('day',
               LAG(o.o_orderdate) OVER (PARTITION BY o.o_custkey
                                        ORDER BY o.o_orderdate, o.o_orderkey),
               o.o_orderdate) AS gap_days
      FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
    )
    SELECT c_mktsegment,
           COUNT(*) AS n_gaps,
           ROUND(CAST(SUM(CAST(gap_days AS DECIMAL(18,0))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_gap_days,
           MIN(gap_days) AS min_gap_days,
           MAX(gap_days) AS max_gap_days
    FROM g WHERE gap_days IS NOT NULL
    GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    tags=("relational", "window", "cadence", "retention"),
)
def q177_customer_order_cadence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-order cadence per market segment: days between a customer's
    consecutive orders (the purchase-frequency half of q153's RFM,
    measured properly with a lag window instead of recency alone).
    The customer-partitioned window shares its shuffle key with every
    other per-customer analysis; integer day gaps make the means
    decimal-exact."""
    orders = load(spark, sf_dir, "orders")
    cust = load(spark, sf_dir, "customer")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_mktsegment",
            F.datediff("o_orderdate", F.lag("o_orderdate").over(w)).alias(
                "gap_days"
            ),
        )
        .filter(F.col("gap_days").isNotNull())
    )
    return (
        g.groupBy("c_mktsegment")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.round(
                F.sum(F.col("gap_days").cast("decimal(18,0)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_gap_days"),
            F.min("gap_days").alias("min_gap_days"),
            F.max("gap_days").alias("max_gap_days"),
        )
        .orderBy("c_mktsegment")
    )


# ---------------------------------------------------------------------------
# q178 — supplier part coverage by nation
# ---------------------------------------------------------------------------


@query(
    "q178_supplier_part_coverage",
    oracle="""
    WITH tot AS (SELECT COUNT(*) AS n_parts FROM part),
    np AS (
      SELECT DISTINCT n.n_name, l.l_partkey
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n ON n.n_nationkey = s.s_nationkey
    )
    SELECT n_name,
           COUNT(*) AS n_distinct_parts,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MIN(tot.n_parts), 6) AS coverage
    FROM np CROSS JOIN tot
    GROUP BY n_name ORDER BY n_name
    """,
    tags=("relational", "join", "coverage", "audit"),
)
def q178_supplier_part_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Assortment coverage: what fraction of the part catalog each
    nation's suppliers have actually shipped (lineitem as the
    supplier-part bridge — the fixtures carry no partsupp table, the
    q131-q138 doctrine). Distinct-keys-first: (nation, partkey)
    collapses BEFORE counting (q149's shape), supplier/nation broadcast,
    and the catalog size is a one-row broadcast scalar."""
    li = load(spark, sf_dir, "lineitem")
    sup = load(spark, sf_dir, "supplier")
    nat = load(spark, sf_dir, "nation")
    part = load(spark, sf_dir, "part")
    tot = part.agg(F.count(F.lit(1)).alias("n_parts"))
    np_ = (
        li.join(F.broadcast(sup), li.l_suppkey == sup.s_suppkey)
        .join(F.broadcast(nat), sup.s_nationkey == nat.n_nationkey)
        .select("n_name", "l_partkey")
        .distinct()
    )
    return (
        np_.crossJoin(F.broadcast(tot))
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_distinct_parts"),
            F.round(
                F.count(F.lit(1)).cast("double") / F.min("n_parts"), 6
            ).alias("coverage"),
        )
        .orderBy("n_name")
    )


# ---------------------------------------------------------------------------
# q179 — token cost by split (BPE-ish estimator)
# ---------------------------------------------------------------------------


@query(
    "q179_token_cost_by_split",
    oracle="""
    WITH gated AS (
      SELECT lang, text,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
                  AS INTEGER) AS gate
      FROM documents
    ),
    t AS (
      SELECT CASE WHEN gate < 230 THEN 'train'
                  WHEN gate < 243 THEN 'val'
                  ELSE 'test' END AS split,
             lang,
             LEN(STRING_SPLIT(text, ' ')) AS ws_tokens,
             LIST_SUM(LIST_TRANSFORM(
               REGEXP_SPLIT_TO_ARRAY(text, '[^A-Za-z0-9]+'),
               w -> GREATEST(CAST(CEIL(LENGTH(w) / 4) AS BIGINT), 1)
             )) AS bpe_tokens
      FROM gated
    )
    SELECT split, lang,
           COUNT(*) AS n_docs,
           CAST(SUM(ws_tokens) AS BIGINT) AS total_ws_tokens,
           CAST(SUM(bpe_tokens) AS BIGINT) AS total_bpe_tokens
    FROM t GROUP BY split, lang ORDER BY split, lang
    """,
    tags=("llm", "tokens", "split", "budget"),
)
def q179_token_cost_by_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget per (split, lang): whitespace tokens alongside the
    BPE-ish estimate (word-piece splits on non-alphanumeric boundaries
    plus a length/4 term — the cheap proxy used when no tokenizer model
    ships with the engine), bucketed by q105's deterministic md5 split
    gate. This is the table a training-cost forecast reads. Map-only
    scoring fused into the scan; the aggregate is split x lang
    sized."""
    from ..operators.text import bpe_ish_token_count

    docs = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2),
        16,
        10,
    ).cast("int")
    t = docs.select(
        F.when(gate < 230, "train").when(gate < 243, "val").otherwise("test").alias(
            "split"
        ),
        "lang",
        F.size(tokens(F.col("text"))).alias("ws_tokens"),
        bpe_ish_token_count(F.col("text")).alias("bpe_tokens"),
    )
    return (
        t.groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("ws_tokens").cast("bigint").alias("total_ws_tokens"),
            F.sum("bpe_tokens").cast("bigint").alias("total_bpe_tokens"),
        )
        .orderBy("split", "lang")
    )


# ---------------------------------------------------------------------------
# q180 — hourly load profile
# ---------------------------------------------------------------------------


@query(
    "q180_hourly_load_profile",
    oracle="""
    WITH h AS (
      SELECT event_type, EXTRACT(HOUR FROM ts) AS hour_of_day FROM events
    ),
    tot AS (SELECT event_type, COUNT(*) AS total FROM h GROUP BY event_type)
    SELECT h.event_type AS event_type,
           CAST(h.hour_of_day AS INTEGER) AS hour_of_day,
           COUNT(*) AS n_events,
           ROUND(CAST(COUNT(*) AS DOUBLE) / MIN(t.total), 6) AS share
    FROM h JOIN tot t ON t.event_type = h.event_type
    GROUP BY h.event_type, h.hour_of_day
    ORDER BY h.event_type, hour_of_day
    """,
    tags=("streaming", "events", "profile", "capacity"),
)
def q180_hourly_load_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diurnal load profile: event volume and within-type share per
    hour of day (UTC — the session timezone the engine pins) — the
    capacity-planning curve that sizes streaming executors and picks
    maintenance windows. Two tiny aggregates; the share denominator
    rides a broadcast."""
    ev = load(spark, sf_dir, "events")
    h = ev.select("event_type", F.hour("ts").alias("hour_of_day"))
    tot = h.groupBy("event_type").agg(F.count(F.lit(1)).alias("total"))
    return (
        h.join(F.broadcast(tot), "event_type")
        .groupBy("event_type", "hour_of_day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.count(F.lit(1)).cast("double") / F.min("total"), 6).alias(
                "share"
            ),
        )
        .orderBy("event_type", "hour_of_day")
    )


# ---------------------------------------------------------------------------
# q181 — null-rate audit
# ---------------------------------------------------------------------------

_NULL_AUDIT = (
    ("events", "value"),
    ("events", "props"),
    ("events", "event_type"),
    ("documents", "text"),
    ("documents", "lang"),
    ("documents", "source"),
)


@query(
    "q181_null_rate_audit",
    oracle=" UNION ALL ".join(
        f"""
    SELECT '{t}' AS table_name, '{c}' AS column_name,
           COUNT(*) AS n_rows,
           CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nulls,
           ROUND(CAST(SUM(CASE WHEN {c} IS NULL THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS null_rate
    FROM {t}"""
        for t, c in _NULL_AUDIT
    )
    + " ORDER BY table_name, column_name",
    tags=("audit", "quality", "nulls"),
)
def q181_null_rate_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-rate audit across the columns a pipeline depends on — the
    generalization of the reference's arity/schema gate
    (dags/Final_app.py:52-56) from one daily row to column-level
    completeness contracts. Each table contributes one
    map-side-combined aggregate; the union is rows-per-column sized.
    A null_rate that moves between snapshots is an upstream schema or
    extraction break caught before training."""
    frames = []
    for t, c in _NULL_AUDIT:
        df = load(spark, sf_dir, t)
        n_nulls = F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
        frames.append(
            df.agg(
                F.lit(t).alias("table_name"),
                F.lit(c).alias("column_name"),
                F.count(F.lit(1)).alias("n_rows"),
                n_nulls.alias("n_nulls"),
                F.round(n_nulls.cast("double") / F.count(F.lit(1)), 6).alias(
                    "null_rate"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# q182 — dedup cascade funnel
# ---------------------------------------------------------------------------


@query(
    "q182_dedup_cascade_report",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    mh_drops AS (SELECT DISTINCT doc_id_b AS doc_id FROM pairs),
    pf AS (
      SELECT doc_id, text,
             MIN(doc_id) OVER (PARTITION BY lang, MD5(SUBSTR(text, 1, 50)))
               AS kept_doc_id
      FROM documents
    )
    SELECT 'stage0_raw' AS stage, COUNT(*) AS n_docs,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS n_tokens
    FROM documents
    UNION ALL
    SELECT 'stage1_prefix_kept', COUNT(*),
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
    FROM pf WHERE doc_id = kept_doc_id
    UNION ALL
    SELECT 'stage2_minhash_kept', COUNT(*),
           CAST(SUM(LEN(STRING_SPLIT(p.text, ' '))) AS BIGINT)
    FROM pf p LEFT JOIN mh_drops m ON m.doc_id = p.doc_id
    WHERE p.doc_id = p.kept_doc_id AND m.doc_id IS NULL
    ORDER BY stage
    """,
    tags=("llm", "dedup", "cascade", "funnel"),
)
def q182_dedup_cascade_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The tiered-dedup funnel a production corpus pass reports: raw
    corpus -> after the cheap prefix collapse (q124 rule) -> after
    MinHash near-dup drops (q155 keep-list) applied to the survivors.
    Doc and token mass at each stage — the numbers that justify each
    tier's cost (the cheap pass runs first precisely to shrink what
    the expensive pass sees). Keep decisions are digest-keyed
    everywhere; text is token-counted map-side only."""
    docs = load(spark, sf_dir, "documents")
    ntok = F.size(tokens(F.col("text"))).cast("bigint")
    pf = docs.select(
        "doc_id",
        ntok.alias("_tok"),
        (
            F.col("doc_id")
            == F.min("doc_id").over(
                W.partitionBy("lang", F.md5(F.substring("text", 1, 50)))
            )
        ).alias("_pfkeep"),
    )
    mh_drops = (
        minhash_near_duplicates(docs, jaccard_threshold=0.5)
        .select(F.col("doc_id_b").alias("doc_id"))
        .distinct()
        .withColumn("_mhdrop", F.lit(1))
    )
    flagged = pf.join(mh_drops, "doc_id", "left")
    stage0 = flagged.agg(
        F.lit("stage0_raw").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
    )
    stage1 = flagged.filter(F.col("_pfkeep")).agg(
        F.lit("stage1_prefix_kept").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
    )
    stage2 = flagged.filter(F.col("_pfkeep") & F.col("_mhdrop").isNull()).agg(
        F.lit("stage2_minhash_kept").alias("stage"),
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("_tok").alias("n_tokens"),
    )
    return stage0.unionByName(stage1).unionByName(stage2).orderBy("stage")


# ---------------------------------------------------------------------------
# q183 — character-class profile per language
# ---------------------------------------------------------------------------


@query(
    "q183_charclass_profile",
    oracle="""
    WITH m AS (
      SELECT lang,
             CAST(ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^0-9]', '', 'g'))
                  AS DOUBLE) / LENGTH(text), 6) AS DECIMAL(10,6)) AS digit_frac,
             CAST(ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[^A-Z]', '', 'g'))
                  AS DOUBLE) / LENGTH(text), 6) AS DECIMAL(10,6)) AS upper_frac,
             CAST(ROUND(CAST(LENGTH(REGEXP_REPLACE(text, '[A-Za-z0-9 ]', '', 'g'))
                  AS DOUBLE) / LENGTH(text), 6) AS DECIMAL(10,6)) AS other_frac
      FROM documents WHERE LENGTH(text) > 0
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           ROUND(CAST(SUM(digit_frac) AS DOUBLE) / COUNT(*), 6)
             AS mean_digit_frac,
           ROUND(CAST(SUM(upper_frac) AS DOUBLE) / COUNT(*), 6)
             AS mean_upper_frac,
           ROUND(CAST(SUM(other_frac) AS DOUBLE) / COUNT(*), 6)
             AS mean_other_frac
    FROM m GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "text", "quality", "profile"),
)
def q183_charclass_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-class profile per language: digit / uppercase /
    non-alphanumeric fractions of each document, averaged per claimed
    language — the cheap orthography fingerprint that flags mislabeled
    or machine-generated segments (tables of numbers, shouting spam,
    non-Latin text under a Latin lang tag) without any classifier.
    Map-only regexp counting fused into the scan; rounded-decimal
    means keep the report partitioning-independent."""
    docs = load(spark, sf_dir, "documents").filter(F.length("text") > 0)

    def frac(pattern: str):
        return F.round(
            F.length(F.regexp_replace(F.col("text"), pattern, "")).cast("double")
            / F.length("text"),
            6,
        ).cast("decimal(10,6)")

    m = docs.select(
        "lang",
        frac("[^0-9]").alias("digit_frac"),
        frac("[^A-Z]").alias("upper_frac"),
        frac("[A-Za-z0-9 ]").alias("other_frac"),
    )
    return (
        m.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.round(F.sum("digit_frac").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_digit_frac"
            ),
            F.round(F.sum("upper_frac").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_upper_frac"
            ),
            F.round(F.sum("other_frac").cast("double") / F.count(F.lit(1)), 6).alias(
                "mean_other_frac"
            ),
        )
        .orderBy("lang")
    )
