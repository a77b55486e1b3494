"""LLM-ops wave 7 (PROMOTED mid-round 6): incremental-ingest
membership screening, dedup/LSH parameter tuning audits, corpus budget
planning, and embedding-space hygiene — the third ring of curation
machinery around waves 1-6.

Output-hardening doctrine (the round-6 HUGEINT lesson, applied from
birth): every integer aggregate that DuckDB would return as HUGEINT is
CAST to BIGINT in the oracle; ratios are ROUND(int/int, 6) doubles (the
pattern the 175-green catalog proves portable); LN outputs are
quantized to DECIMAL before further arithmetic; integer division uses
`//` / `div` (both truncating) with nonnegative operands only.

Reference parity: the reference's one daily DAG validates, loads
idempotently, and alerts (dags/Final_app.py:79-149,
dags/insert_data.py:20-104); these entries generalize its "is this day
already loaded?" gate and its shape-validation contract to corpus-scale
ingest screening and pipeline-parameter tuning.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates, word_shingles
from ..operators.membership import bloom_bitmap, bloom_probe
from ..operators.similarity import (
    as_double,
    assign_argmax_cosine,
    cosine,
    kmeans_centroids,
)
from ..operators.text import en_stopword_ratio, repetition_stats, tokens
from ..sources.tables import load
from .llm_ops import (
    _SQL_SHINGLES3,
    _sql_band_condition,
    _sql_cosine,
    _sql_dot,
    _sql_hex60,
    _sql_minhash_pairs,
    _sql_minhash_sig_cte,
    _sql_mix60,
)
from .llm_ops4 import _sql_lloyd1_vec_cte
from .registry import query

# ---------------------------------------------------------------------------
# q204 — LSH verify-threshold sweep
# ---------------------------------------------------------------------------


@query(
    "q204_lsh_threshold_sweep",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.0)},
    t AS (SELECT i * 10 AS t_pct FROM (SELECT UNNEST(RANGE(5, 10)) AS i) r)
    SELECT t.t_pct,
           CAST(COUNT(p.doc_id_a) AS BIGINT) AS n_pairs_ge
    FROM t LEFT JOIN pairs p ON p.jaccard >= t.t_pct / 100.0
    GROUP BY t.t_pct ORDER BY t_pct
    """,
    tags=("llm", "dedup", "minhash", "tuning"),
)
def q204_lsh_threshold_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verify-threshold sweep: how many candidate pairs survive exact-
    Jaccard verification at each working threshold 0.5..0.9 — the
    S-curve evidence that picks the production cutoff (too low keeps
    boilerplate twins apart; too high drops template families). Runs
    q68's banding pipeline ONCE with the verify gate open, then reuses
    the tiny verified-pair list against a broadcast 5-row threshold
    spine, so the sweep costs one LSH pass regardless of how many
    thresholds are probed — at 100 TB you cannot afford one pass per
    candidate threshold. Jaccard values are the bit-identical rounded
    doubles both engines already agree on (q159/q161)."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.0)
    t = spark.range(5, 10).select((F.col("id") * 10).alias("t_pct"))
    return (
        t.join(pairs, F.col("jaccard") >= F.col("t_pct") / 100.0, "left")
        .groupBy("t_pct")
        .agg(F.count("doc_id_a").alias("n_pairs_ge"))
        .orderBy("t_pct")
    )


# ---------------------------------------------------------------------------
# q205 — shingle novelty decay over ingestion order
# ---------------------------------------------------------------------------


@query(
    "q205_novelty_decay",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    fs AS (
      SELECT s, MIN(doc_id) AS first_doc
      FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh) q
      GROUP BY s
    ),
    mx AS (SELECT MAX(doc_id) AS m FROM documents)
    SELECT CAST(LEAST(9, (fs.first_doc * 10) // (mx.m + 1)) AS BIGINT) AS decile,
           CAST(COUNT(*) AS BIGINT) AS n_new_shingles
    FROM fs CROSS JOIN mx
    GROUP BY 1 ORDER BY decile
    """,
    tags=("llm", "text", "novelty", "crawl"),
)
def q205_novelty_decay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Novelty decay: how many 3-word shingles are seen for the FIRST
    time in each tenth of the ingestion order (doc_id as crawl time).
    A healthy crawl keeps finding new content; a saturating curve —
    late deciles contributing almost no first-seen shingles — says the
    crawler is re-fetching what it already has and the marginal
    token is a duplicate (the q182 funnel's leading indicator).
    Shingle first-occurrence is one groupBy over exploded shingles
    (strings stay map-side until the digest-sized aggregate); the
    decile is exact integer arithmetic on both engines (`//` / `div`,
    nonnegative ids)."""
    docs = load(spark, sf_dir, "documents")
    fs = (
        docs.select("doc_id", F.explode(word_shingles(F.col("text"), 3)).alias("s"))
        .groupBy("s")
        .agg(F.min("doc_id").alias("first_doc"))
    )
    mx = docs.agg(F.max("doc_id").alias("m"))
    return (
        fs.crossJoin(F.broadcast(mx))
        .select(
            F.least(F.lit(9), F.expr("first_doc * 10 div (m + 1)"))
            .cast("bigint")
            .alias("decile")
        )
        .groupBy("decile")
        .agg(F.count(F.lit(1)).alias("n_new_shingles"))
        .orderBy("decile")
    )


# ---------------------------------------------------------------------------
# q206 — quality-gate funnel per source
# ---------------------------------------------------------------------------

_SQL_STOP10 = (
    "('the', 'a', 'of', 'to', 'and', 'in', 'is', 'it', 'that', 'for')"
)


@query(
    "q206_quality_gate_funnel",
    oracle=f"""
    WITH t AS (
      SELECT source,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok,
             CAST(ROUND(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                    x -> x IN {_SQL_STOP10})) AS DOUBLE)
                  / LEN(STRING_SPLIT(text, ' ')), 6) AS DECIMAL(10,6)) AS stop6,
             CAST(ROUND(1.0 - CAST(LEN(LIST_DISTINCT(STRING_SPLIT(text, ' ')))
                        AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')), 6)
                  AS DECIMAL(10,6)) AS dw
      FROM documents
    ),
    g AS (
      SELECT source,
             CASE WHEN n_tok BETWEEN 10 AND 1000 THEN 1 ELSE 0 END AS p_len,
             CASE WHEN stop6 >= 0.01 THEN 1 ELSE 0 END AS p_stop,
             CASE WHEN dw <= 0.3 THEN 1 ELSE 0 END AS p_rep
      FROM t
    )
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(p_len) AS BIGINT) AS n_pass_length,
           CAST(SUM(p_stop) AS BIGINT) AS n_pass_stopword,
           CAST(SUM(p_rep) AS BIGINT) AS n_pass_repetition,
           CAST(SUM(p_len * p_stop * p_rep) AS BIGINT) AS n_pass_all,
           ROUND(CAST(SUM(p_len * p_stop * p_rep) AS DOUBLE) / COUNT(*), 6)
             AS pass_rate
    FROM g GROUP BY source ORDER BY source
    """,
    tags=("llm", "quality", "funnel", "audit"),
)
def q206_quality_gate_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-gate funnel per source: how many documents pass each of
    the three cheap gates (length band, stopword evidence, repetition)
    and all three together — the per-feed yield report that prices a
    crawl (a source whose pass_rate collapses is not worth fetching).
    All three gates are the SAME rounded-decimal expressions the drift
    dashboards use (q156 stopword, q172 repetition), fused into one
    map-only scan pass per the q77 composition doctrine; only
    per-source counters leave the executors."""
    docs = load(spark, sf_dir, "documents")
    n_tok = F.size(tokens(F.col("text")))
    stats = repetition_stats(F.col("text"))
    t = docs.select(
        "source",
        n_tok.alias("n_tok"),
        F.round(en_stopword_ratio(F.col("text")), 6)
        .cast("decimal(10,6)")
        .alias("stop6"),
        stats["dup_word_frac"].cast("decimal(10,6)").alias("dw"),
    )
    g = t.select(
        "source",
        F.when(F.col("n_tok").between(10, 1000), 1).otherwise(0).alias("p_len"),
        F.when(F.col("stop6") >= 0.01, 1).otherwise(0).alias("p_stop"),
        F.when(F.col("dw") <= 0.3, 1).otherwise(0).alias("p_rep"),
    )
    p_all = F.col("p_len") * F.col("p_stop") * F.col("p_rep")
    return (
        g.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("p_len").alias("n_pass_length"),
            F.sum("p_stop").alias("n_pass_stopword"),
            F.sum("p_rep").alias("n_pass_repetition"),
            F.sum(p_all).alias("n_pass_all"),
            F.round(F.sum(p_all).cast("double") / F.count(F.lit(1)), 6).alias(
                "pass_rate"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q207 — content-fingerprint collision audit
# ---------------------------------------------------------------------------


@query(
    "q207_fingerprint_collision_audit",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct_texts,
           CAST(COUNT(DISTINCT {_sql_hex60('MD5(text)', 1)}) AS BIGINT)
             AS n_distinct_fingerprints,
           CAST(COUNT(DISTINCT text)
                - COUNT(DISTINCT {_sql_hex60('MD5(text)', 1)}) AS BIGINT)
             AS n_fingerprint_collisions
    FROM documents
    """,
    tags=("llm", "dedup", "hash", "audit"),
)
def q207_fingerprint_collision_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fingerprint-collision audit: distinct documents vs distinct
    60-bit content fingerprints (the digest every dedup tier keys on).
    The gap is the number of UNRELATED documents the digest would
    silently merge — expected 0 far past 10^9 docs (birthday bound at
    60 bits), and this entry is the standing proof; a nonzero value
    after a hash-family change is the canary that digests got
    truncated. One scan, three distinct-aggregates, one row out."""
    docs = load(spark, sf_dir, "documents")
    fp = F.conv(F.substring(F.md5(F.col("text")), 1, 15), 16, 10).cast("long")
    return docs.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct(F.col("text")).alias("n_distinct_texts"),
        F.countDistinct(fp).alias("n_distinct_fingerprints"),
        (F.countDistinct(F.col("text")) - F.countDistinct(fp)).alias(
            "n_fingerprint_collisions"
        ),
    )


# ---------------------------------------------------------------------------
# q208 — Bloom-screened incremental ingest
# ---------------------------------------------------------------------------

_BLOOM_M = 65536
_BLOOM_K = 4


def _sql_bloom_positions(src: str, cols: str) -> str:
    """UNION ALL of the k seed-mixed bit positions per digest row —
    the DuckDB twin of operators.membership._positions."""
    parts = []
    for j in range(_BLOOM_K):
        mix = _sql_mix60(_sql_hex60("dg", 1), _sql_hex60("dg", 17), j)
        parts.append(f"SELECT {cols} ({mix}) % {_BLOOM_M} AS pos FROM {src}")
    return " UNION ALL ".join(parts)


@query(
    "q208_bloom_incremental_screen",
    oracle=f"""
    WITH base AS (
      SELECT doc_id, MD5(text) AS dg,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               AS gate
      FROM documents
    ),
    old AS (SELECT dg FROM base WHERE gate >= 16),
    new AS (SELECT doc_id, dg FROM base WHERE gate < 16),
    bm AS (
      SELECT pos // 60 AS word_idx,
             BIT_OR(CAST(1 AS BIGINT) << CAST(pos % 60 AS INTEGER)) AS bits
      FROM ({_sql_bloom_positions('old', '')}) q
      GROUP BY 1
    ),
    probe AS (
      SELECT doc_id, pos // 60 AS word_idx, CAST(pos % 60 AS INTEGER) AS bit
      FROM ({_sql_bloom_positions('new', 'doc_id,')}) q
    ),
    hits AS (
      SELECT p.doc_id,
             MIN(CASE WHEN b.bits IS NOT NULL
                       AND ((b.bits >> p.bit) & 1) = 1 THEN 1 ELSE 0 END)
               AS bloom_hit
      FROM probe p LEFT JOIN bm b ON b.word_idx = p.word_idx
      GROUP BY p.doc_id
    ),
    truth AS (
      SELECT n.doc_id,
             CASE WHEN o.dg IS NOT NULL THEN 1 ELSE 0 END AS is_dup
      FROM new n LEFT JOIN (SELECT DISTINCT dg FROM old) o ON o.dg = n.dg
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_new,
           CAST(SUM(h.bloom_hit) AS BIGINT) AS n_bloom_hits,
           CAST(SUM(t.is_dup) AS BIGINT) AS n_true_dups,
           CAST(SUM(h.bloom_hit) - SUM(t.is_dup) AS BIGINT)
             AS n_false_positives,
           ROUND(CAST(SUM(h.bloom_hit) - SUM(t.is_dup) AS DOUBLE)
                 / (COUNT(*) - SUM(t.is_dup)), 6) AS observed_fp_rate
    FROM hits h JOIN truth t ON t.doc_id = h.doc_id
    """,
    tags=("llm", "dedup", "bloom", "incremental"),
)
def q208_bloom_incremental_screen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-ingest Bloom screen (operators/membership.py): the
    corpus is split by a deterministic md5 gate into the standing store
    (~94%) and a 'new shard' (~6%); the store's content digests build
    an m=65536-bit / k=4 bitmap, every new document probes it, and the
    screen is audited against exact digest truth: hits, true dups,
    false positives, observed FP rate. This is THE 100 TB ingest path:
    the bitmap is a broadcastable sketch of billions of digests (1 GiB
    at m=2^33), 'definitely new' documents skip the dedup ladder
    entirely, and only bloom-hits pay the exact verify join. Bit
    positions are the md5-derived 60-bit mixes the oracle replays
    bit-for-bit; no false negatives by construction (asserted by
    n_true_dups <= n_bloom_hits in tests)."""
    docs = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    base = docs.select("doc_id", "text", gate.alias("gate"))
    old = base.filter(F.col("gate") >= 16)
    new = base.filter(F.col("gate") < 16)
    bm = bloom_bitmap(old, m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    hits = bloom_probe(new, bm, m_bits=_BLOOM_M, k_hashes=_BLOOM_K)
    old_dg = old.select(F.md5("text").alias("dg")).distinct().withColumn(
        "_dup", F.lit(1)
    )
    truth = (
        new.select("doc_id", F.md5("text").alias("dg"))
        .join(old_dg, "dg", "left")
        .select("doc_id", F.coalesce(F.col("_dup"), F.lit(0)).alias("is_dup"))
    )
    j = hits.join(truth, "doc_id")
    fp = F.sum("bloom_hit") - F.sum("is_dup")
    return j.agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum("bloom_hit").alias("n_bloom_hits"),
        F.sum("is_dup").alias("n_true_dups"),
        fp.alias("n_false_positives"),
        F.round(
            fp.cast("double") / (F.count(F.lit(1)) - F.sum("is_dup")), 6
        ).alias("observed_fp_rate"),
    )


# ---------------------------------------------------------------------------
# q209 — MinHash banding-parameter sensitivity
# ---------------------------------------------------------------------------


@query(
    "q209_minhash_param_sensitivity",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    hx AS ({_sql_minhash_sig_cte(8)}),
    cand4 AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             ROUND(CAST(LEN(LIST_INTERSECT(a.xs, b.xs)) AS DOUBLE)
                   / (LEN(a.xs) + LEN(b.xs) - LEN(LIST_INTERSECT(a.xs, b.xs))),
                   6) AS jaccard
      FROM hx a JOIN hx b
        ON a.doc_id < b.doc_id AND {_sql_band_condition(8, 4)}
    ),
    cand2 AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             ROUND(CAST(LEN(LIST_INTERSECT(a.xs, b.xs)) AS DOUBLE)
                   / (LEN(a.xs) + LEN(b.xs) - LEN(LIST_INTERSECT(a.xs, b.xs))),
                   6) AS jaccard
      FROM hx a JOIN hx b
        ON a.doc_id < b.doc_id AND {_sql_band_condition(8, 2)}
    )
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM cand4) AS n_cand_4band,
           (SELECT CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                   AS BIGINT) FROM cand4) AS n_verified_4band,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM cand2) AS n_cand_2band,
           (SELECT CAST(SUM(CASE WHEN jaccard >= 0.5 THEN 1 ELSE 0 END)
                   AS BIGINT) FROM cand2) AS n_verified_2band
    """,
    tags=("llm", "dedup", "minhash", "tuning"),
)
def q209_minhash_param_sensitivity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-parameter sensitivity: the SAME 8-hash signatures banded
    two ways — 4 bands x 2 rows (the production recall-leaning split)
    vs 2 bands x 4 rows (precision-leaning) — candidate and verified
    counts side by side. With the S-curve threshold at (1/b)^(1/r),
    this is the measured evidence for choosing b x r at the working
    Jaccard; re-banding reuses the signatures, so the sweep costs two
    bucket joins, not two signature builds (at 100 TB the signature
    pass dominates). Null signatures (zero-shingle docs) drop on both
    sides as in q68."""
    from ..operators.dedup import minhash_signature_table

    docs = load(spark, sf_dir, "documents")
    sig = minhash_signature_table(docs).persist()
    c4 = minhash_near_duplicates(docs, bands=4, jaccard_threshold=0.0, signatures=sig)
    c2 = minhash_near_duplicates(docs, bands=2, jaccard_threshold=0.0, signatures=sig)
    a4 = c4.agg(
        F.count(F.lit(1)).alias("n_cand_4band"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).alias(
            "n_verified_4band"
        ),
    )
    a2 = c2.agg(
        F.count(F.lit(1)).alias("n_cand_2band"),
        F.sum(F.when(F.col("jaccard") >= 0.5, 1).otherwise(0)).alias(
            "n_verified_2band"
        ),
    )
    return a4.crossJoin(a2)


# ---------------------------------------------------------------------------
# q210 — embedding norm profile per source
# ---------------------------------------------------------------------------


@query(
    "q210_embedding_norm_profile",
    oracle=f"""
    WITH n AS (
      SELECT d.source,
             ROUND(SQRT({_sql_dot('e.embedding', 'e.embedding')}), 6) AS nrm
      FROM embeddings e JOIN documents d ON d.doc_id = e.vec_id
    )
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_vecs,
           ROUND(CAST(SUM(CAST(nrm AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 6)
             AS mean_norm,
           ROUND(MIN(nrm), 6) AS min_norm,
           ROUND(MAX(nrm), 6) AS max_norm
    FROM n GROUP BY source ORDER BY source
    """,
    tags=("llm", "embedding", "norm", "audit"),
)
def q210_embedding_norm_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding L2-norm profile per source: count, mean, min, max of
    vector norms for every feed's documents. Norm drift per source is
    the cheapest encoder-regression alarm there is — a feed whose
    norms shift after a model update will mis-rank in every cosine
    consumer (q71-q76) even when directions look fine. The norm is the
    same left-associated dot-product chain both engines already agree
    on bit-for-bit (q73 doctrine); per-vector norms are rounded then
    decimal-summed so the per-source mean is partitioning-independent
    (q109 doctrine). Map-only scan + one tiny aggregate."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    e = as_double(F.col("embedding"))
    nrm = F.round(
        F.sqrt(F.aggregate(F.zip_with(e, e, lambda a, b: a * b), F.lit(0.0), lambda s, x: s + x)),
        6,
    )
    n = emb.join(docs, "vec_id").select("source", nrm.alias("nrm"))
    return (
        n.groupBy("source")
        .agg(
            F.count(F.lit(1)).alias("n_vecs"),
            F.round(
                F.sum(F.col("nrm").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                6,
            ).alias("mean_norm"),
            F.round(F.min("nrm"), 6).alias("min_norm"),
            F.round(F.max("nrm"), 6).alias("max_norm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q211 — cluster source purity
# ---------------------------------------------------------------------------


@query(
    "q211_cluster_source_purity",
    oracle=f"""
    WITH {_sql_lloyd1_vec_cte(8)},
    assign AS (
      SELECT e.vec_id, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'm.ce')} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN m1 m
    ),
    cells AS (SELECT vec_id, cid FROM assign WHERE rn = 1),
    cs AS (
      SELECT c.cid, d.source, COUNT(*) AS cnt
      FROM cells c JOIN documents d ON d.doc_id = c.vec_id
      GROUP BY 1, 2
    ),
    ranked AS (
      SELECT cid, source, cnt,
             SUM(cnt) OVER (PARTITION BY cid) AS total,
             ROW_NUMBER() OVER (PARTITION BY cid
                                ORDER BY cnt DESC, source) AS rn
      FROM cs
    )
    SELECT cid AS centroid_id,
           CAST(total AS BIGINT) AS n_vecs,
           CAST((SELECT COUNT(*) FROM cs x WHERE x.cid = ranked.cid) AS BIGINT)
             AS n_sources,
           source AS top_source,
           CAST(cnt AS BIGINT) AS top_count,
           ROUND(CAST(cnt AS DOUBLE) / total, 6) AS top_share
    FROM ranked WHERE rn = 1 ORDER BY centroid_id
    """,
    tags=("llm", "embedding", "kmeans", "purity"),
)
def q211_cluster_source_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster source purity: q154's deterministic 8-cell k-means
    partition of the embedding space, labeled by each cell's dominant
    document source. High purity means the embedding space is just
    re-discovering feed boundaries (the encoder memorized provenance,
    not content — bad for dedup transfer); low purity with tight cells
    means genuine topical structure. Same broadcast-centroid argmax
    assignment as q154 (map-only over the corpus); everything after is
    id-sized aggregates and one 8-row window."""
    emb = load(spark, sf_dir, "embeddings")
    docs = load(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "source"
    )
    cents = kmeans_centroids(emb, n_centroids=8, n_iterations=1)
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("_e"))
    # map-side argmax fold (assign_argmax_cosine) — no (n x 8) shuffle
    cells = assign_argmax_cosine(vecs, "_e", cents).select(
        "vec_id", "centroid_id"
    )
    cs = (
        cells.join(docs, "vec_id")
        .groupBy("centroid_id", "source")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    wc = W.partitionBy("centroid_id")
    ranked = cs.select(
        "centroid_id",
        "source",
        "cnt",
        F.sum("cnt").over(wc).alias("total"),
        F.count(F.lit(1)).over(wc).alias("n_sources"),
        F.row_number()
        .over(W.partitionBy("centroid_id").orderBy(F.desc("cnt"), F.asc("source")))
        .alias("rn"),
    )
    return (
        ranked.filter(F.col("rn") == 1)
        .select(
            "centroid_id",
            F.col("total").cast("bigint").alias("n_vecs"),
            F.col("n_sources").cast("bigint").alias("n_sources"),
            F.col("source").alias("top_source"),
            F.col("cnt").cast("bigint").alias("top_count"),
            F.round(F.col("cnt").cast("double") / F.col("total"), 6).alias(
                "top_share"
            ),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# q212 — mixture epoch plan
# ---------------------------------------------------------------------------


@query(
    "q212_mixture_epoch_plan",
    oracle="""
    WITH avail AS (
      SELECT lang,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT)
               AS available_tokens
      FROM documents GROUP BY lang
    ),
    k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_langs FROM avail)
    SELECT a.lang,
           a.available_tokens,
           CAST(1000000 // k.n_langs AS BIGINT) AS target_tokens,
           CAST(((1000000 // k.n_langs) * 1000000) // a.available_tokens
                AS BIGINT) AS epochs_ppm
    FROM avail a CROSS JOIN k ORDER BY a.lang
    """,
    tags=("llm", "mixture", "planning"),
)
def q212_mixture_epoch_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture epoch plan: for a uniform-over-languages 1M-token
    training budget, how many tokens each language must contribute and
    the repeat factor (epochs, in ppm) its available mass implies —
    epochs_ppm > 1,000,000 means that language repeats (the scarce-
    language up-sampling every mixture recipe ends up doing), far
    below means it is heavily down-sampled. The plan is a two-row
    pipeline: per-lang token mass (map-side sums) crossed with one
    scalar, all in exact integer arithmetic (`//` / `div`) so both
    engines agree to the last ppm; q101's gates consume the result."""
    docs = load(spark, sf_dir, "documents")
    avail = (
        docs.select("lang", F.size(tokens(F.col("text"))).alias("_t"))
        .groupBy("lang")
        .agg(F.sum("_t").cast("bigint").alias("available_tokens"))
    )
    k = avail.agg(F.count(F.lit(1)).cast("bigint").alias("n_langs"))
    return (
        avail.crossJoin(F.broadcast(k))
        .select(
            "lang",
            "available_tokens",
            F.expr("1000000 div n_langs").cast("bigint").alias("target_tokens"),
            F.expr("((1000000 div n_langs) * 1000000) div available_tokens")
            .cast("bigint")
            .alias("epochs_ppm"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# q213 — dedup priority ranking
# ---------------------------------------------------------------------------


@query(
    "q213_dedup_priority",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    deg AS (
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_id_a AS doc_id FROM pairs
        UNION ALL
        SELECT doc_id_b AS doc_id FROM pairs
      ) q GROUP BY doc_id
    )
    SELECT d.doc_id, d.source,
           CAST(COALESCE(g.degree, 0) AS BIGINT) AS degree,
           CAST(LEN(STRING_SPLIT(d.text, ' ')) AS BIGINT) AS n_tokens,
           CAST(COALESCE(g.degree, 0) * LEN(STRING_SPLIT(d.text, ' '))
                AS BIGINT) AS priority
    FROM documents d LEFT JOIN deg g ON g.doc_id = d.doc_id
    ORDER BY priority DESC, d.doc_id LIMIT 20
    """,
    tags=("llm", "dedup", "priority", "ranking"),
)
def q213_dedup_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup priority ranking: which 20 documents buy the most if
    deduplicated first — verified-duplicate degree (q160's graph)
    weighted by token mass, the knapsack objective when a dedup pass
    has a compute budget and must pick shards. Degree is id-sized, the
    token count is computed map-side, and the ranking is a global
    top-k (TakeOrderedAndProject — no full sort ships). Ties break on
    doc_id for cross-engine agreement."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    deg = (
        pairs.select(F.col("doc_id_a").alias("doc_id"))
        .unionAll(pairs.select(F.col("doc_id_b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("degree"))
    )
    ntok = F.size(tokens(F.col("text"))).cast("bigint")
    return (
        docs.select("doc_id", "source", ntok.alias("n_tokens"))
        .join(deg, "doc_id", "left")
        .select(
            "doc_id",
            "source",
            F.coalesce(F.col("degree"), F.lit(0)).cast("bigint").alias("degree"),
            "n_tokens",
            (F.coalesce(F.col("degree"), F.lit(0)) * F.col("n_tokens"))
            .cast("bigint")
            .alias("priority"),
        )
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q214 — token budget cut by source
# ---------------------------------------------------------------------------


@query(
    "q214_token_budget_cut",
    oracle="""
    WITH s AS (
      SELECT source,
             CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS tokens
      FROM documents GROUP BY source
    )
    SELECT source, tokens,
           CAST(SUM(tokens) OVER (ORDER BY tokens DESC, source
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_tokens,
           CASE WHEN SUM(tokens) OVER (ORDER BY tokens DESC, source
                                       ROWS UNBOUNDED PRECEDING) <= 500000
                THEN 1 ELSE 0 END AS in_budget
    FROM s ORDER BY tokens DESC, source
    """,
    tags=("llm", "mixture", "budget", "planning"),
)
def q214_token_budget_cut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token budget cut: sources ranked by token mass with the running
    total and a 500k-token budget flag — the greedy 'which feeds fit
    this training run' selection, and the report a licensing/compute
    negotiation reads. The running sum is a single window over the
    per-source aggregate (source-count-sized, not corpus-sized);
    ordering ties break on source name so the cutline is deterministic
    on both engines."""
    docs = load(spark, sf_dir, "documents")
    s = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("_t"))
        .groupBy("source")
        .agg(F.sum("_t").cast("bigint").alias("tokens"))
    )
    w = (
        # global-window-ok: source-grain cumsum: |sources| rows
        W.orderBy(F.desc("tokens"), F.asc("source"))
        .rowsBetween(W.unboundedPreceding, 0)
    )
    cum = F.sum("tokens").over(w).cast("bigint")
    return s.select(
        "source",
        "tokens",
        cum.alias("cum_tokens"),
        F.when(cum <= 500000, 1).otherwise(0).alias("in_budget"),
    ).orderBy(F.desc("tokens"), F.asc("source"))
