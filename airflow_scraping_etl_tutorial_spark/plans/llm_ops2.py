"""LLM-data-pipeline operators, wave 2: prefix dedup, corpus source
mix, product quantization, k-means convergence audit, unigram-LM
surprisal scoring, SimHash near-dup pairs, and the stream-stream
interval join's batch twin.

Same doctrine as llm_ops.py: candidate generation is always key-
bucketed, hashes are md5-derived so DuckDB replays VALUES, money/mean
aggregates go through the decimal-exact pattern, and Python never
touches a hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.compare import money_sum
from ..operators.dedup import (
    block_dedup_stats,
    shingle_hashes,
    simhash_near_duplicates,
)
from ..operators.similarity import EMBED_DIM, as_double, kmeans_training_trajectory
from ..operators.text import adjacent_pair_counts, tokens
from ..sources.tables import load
from .llm_ops import _SQL_SHINGLES3, _sql_cosine, _sql_hex60
from .registry import query

# ---------------------------------------------------------------------------
# Prefix dedup — the cheap first pass before MinHash
# ---------------------------------------------------------------------------


@query(
    "q124_prefix_dedup",
    oracle="""
    SELECT lang,
           MD5(SUBSTR(text, 1, 50)) AS prefix_hash,
           CAST(MIN(doc_id) AS BIGINT) AS kept_doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_copies
    FROM documents
    GROUP BY 1, 2
    ORDER BY kept_doc_id
    """,
    tags=("llm", "dedup", "prefix"),
)
def q124_prefix_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix dedup (the Dolma/CCNet-style cheap pass that runs BEFORE
    MinHash): collapse documents sharing (lang, md5 of the first 50
    chars), keeping the lowest doc_id. At 100 TB this is a map +
    one hash-groupBy where only the 16-byte digest shuffles — the text
    never moves — and it typically removes the bulk mass of boilerplate
    mirrors before the expensive near-dup pass sees them."""
    d = load(spark, sf_dir, "documents")
    return (
        d.select(
            "lang",
            F.md5(F.substring("text", 1, 50)).alias("prefix_hash"),
            "doc_id",
        )
        .groupBy("lang", "prefix_hash")
        .agg(
            F.min("doc_id").cast("bigint").alias("kept_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_copies"),
        )
        .orderBy("kept_doc_id")
    )


# ---------------------------------------------------------------------------
# Source mix report — the corpus-composition dashboard row
# ---------------------------------------------------------------------------


@query(
    "q125_source_mix_report",
    oracle="""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(CAST(n_chars AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 4) AS mean_chars,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs
    FROM documents
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "agg", "mixture", "report"),
)
def q125_source_mix_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus composition (the report every mixture decision
    reads): doc counts, char mass, decimal-exact mean length, language
    spread. One map-side-combined groupBy over however many petabytes;
    pairs with q101's mixture gates which CONSUME these proportions."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.round(
                F.sum(F.col("n_chars").cast("decimal(18,6)")).cast("double")
                / F.count(F.lit(1)),
                4,
            ).alias("mean_chars"),
            F.countDistinct("lang").cast("bigint").alias("n_langs"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# Product quantization — the ANN memory-compression path
# ---------------------------------------------------------------------------

_PQ_SUBSPACES = 8
_PQ_SUBDIM = 8  # 64-dim embeddings -> 8 subspaces x 8 dims
_PQ_CODES = 16


def _sql_pq_oracle() -> str:
    """PQ encode in DuckDB: md5-sampled codebook (the q76/q96 sampling
    doctrine), one UNION ALL branch per subspace with literal indices so
    the squared-L2 chain is the same left-associated double fold Spark's
    aggregate() executes.

    Memory doctrine (r14, the q126 driver-OOM fix): the argmin is a
    streaming hash aggregate MIN([dist, code_id]) — lexicographic list
    compare reproduces the (dist, code_id) tiebreak — instead of a
    ROW_NUMBER window, so the oracle never sorts the vectors x codes x
    subspaces distance rows; and the codebook sample is a top-N LIMIT
    before the 16-row window rather than a full-table window sort.
    Verified green under memory_limit=500MB at sf0.1."""
    branches = []
    for s in range(_PQ_SUBSPACES):
        terms = " + ".join(
            f"(CAST(e.embedding[{s * _PQ_SUBDIM + i + 1}] AS DOUBLE)"
            f" - CAST(c.embedding[{s * _PQ_SUBDIM + i + 1}] AS DOUBLE))"
            f" * (CAST(e.embedding[{s * _PQ_SUBDIM + i + 1}] AS DOUBLE)"
            f" - CAST(c.embedding[{s * _PQ_SUBDIM + i + 1}] AS DOUBLE))"
            for i in range(_PQ_SUBDIM)
        )
        branches.append(
            f"""SELECT e.vec_id, {s} AS subspace, c.code_id, {terms} AS dist
      FROM embeddings e CROSS JOIN sample c"""
        )
    union = "\n      UNION ALL\n      ".join(branches)
    return f"""
    WITH sample AS (
      SELECT vec_id, embedding,
             ROW_NUMBER() OVER (ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id)
               - 1 AS code_id
      FROM (SELECT vec_id, embedding FROM embeddings
            ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {_PQ_CODES})
    ),
    enc AS (
      {union}
    ),
    best AS (
      SELECT vec_id, subspace,
             MIN([dist, CAST(code_id AS DOUBLE)]) AS b
      FROM enc GROUP BY vec_id, subspace
    )
    SELECT vec_id, CAST(subspace AS INT) AS subspace,
           CAST(b[2] AS INT) AS code_id,
           ROUND(b[1], 6) AS sq_err
    FROM best ORDER BY vec_id, subspace
    """


@query(
    "q126_product_quantization",
    oracle=_sql_pq_oracle(),
    tags=("llm", "similarity", "ann", "pq", "quantization"),
)
def q126_product_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (the IVF-PQ memory-compression half): the
    64-dim embedding splits into 8 subspaces of 8 dims; each subvector
    is encoded as the id of its nearest codebook entry (squared L2,
    (dist, code_id) tiebreak), collapsing 256 float bytes to 8 code
    bytes. Codebook = the md5-ordered 16-vector sample (the engine's
    deterministic sampling doctrine; k-means-trained codebooks swap in
    via q96's machinery).

    Scale: the codebook is model-sized (128 sub-vectors) and broadcast;
    encoding is pure map work per vector — one crossJoin row per
    (vector, code) pair per subspace, argmin'd by a bounded window
    keyed (vec_id, subspace). Corpus never shuffles. The oracle unrolls
    all 8 subspaces with literal indices, replaying every distance
    double bit-for-bit."""
    emb = load(spark, sf_dir, "embeddings")
    order_cols = [F.md5(F.col("vec_id").cast("string")), F.col("vec_id")]
    sample = (
        emb.orderBy(*order_cols)
        .limit(_PQ_CODES)
        .select(
            # global-window-ok: 64-row PQ codebook sample (after limit)
            (F.row_number().over(W.orderBy(*order_cols)) - 1).alias("code_id"),
            as_double(F.col("embedding")).alias("c_emb"),
        )
        .localCheckpoint(eager=True)
    )
    codebook = sample.crossJoin(
        spark.range(_PQ_SUBSPACES).select(F.col("id").cast("int").alias("subspace"))
    ).select(
        "code_id",
        "subspace",
        F.slice(
            F.col("c_emb"), F.col("subspace") * _PQ_SUBDIM + 1, _PQ_SUBDIM
        ).alias("c_sub"),
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("e"))
    dist = F.aggregate(
        F.zip_with(
            F.slice(F.col("e"), F.col("subspace") * _PQ_SUBDIM + 1, _PQ_SUBDIM),
            F.col("c_sub"),
            lambda x, y: (x - y) * (x - y),
        ),
        F.lit(0.0),
        lambda acc, t: acc + t,
    )
    w = W.partitionBy("vec_id", "subspace").orderBy("dist", "code_id")
    return (
        vecs.crossJoin(F.broadcast(codebook))
        .select("vec_id", "subspace", "code_id", dist.alias("dist"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "vec_id",
            "subspace",
            "code_id",
            F.round("dist", 6).alias("sq_err"),
        )
        .orderBy("vec_id", "subspace")
    )


# ---------------------------------------------------------------------------
# K-means convergence trajectory — the training-run health check
# ---------------------------------------------------------------------------


def _sql_kmeans_trajectory_oracle() -> str:
    """DuckDB twin of kmeans_training_trajectory (2 iterations):
    replays init sample, both Lloyd steps' decimal-exact means, and the
    per-iteration max-abs-component movement.

    Memory doctrine (r14, the q127 driver-OOM fix): each Lloyd assign
    is a streaming hash aggregate MIN(struct(-cosine, cid)) — struct
    fields compare lexicographically, so -cosine reproduces the
    (cosine DESC, cid ASC) window order exactly (double negation is
    bit-exact) — instead of a ROW_NUMBER window carrying every
    embedding array through a sort; the means re-join embeddings on
    the model-sized assignment table. Verified green under
    memory_limit=500MB at sf0.1."""
    means = ", ".join(
        f"CAST(SUM(CAST(CAST(embedding[{i + 1}] AS DOUBLE) AS DECIMAL(18,6)))"
        f" AS DOUBLE) / COUNT(*) AS c_{i}"
        for i in range(EMBED_DIM)
    )
    dot_ec = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * m.c_{i}" for i in range(EMBED_DIM)
    )
    norm_e = " + ".join(
        f"CAST(e.embedding[{i + 1}] AS DOUBLE) * CAST(e.embedding[{i + 1}] AS DOUBLE)"
        for i in range(EMBED_DIM)
    )
    norm_c = " + ".join(f"m.c_{i} * m.c_{i}" for i in range(EMBED_DIM))
    cos_m = f"(({dot_ec}) / (SQRT({norm_e}) * SQRT({norm_c})))"
    mv1_terms = ", ".join(
        f"ABS(m.c_{i} - CAST(o.ce[{i + 1}] AS DOUBLE))" for i in range(EMBED_DIM)
    )
    mv2_terms = ", ".join(f"ABS(n.c_{i} - o.c_{i})" for i in range(EMBED_DIM))
    return f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ),
    a1 AS (
      SELECT e.vec_id,
             MIN(struct_pack(ng := -({_sql_cosine('e.embedding', 'c.ce')}),
                             cid := c.cid)) AS b
      FROM embeddings e CROSS JOIN cent0 c
      GROUP BY e.vec_id
    ),
    g1 AS (SELECT vec_id, struct_extract(b, 'cid') AS cid FROM a1),
    m1 AS (
      SELECT g.cid, {means}
      FROM embeddings e JOIN g1 g ON g.vec_id = e.vec_id GROUP BY g.cid
    ),
    a2 AS (
      SELECT e.vec_id,
             MIN(struct_pack(ng := -({cos_m}), cid := m.cid)) AS b
      FROM embeddings e CROSS JOIN m1 m
      GROUP BY e.vec_id
    ),
    g2 AS (SELECT vec_id, struct_extract(b, 'cid') AS cid FROM a2),
    m2 AS (
      SELECT g.cid, {means}
      FROM embeddings e JOIN g2 g ON g.vec_id = e.vec_id GROUP BY g.cid
    ),
    mv1 AS (
      SELECT 1 AS iteration, COUNT(*) AS n_live,
             MAX(GREATEST({mv1_terms})) AS mx
      FROM m1 m JOIN cent0 o ON m.cid = o.cid
    ),
    mv2 AS (
      SELECT 2 AS iteration, COUNT(*) AS n_live,
             MAX(GREATEST({mv2_terms})) AS mx
      FROM m2 n JOIN m1 o ON n.cid = o.cid
    )
    SELECT CAST(iteration AS INT) AS iteration,
           CAST(n_live AS BIGINT) AS n_live,
           ROUND(mx, 6) AS max_move
    FROM (SELECT * FROM mv1 UNION ALL SELECT * FROM mv2)
    ORDER BY iteration
    """


@query(
    "q127_kmeans_training_trajectory",
    oracle=_sql_kmeans_trajectory_oracle(),
    tags=("llm", "similarity", "kmeans", "iterative", "convergence"),
)
def q127_kmeans_training_trajectory(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means convergence audit (operators/similarity.py::
    kmeans_training_trajectory): per Lloyd iteration, live-centroid
    count and max per-component centroid movement — the numbers a
    100-TB training run logs each round to decide when the model has
    rested (kmeans_centroids_converged automates the stop on the same
    scalar). Every movement double derives from the decimal-exact
    means, so the whole trajectory is value-checked cross-engine; the
    audit rows are unions of model-sized aggregates, never data."""
    emb = load(spark, sf_dir, "embeddings")
    return kmeans_training_trajectory(emb, n_centroids=8, n_iterations=2).orderBy(
        "iteration"
    )


# ---------------------------------------------------------------------------
# Unigram-LM surprisal — CCNet-style quality scoring
# ---------------------------------------------------------------------------


@query(
    "q128_unigram_surprisal",
    oracle="""
    WITH tok AS (
      SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    tot AS (SELECT COUNT(*) AS total FROM tok),
    freq AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY 1)
    SELECT t.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(CAST(-LN(CAST(f.cnt AS DOUBLE) / tot.total)
                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS avg_surprisal
    FROM tok t JOIN freq f USING (tok), tot
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "text", "quality", "lm"),
)
def q128_unigram_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal scoring (the CCNet/Wikipedia-LM quality
    filter, with the corpus itself as the LM): per document, the mean
    negative log-likelihood of its tokens under corpus unigram
    frequencies — boilerplate scores low, lexically-rich text high.

    Scale: the vocab (freq) aggregate collapses map-side and broadcasts
    back (vocab << corpus); the total is a one-row broadcast. Per-token
    -ln p is quantized to DECIMAL(18,6) BEFORE summing: libm ln differs
    from DuckDB's in the last ulp on ~2% of values (measured), and the
    per-term quantization absorbs that while keeping the sum
    order-independent."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens(F.col("text"))).alias("tok"))
    freq = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("cnt"))
    total = tok.agg(F.count(F.lit(1)).alias("total"))
    surprisal = (-F.log(F.col("cnt").cast("double") / F.col("total"))).cast(
        "decimal(18,6)"
    )
    return (
        tok.join(F.broadcast(freq), "tok")
        .crossJoin(F.broadcast(total))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.round(
                F.sum(surprisal).cast("double") / F.count(F.lit(1)), 4
            ).alias("avg_surprisal"),
        )
        .orderBy("doc_id")
    )


# ---------------------------------------------------------------------------
# SimHash near-dup pairs — q69's fingerprints put to work
# ---------------------------------------------------------------------------


def _sql_simhash_pairs_cte() -> str:
    """CTE chain st -> sv -> sfps -> scand -> spairs: the SimHash
    near-dup pipeline (60-bit token bit-votes, fingerprints, pigeonhole
    block candidates, exact Hamming verify at radius 3) in DuckDB. Callers append
    their own final SELECT over `spairs` (doc_id_a, doc_id_b,
    hamming). CTE names are prefixed `s` so the chain composes with
    _sql_minhash_pairs' sh/hx/cand/pairs in one WITH (q264)."""
    max_hamming, n_bits = 3, 60
    n_blocks = max_hamming + 1
    width = n_bits // n_blocks
    mask = (1 << width) - 1
    votes = ", ".join(
        f"SUM(((h >> {b}) & 1) * 2 - 1) AS v_{b}" for b in range(n_bits)
    )
    fp = " + ".join(
        f"(CASE WHEN v_{b} > 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(n_bits)
    )
    block_eq = " OR ".join(
        f"((a.fp >> {i * width}) & {mask}) = ((b.fp >> {i * width}) & {mask})"
        for i in range(n_blocks)
    )
    return f"""
    st AS (
      SELECT doc_id, {_sql_hex60('MD5(tok)', 1)} AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
    ),
    sv AS (SELECT doc_id, {votes} FROM st GROUP BY doc_id),
    sfps AS (SELECT doc_id, CAST({fp} AS BIGINT) AS fp FROM sv),
    scand AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b, a.fp AS fp_a, b.fp AS fp_b
      FROM sfps a JOIN sfps b
        ON a.doc_id < b.doc_id AND ({block_eq})
    ),
    spairs AS (
      SELECT doc_id_a, doc_id_b,
             CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
      FROM scand WHERE bit_count(xor(fp_a, fp_b)) <= {max_hamming}
    )
"""


def _sql_simhash_pairs_oracle() -> str:
    """DuckDB twin of dedup.simhash_near_duplicates: replay q69's
    fingerprints, the pigeonhole block self-join, and the Hamming
    verify."""
    return f"""
    WITH {_sql_simhash_pairs_cte()}
    SELECT doc_id_a, doc_id_b, hamming
    FROM spairs ORDER BY doc_id_a, doc_id_b
    """


@query(
    "q129_simhash_hamming_pairs",
    oracle=_sql_simhash_pairs_oracle(),
    tags=("llm", "dedup", "simhash", "hamming"),
)
def q129_simhash_hamming_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup PAIRS (q69 computes the fingerprints; this is
    the pair-finding pass): pigeonhole block candidates — any pair
    within Hamming radius r shares at least one of r+1 fingerprint
    blocks — verified by exact bit_count(xor) <= r.

    Scale: the self-join is on (block index, block value), never
    all-pairs; fingerprints are 8 bytes per doc so even the candidate
    pass moves model-sized data. The oracle replays fingerprints,
    blocks, candidates, and the Hamming verify."""
    d = load(spark, sf_dir, "documents")
    pairs = simhash_near_duplicates(d, max_hamming=3)
    return pairs.select(
        "doc_id_a", "doc_id_b", F.col("hamming").cast("int").alias("hamming")
    ).orderBy("doc_id_a", "doc_id_b")


# ---------------------------------------------------------------------------
# Interval join — the stream-stream join's batch twin
# ---------------------------------------------------------------------------


@query(
    "q130_view_purchase_interval_join",
    oracle="""
    SELECT v.user_id,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(ROUND(SUM(CAST(p.value AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS linked_value
    FROM (SELECT user_id, ts FROM events WHERE event_type = 'view') v
    JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
      ON p.user_id = v.user_id
     AND p.ts >= v.ts AND p.ts < v.ts + INTERVAL 30 MINUTE
    GROUP BY 1 ORDER BY 1
    """,
    tags=("events", "join", "interval", "streaming"),
)
def q130_view_purchase_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Attribution interval join: purchases within 30 minutes AFTER a
    view by the same user (every qualifying pair counts — the batch
    twin of a Structured Streaming stream-stream join, whose watermark
    bound is exactly this interval; q84's as-of join is the
    nearest-ONE variant).

    Scale: equality on user_id drives the shuffle; the time band is a
    join-side range predicate, so each user's events co-locate once and
    the band prunes pairs in the sort-merge — no cartesian. Purchase
    value aggregates decimal-exactly per user."""
    e = load(spark, sf_dir, "events")
    v = e.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    p = e.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), "value"
    )
    return (
        v.join(
            p,
            (F.col("p_user") == F.col("user_id"))
            & (F.col("p_ts") >= F.col("v_ts"))
            & (F.col("p_ts") < F.col("v_ts") + F.expr("INTERVAL 30 MINUTES")),
        )
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            money_sum(F.col("value")).alias("linked_value"),
        )
        .orderBy("user_id")
    )


# ---------------------------------------------------------------------------
# Block-level dedup — C4/Dolma line-dedup plumbing on flat word streams
# ---------------------------------------------------------------------------


@query(
    "q139_block_dedup",
    oracle="""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
    b AS (
      SELECT doc_id,
             LIST_TRANSFORM(
               RANGE(0, GREATEST(CAST(CEIL(LEN(words) / 16.0) AS BIGINT), 1)),
               i -> ARRAY_TO_STRING(words[i*16+1:i*16+16], ' ')) AS blocks
      FROM w),
    e AS (
      SELECT doc_id, UNNEST(blocks) AS block,
             CAST(UNNEST(RANGE(LEN(blocks))) AS INT) AS block_idx
      FROM b),
    r AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (PARTITION BY MD5(block)
                                ORDER BY doc_id, block_idx) AS rn
      FROM e)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_blocks,
           CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_blocks,
           ROUND(CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS DOUBLE)
                 / COUNT(*), 6) AS dup_block_frac
    FROM r GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "dedup", "block", "c4"),
)
def q139_block_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-level dedup — the C4/Dolma LINE-dedup pass re-expressed on
    the fixture's flat word streams: each document splits into fixed
    16-word blocks, a block occurrence is a duplicate unless it is the
    global first occurrence (min (doc_id, position) per block hash),
    and each doc reports its duplicated-block fraction (the C4 rule
    then drops blocks, not docs — the fraction is the audit number).

    Scale: only (16-byte digest, doc_id, position) tuples shuffle for
    the first-occurrence window — block text never moves, exactly like
    the exact-dedup operator. Per-doc re-agg is a partial-agg'd
    groupBy on doc_id. At 100 TB this is two digest-keyed shuffles of
    ~24 bytes/block."""
    d = load(spark, sf_dir, "documents")
    return block_dedup_stats(d, block_words=16).orderBy("doc_id")


# ---------------------------------------------------------------------------
# BPE-style merge-pair counting — the tokenizer-training first pass
# ---------------------------------------------------------------------------


@query(
    "q140_bpe_pair_merges",
    oracle="""
    WITH w AS (SELECT STRING_SPLIT(text, ' ') AS words FROM documents),
    p AS (
      SELECT LIST_TRANSFORM(RANGE(1, LEN(words)),
                            i -> words[i] || ' ' || words[i+1]) AS pairs
      FROM w),
    e AS (SELECT UNNEST(pairs) AS pair FROM p)
    SELECT pair, CAST(COUNT(*) AS BIGINT) AS pair_count
    FROM e GROUP BY 1
    ORDER BY pair_count DESC, pair LIMIT 25
    """,
    tags=("llm", "tokenizer", "bpe", "topk"),
)
def q140_bpe_pair_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-table counting — the first iteration of tokenizer
    training: corpus-wide adjacent-token-pair frequencies, top 25 by
    (count, pair). Real BPE re-runs this after each merge; the
    per-iteration workload IS this query, so the plan under test is the
    one a distributed tokenizer trainer loops.

    Scale: pair explosion is map-only array work fused into the scan;
    the count partial-aggregates map-side (pair cardinality ~ vocab²
    visible slice, not corpus size), and the final top-25 is
    TakeOrderedAndProject — no global sort. q104 measures per-doc
    repetition with the same bigrams; this is the corpus-level twin."""
    d = load(spark, sf_dir, "documents")
    return adjacent_pair_counts(d, top_n=25)


# ---------------------------------------------------------------------------
# Contamination overlap ratio — the graded form of q103's binary flag
# ---------------------------------------------------------------------------


@query(
    "q141_contamination_overlap_ratio",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    g AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               AS gate,
             shingles
      FROM sh),
    ev AS (
      SELECT DISTINCT {_sql_hex60('MD5(s)', 1)} AS h
      FROM (SELECT UNNEST(shingles) AS s FROM g WHERE gate < 16) q),
    c AS (
      SELECT doc_id, {_sql_hex60('MD5(s)', 1)} AS h
      FROM (SELECT doc_id, UNNEST(shingles) AS s FROM g
            WHERE gate >= 16 AND LEN(shingles) > 0) q)
    SELECT c.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_shingles,
           CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_shared,
           ROUND(CAST(SUM(CASE WHEN ev.h IS NOT NULL THEN 1 ELSE 0 END)
                 AS DOUBLE) / COUNT(*), 6) AS contamination_ratio
    FROM c LEFT JOIN ev ON c.h = ev.h
    GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "dedup", "decontamination", "ratio"),
)
def q141_contamination_overlap_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Graded contamination score: for EVERY corpus document (same ~6%
    md5-gated eval split as q103), the fraction of its distinct 3-word
    shingle hashes that appear anywhere in the eval set — q103 flags
    the contaminated docs, this scores the whole corpus so a pipeline
    can threshold at e.g. 0.8 overlap instead of any-hit.

    Scale: identical shape to q103 — the eval side collapses to
    distinct 60-bit hashes and BROADCASTS; the corpus explodes to
    (doc_id, hash) pairs that partial-aggregate map-side back to one
    row per doc. The corpus never shuffles its text, only 16-byte
    (doc_id, counts) rows."""
    d = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10
    ).cast("int")
    sh = d.select(
        "doc_id", gate.alias("gate"), shingle_hashes(F.col("text"), 3).alias("hs")
    )
    ev = (
        sh.filter(F.col("gate") < 16)
        .select(F.explode("hs").alias("h"))
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    corpus = (
        sh.filter((F.col("gate") >= 16) & (F.size("hs") > 0))
        .select("doc_id", F.explode("hs").alias("h"))
    )
    shared = F.sum(F.when(F.col("hit").isNotNull(), 1).otherwise(0))
    return (
        corpus.join(F.broadcast(ev), "h", "left")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shingles"),
            shared.cast("bigint").alias("n_shared"),
            F.round(shared.cast("double") / F.count(F.lit(1)), 6).alias(
                "contamination_ratio"
            ),
        )
        .orderBy("doc_id")
    )
