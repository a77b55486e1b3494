"""LLM-ops wave 22: serving- and training-infrastructure audits the
100 TB pipeline runs before it commits to an index layout, a
cross-validation split, a source contract, or a retention claim —

- q305 prices the inverted index q235's BM25 would ship: block-restart
  delta + varint coding of posting lists, by document-frequency tier;
- q306 measures near-duplicate leakage ACROSS md5 CV folds (q261
  audits the time split, q105 cuts the hash split; this is the fold
  version of the same hygiene question, with exact-Jaccard pairs);
- q307 is leave-one-source-out ablation: the distinct-shingle coverage
  the corpus loses if a source's ingest contract is dropped;
- q308 prices the scale-out itself: the exact fraction of keys that
  migrate when 32 shards become 33, mod-N placement vs a
  consistent-hash virtual-node ring.

Output-hardening doctrine (as waves 6-21): every count is an exact
BIGINT; every rate is an integer truncating division micro-scaled
BEFORE the divide (the q261 leak_ppm doctrine); the q306 duplicate
threshold is the INTEGER test 2*n_common >= n_union (never a float
compare on a rounded quotient); varint byte costs are CASE ladders on
integer gap ranges, not FLOOR(LOG(...)) (float log at exact powers of
two is engine-dependent in the last ulp).

Reference parity: the reference stores one validated row per day and
reads it back for downstream joins (dags/insert_data.py:53-61,
README.md:21 — data collected for ML training-set assembly); these
four are the audits that workflow needs the moment it scales: how big
the serving index is, whether the eval fold is clean, which sources
earn their keep, and what a shard scale-out will cost.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import _hex60, word_shingles
from ..sources.tables import load
from .llm_ops import _sql_hex60
from .registry import query

# ---------------------------------------------------------------------------
# q305 — posting-list compression audit (block-restart delta + varint)
# ---------------------------------------------------------------------------

_BLOCK = 65536  # doc-id block size: restart points bound the gap window

# varint byte cost of a positive gap: 7 payload bits per byte.
_SQL_VARINT = """CASE WHEN {g} < 128 THEN 1
                  WHEN {g} < 16384 THEN 2
                  WHEN {g} < 2097152 THEN 3
                  WHEN {g} < 268435456 THEN 4
                  ELSE 5 END"""

_SQL_DF_BUCKET = """CASE WHEN df = 1 THEN 'df_0001'
                  WHEN df <= 3 THEN 'df_0002_0003'
                  WHEN df <= 7 THEN 'df_0004_0007'
                  WHEN df <= 15 THEN 'df_0008_0015'
                  WHEN df <= 31 THEN 'df_0016_0031'
                  WHEN df <= 63 THEN 'df_0032_0063'
                  WHEN df <= 127 THEN 'df_0064_0127'
                  ELSE 'df_0128_plus' END"""


@query(
    "q305_postings_compression_audit",
    oracle=f"""
    WITH post AS (
      SELECT doc_id, UNNEST(LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 1, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+1], ' ')
             ))) AS tok
      FROM documents
    ),
    gaps AS (
      SELECT tok,
             COALESCE(
               doc_id - LAG(doc_id) OVER (
                 PARTITION BY tok, doc_id // {_BLOCK} ORDER BY doc_id),
               doc_id - (doc_id // {_BLOCK}) * {_BLOCK} + 1) AS gap
      FROM post
    ),
    per_term AS (
      SELECT tok, COUNT(*) AS df,
             SUM({_SQL_VARINT.format(g="gap")}) AS vbytes
      FROM gaps GROUP BY tok
    )
    SELECT {_SQL_DF_BUCKET} AS df_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_terms,
           CAST(SUM(df) AS BIGINT) AS n_postings,
           CAST(SUM(df) * 8 AS BIGINT) AS raw_bytes,
           CAST(SUM(vbytes) AS BIGINT) AS varint_bytes,
           CAST((SUM(df) * 8 - SUM(vbytes)) * 1000000
                // (SUM(df) * 8) AS BIGINT) AS savings_ppm
    FROM per_term GROUP BY df_bucket ORDER BY df_bucket
    """,
    tags=("llm", "retrieval", "index", "compression", "planning"),
)
def q305_postings_compression_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Price the inverted index before shipping it: per document-
    frequency tier, the exact byte cost of posting lists under
    block-restart delta + varint coding versus raw 8-byte doc ids.
    Gaps restart at 64Ki-doc-id block boundaries (the Lucene-style
    skip-block layout), so the delta window is bounded by the block —
    at 10^9 documents a stopword's posting list never serializes
    through one window partition; (term, block) does. Byte costs are
    integer CASE ladders on gap ranges (no float logs), so both
    engines price every gap identically; the headline savings_ppm per
    tier is the number an index-capacity plan actually uses (rare
    terms compress worst — their first-gap IS the doc id; stopword
    tiers approach 87%+).

    Scale: the shingling is a map-only codegen expression (per-doc
    distinct terms, so no dedup shuffle at all); the gap window
    partitions by (term, block) with <= 64Ki rows each (no hot-term
    skew); per-term and per-tier aggregates are map-side combinable.
    The index itself is never materialized."""
    docs = load(spark, sf_dir, "documents")
    # word-bigram terms: the fixture's unigram vocabulary is tiny and
    # uniformly hot, so bigrams are what give the audit a realistic
    # Zipf-shaped df spectrum; the coding math is term-agnostic.
    # word_shingles is array_distinct per doc, so (term, doc) pairs are
    # already unique — no extra distinct shuffle needed.
    post = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"), 2)).alias("tok")
    )
    blk = F.expr(f"doc_id div {_BLOCK}")  # integer division, exact at any id
    w = W.partitionBy("tok", blk).orderBy("doc_id")
    gaps = post.select(
        "tok",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w),
            F.col("doc_id") - blk * _BLOCK + 1,
        ).alias("gap"),
    )
    per_term = gaps.groupBy("tok").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum(F.expr(_SQL_VARINT.format(g="gap"))).alias("vbytes"),
    )
    return (
        per_term.groupBy(F.expr(_SQL_DF_BUCKET).alias("df_bucket"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_terms"),
            F.sum("df").cast("bigint").alias("n_postings"),
            (F.sum("df") * 8).cast("bigint").alias("raw_bytes"),
            F.sum("vbytes").cast("bigint").alias("varint_bytes"),
            F.expr(
                "CAST((SUM(df) * 8 - SUM(vbytes)) * 1000000"
                " div (SUM(df) * 8) AS BIGINT)"
            ).alias("savings_ppm"),
        )
        .orderBy("df_bucket")
    )


# ---------------------------------------------------------------------------
# q306 — near-duplicate leakage across md5 CV folds
# ---------------------------------------------------------------------------

_N_FOLDS = 5
_SHINGLE_K = 8

_SQL_FOLD = (
    "CAST('0x' || SUBSTR(MD5(CAST({id} AS VARCHAR) || ':cv5'), 1, 2) AS INT)"
    f" % {_N_FOLDS}"
)


def _fold(col: Column) -> Column:
    """Spark twin of _SQL_FOLD (md5 first byte mod n_folds)."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(col.cast("string"), F.lit(":cv5"))), 1, 2
            ),
            16,
            10,
        ).cast("int")
        % _N_FOLDS
    )


@query(
    "q306_fold_dup_leakage",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id, LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' '))
                                 - {_SHINGLE_K - 1}, 0) + 1),
               i -> ARRAY_TO_STRING(
                 STRING_SPLIT(text, ' ')[i:i+{_SHINGLE_K - 1}], ' ')
             )) AS s
      FROM documents
    ),
    inv AS (SELECT doc_id, UNNEST(s) AS g FROM sh),
    cand AS (
      SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      FROM inv a JOIN inv b ON a.g = b.g AND a.doc_id < b.doc_id
    ),
    dup AS (
      SELECT da, db
      FROM cand
      JOIN sh x ON x.doc_id = da
      JOIN sh y ON y.doc_id = db
      WHERE 2 * LEN(LIST_INTERSECT(x.s, y.s))
            >= LEN(x.s) + LEN(y.s) - LEN(LIST_INTERSECT(x.s, y.s))
    ),
    folded AS (
      SELECT LEAST({_SQL_FOLD.format(id="da")},
                   {_SQL_FOLD.format(id="db")}) AS fold_a,
             GREATEST({_SQL_FOLD.format(id="da")},
                      {_SQL_FOLD.format(id="db")}) AS fold_b
      FROM dup
    )
    SELECT CAST(fold_a AS INT) AS fold_a,
           CAST(fold_b AS INT) AS fold_b,
           CAST(fold_a <> fold_b AS BOOLEAN) AS is_leak,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM folded GROUP BY fold_a, fold_b ORDER BY fold_a, fold_b
    """,
    tags=("llm", "dedup", "split", "leakage", "cv"),
)
def q306_fold_dup_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-validation fold hygiene: exact-Jaccard near-duplicate
    pairs (8-word shingles, tau = 1/2) bucketed by the md5 folds of
    their two documents — every pair on an off-diagonal row is a
    leak (a model can memorize one copy in train and ace its twin in
    eval, which is how near-dup corpora overstate CV scores). q261
    asks this of the TIME split and q105 cuts the hash split; this
    closes the ring for k-fold CV. The duplicate test is the integer
    2*common >= union (tau ties cannot split the engines), and fold
    assignment is the q105-family md5 gate, so the whole audit is
    engine-exact.

    Scale: candidates come from the inverted-index join on shared
    shingles (q70 doctrine — zero-overlap pairs never materialize;
    8-word shingles are long enough to be rare, so bucket sizes stay
    tiny — and a stop-shingle df cap slots in unchanged at scale);
    the verify stage intersects the two shingle arrays per candidate
    pair only. Folds are pure functions of doc_id — no extra join."""
    docs = load(spark, sf_dir, "documents")
    sh = docs.select(
        "doc_id", word_shingles(F.col("text"), _SHINGLE_K).alias("s")
    ).persist()
    inv = sh.select("doc_id", F.explode("s").alias("g"))
    a, b = inv.alias("a"), inv.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("da"), F.col("b.doc_id").alias("db")
        )
        .distinct()
    )
    x = sh.select(F.col("doc_id").alias("da"), F.col("s").alias("sa"))
    y = sh.select(F.col("doc_id").alias("db"), F.col("s").alias("sb"))
    dup = (
        cand.join(x, "da")
        .join(y, "db")
        .withColumn("n_common", F.size(F.array_intersect("sa", "sb")))
        .filter(
            2 * F.col("n_common")
            >= F.size("sa") + F.size("sb") - F.col("n_common")
        )
        .select("da", "db")
    )
    folded = dup.select(
        F.least(_fold(F.col("da")), _fold(F.col("db"))).alias("fold_a"),
        F.greatest(_fold(F.col("da")), _fold(F.col("db"))).alias("fold_b"),
    )
    out = (
        folded.groupBy("fold_a", "fold_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .select(
            F.col("fold_a").cast("int"),
            F.col("fold_b").cast("int"),
            (F.col("fold_a") != F.col("fold_b")).alias("is_leak"),
            "n_pairs",
        )
        .orderBy("fold_a", "fold_b")
    )
    return out


# ---------------------------------------------------------------------------
# q307 — leave-one-source-out shingle-coverage ablation
# ---------------------------------------------------------------------------


@query(
    "q307_source_ablation_coverage",
    oracle=f"""
    WITH sh AS (
      SELECT DISTINCT source, g FROM (
        SELECT source, UNNEST(LIST_TRANSFORM(
          RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' '))
                            - {_SHINGLE_K - 1}, 0) + 1),
          i -> ARRAY_TO_STRING(
            STRING_SPLIT(text, ' ')[i:i+{_SHINGLE_K - 1}], ' ')
        )) AS g
        FROM documents
      )
    ),
    per_shingle AS (
      SELECT g, COUNT(*) AS n_sources, MIN(source) AS only_source
      FROM sh GROUP BY g
    ),
    tot AS (SELECT COUNT(*) AS t FROM per_shingle),
    excl AS (
      SELECT only_source AS source, COUNT(*) AS exclusive_shingles
      FROM per_shingle WHERE n_sources = 1 GROUP BY only_source
    ),
    nd AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT nd.source,
           CAST(nd.n_docs AS BIGINT) AS n_docs,
           CAST(COALESCE(excl.exclusive_shingles, 0) AS BIGINT)
             AS exclusive_shingles,
           CAST(tot.t - COALESCE(excl.exclusive_shingles, 0) AS BIGINT)
             AS retained_shingles,
           CAST(COALESCE(excl.exclusive_shingles, 0) * 1000000 // tot.t
                AS BIGINT) AS loss_ppm
    FROM nd CROSS JOIN tot
    LEFT JOIN excl ON excl.source = nd.source
    ORDER BY nd.source
    """,
    tags=("llm", "corpus", "ablation", "planning", "coverage"),
)
def q307_source_ablation_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leave-one-source-out data valuation: for every source, the
    distinct 8-word shingles ONLY it contributes — i.e. exactly the
    coverage the corpus loses if that ingest contract is dropped —
    plus what remains and the loss in ppm of total distinct
    shingles. q281 ranks sources by raw document COUNT; this prices
    their marginal CONTENT (a source of 10k near-dup boilerplate
    docs scores high there and ~zero here). Additive set arithmetic
    makes the ablation exact in ONE pass: a shingle with n_sources=1
    is charged to its only source, so "corpus minus s" never has to
    be recomputed per source.

    Scale: one distinct on (shingle, source) — shingles collapse
    before any per-source accounting, and the per-shingle
    aggregation is map-side combinable; the final table is
    |sources| rows joined to a 1-row broadcast total."""
    docs = load(spark, sf_dir, "documents")
    sh = (
        docs.select(
            "source", F.explode(word_shingles(F.col("text"), _SHINGLE_K)).alias("g")
        )
        .distinct()
    )
    per_shingle = sh.groupBy("g").agg(
        F.count(F.lit(1)).alias("n_sources"),
        F.min("source").alias("only_source"),
    )
    tot = per_shingle.agg(F.count(F.lit(1)).alias("t"))
    excl = (
        per_shingle.filter(F.col("n_sources") == 1)
        .groupBy(F.col("only_source").alias("source"))
        .agg(F.count(F.lit(1)).alias("exclusive_shingles"))
    )
    nd = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        nd.crossJoin(F.broadcast(tot))
        .join(excl, "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("bigint"),
            F.coalesce("exclusive_shingles", F.lit(0))
            .cast("bigint")
            .alias("exclusive_shingles"),
            (F.col("t") - F.coalesce("exclusive_shingles", F.lit(0)))
            .cast("bigint")
            .alias("retained_shingles"),
            F.expr(
                "CAST(COALESCE(exclusive_shingles, 0) * 1000000 div t"
                " AS BIGINT)"
            ).alias("loss_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q308 — resharding migration audit (consistent-hash ring vs mod-N)
# ---------------------------------------------------------------------------

_N_OLD = 32  # shard count before the scale-out
_N_NEW = 33  # ... and after
_REPLICAS = 4  # virtual nodes per shard on the ring


def _sql_vnodes(n_nodes: int) -> str:
    """(node, pos) virtual-node ring: md5-derived 60-bit positions."""
    pos = _sql_hex60(
        "MD5('vn:' || CAST(i // {r} AS VARCHAR)"
        " || ':' || CAST(i % {r} AS VARCHAR))".format(r=_REPLICAS),
        1,
    )
    return (
        f"SELECT i // {_REPLICAS} AS node, {pos} AS pos"
        f" FROM (SELECT UNNEST(RANGE(0, {n_nodes * _REPLICAS})) AS i)"
    )


@query(
    "q308_resharding_migration_audit",
    oracle=f"""
    WITH vn AS ({_sql_vnodes(_N_NEW)}),
    keys AS (
      SELECT DISTINCT user_id,
             {_sql_hex60("MD5('key:' || CAST(user_id AS VARCHAR))", 1)} AS kp
      FROM events
    ),
    succ AS (
      SELECT user_id, kp,
             COALESCE(MIN(CASE WHEN node < {_N_OLD} AND pos >= kp
                           THEN pos END),
                      MIN(CASE WHEN node < {_N_OLD} THEN pos END)) AS s_old,
             COALESCE(MIN(CASE WHEN pos >= kp THEN pos END),
                      MIN(pos)) AS s_new
      FROM keys CROSS JOIN vn GROUP BY user_id, kp
    ),
    moved AS (
      SELECT COUNT(*) AS n_keys,
             SUM(CASE WHEN kp % {_N_OLD} <> kp % {_N_NEW}
                 THEN 1 ELSE 0 END) AS m_mod,
             SUM(CASE WHEN s_old <> s_new THEN 1 ELSE 0 END) AS m_ring
      FROM succ
    )
    SELECT strategy,
           CAST(n_keys AS BIGINT) AS n_keys,
           CAST(n_moved AS BIGINT) AS n_moved,
           CAST(n_moved * 1000000 // n_keys AS BIGINT) AS moved_ppm
    FROM (
      SELECT 'mod' AS strategy, n_keys, m_mod AS n_moved FROM moved
      UNION ALL
      SELECT 'ring' AS strategy, n_keys, m_ring AS n_moved FROM moved
    ) ORDER BY strategy
    """,
    tags=("infra", "sharding", "consistent-hashing", "planning"),
)
def q308_resharding_migration_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What fraction of keys MOVE when the cluster scales 32 -> 33
    shards, under hash-mod-N placement (shard = keyhash % N, the
    standard naive scheme) versus a consistent-hash ring
    (4 md5-derived virtual nodes per shard)? Mod-N reshuffles
    ~(1 - 1/33) of all keys — a full-cluster cache/state migration;
    the ring moves only keys whose successor vnode belongs to the new
    shard, ~1/33. The audit computes both EXACTLY over the real key
    population (distinct event user_ids): a key moved on the ring iff
    its clockwise-successor vnode position differs between the
    32-shard and 33-shard rings (the old ring's vnodes are a subset
    of the new ring's, so comparing successor POSITIONS needs no
    node-id join at all). All positions are the md5-derived 60-bit
    integers of the dedup family (operators/dedup.py doctrine), so
    both engines walk the identical ring.

    Scale: the vnode table is 132 rows — broadcast; successor search
    is a map-side-combinable MIN per key over the broadcast cross
    join; one shuffle for the distinct keys, one scalar reduce. This
    is the audit a 1000-executor stateful-shuffle service runs before
    deciding HOW to scale out."""
    ev = load(spark, sf_dir, "events")
    keys = (
        ev.select("user_id")
        .distinct()
        .select(
            "user_id",
            _hex60(
                F.md5(F.concat(F.lit("key:"), F.col("user_id").cast("string"))),
                1,
            ).alias("kp"),
        )
    )
    vn = spark.range(_N_NEW * _REPLICAS).select(
        F.expr(f"id div {_REPLICAS}").alias("node"),
        _hex60(
            F.md5(
                F.concat(
                    F.lit("vn:"),
                    F.expr(f"id div {_REPLICAS}").cast("string"),
                    F.lit(":"),
                    (F.col("id") % _REPLICAS).cast("string"),
                )
            ),
            1,
        ).alias("pos"),
    )
    succ = (
        keys.crossJoin(F.broadcast(vn))
        .groupBy("user_id", "kp")
        .agg(
            F.coalesce(
                F.min(
                    F.when(
                        (F.col("node") < _N_OLD) & (F.col("pos") >= F.col("kp")),
                        F.col("pos"),
                    )
                ),
                F.min(F.when(F.col("node") < _N_OLD, F.col("pos"))),
            ).alias("s_old"),
            F.coalesce(
                F.min(F.when(F.col("pos") >= F.col("kp"), F.col("pos"))),
                F.min("pos"),
            ).alias("s_new"),
        )
    )
    moved = succ.agg(
        F.count(F.lit(1)).alias("n_keys"),
        F.sum(
            F.when(F.col("kp") % _N_OLD != F.col("kp") % _N_NEW, 1).otherwise(0)
        ).alias("m_mod"),
        F.sum(
            F.when(F.col("s_old") != F.col("s_new"), 1).otherwise(0)
        ).alias("m_ring"),
    )
    return moved.selectExpr(
        "stack(2, 'mod', m_mod, 'ring', m_ring) AS (strategy, n_moved)",
        "n_keys",
    ).select(
        "strategy",
        F.col("n_keys").cast("bigint"),
        F.col("n_moved").cast("bigint"),
        F.expr("CAST(n_moved * 1000000 div n_keys AS BIGINT)").alias(
            "moved_ppm"
        ),
    ).orderBy("strategy")
