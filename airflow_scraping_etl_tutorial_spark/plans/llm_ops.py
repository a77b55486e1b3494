"""LLM-data-pipeline operators (SURVEY.md §2.10 ⊕): dedup, text
analysis, fingerprinting, similarity search — over the documents and
embeddings fixtures.

Design rule: everything here must survive 100 TB. That means:
- no crossJoin over the full corpus (candidate generation via shared
  keys: hashes, LSH bands, shingle buckets);
- every hash is md5-derived (operators/dedup.py doctrine), so EVERY
  catalog entry here is value-checked against a DuckDB oracle — the
  generated-SQL builders below replay signatures, buckets, candidates,
  and verify stages rather than trusting shapes;
- all hot-path expressions are built-in functions (codegen); Python
  appears only at the sanctioned Arrow-batched UDx boundaries (q79
  UDTF, q85 UDAF, q93/q94 mapInPandas) and each of those is ALSO
  oracle-replayed relationally.

Implementation operators live in operators/ (dedup.py, similarity.py,
text.py); this module declares the oracle-checked catalog entries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import (
    decontaminate,
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    mix_rotations,
    ngram_jaccard_pairs,
    simhash,
)
from ..operators.similarity import (
    EMBED_DIM,
    brute_force_topk_cosine,
    embedding_near_dup_pairs,
    ivf_topk_cosine,
    lsh_bucket_candidates,
)
from ..operators.text import (
    STOPWORDS,
    en_stopword_ratio,
    language_id,
    quality_score,
    repetition_stats,
    token_count,
    tokens,
)
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# Oracle SQL builders for the md5-derived 60-bit hash family
# (operators/dedup.py): the oracle recomputes the SAME MinHash/SimHash
# values in DuckDB, so LSH candidate sets and verified pairs sit under
# the driver's value-hash gate. Shared constants come from the operator
# module (mix_rotations) so the two sides cannot drift apart.
# ---------------------------------------------------------------------------

_M60 = (1 << 60) - 1


def _sql_hex60(md5_expr: str, start: int) -> str:
    """DuckDB twin of operators.dedup._hex60 (verified bit-identical)."""
    return f"CAST('0x' || SUBSTR({md5_expr}, {start}, 15) AS BIGINT)"


def _sql_rotl60(expr: str, r: int) -> str:
    """Rotate-left on 60 bits; the shift runs in HUGEINT (DuckDB BIGINT
    shifts overflow-check, unlike Spark's wrapping shiftleft)."""
    return (
        f"CAST((((CAST({expr} AS HUGEINT) << {r}) & {_M60}) | ({expr} >> {60 - r}))"
        f" AS BIGINT)"
    )


def _sql_mix60(x_expr: str, v_expr: str, j: int) -> str:
    rj, sj = mix_rotations(j)
    return f"xor({_sql_rotl60(x_expr, rj)}, {_sql_rotl60(v_expr, sj)})"


# Distinct 3-word shingles — the DuckDB twin of dedup.word_shingles(k=3).
_SQL_SHINGLES3 = """
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
"""


def _sql_minhash_sig_cte(n_hashes: int) -> str:
    """hx CTE body: per-doc 60-bit shingle hashes (xs) + mh_0..mh_{n-1}
    (docs with zero shingles excluded — their Spark signature is NULL
    and the null jaccard verify drops their pairs)."""
    mh = ",\n             ".join(
        "LIST_MIN(LIST_TRANSFORM(shingles, s -> "
        + _sql_mix60(_sql_hex60("MD5(s)", 1), _sql_hex60("MD5(s)", 17), j)
        + f")) AS mh_{j}"
        for j in range(n_hashes)
    )
    return f"""
      SELECT doc_id,
             LIST_TRANSFORM(shingles, s -> {_sql_hex60('MD5(s)', 1)}) AS xs,
             {mh}
      FROM sh WHERE LEN(shingles) > 0
"""


def _sql_band_condition(n_hashes: int, bands: int) -> str:
    """OR-of-band-tuple-equalities between signature rows `a` and `b` —
    the oracle form of the LSH bucket join (equal band tuples <=> equal
    xxhash64 bucket keys, modulo a ~2^-64 collision the exact-Jaccard
    verify absorbs)."""
    r = n_hashes // bands
    bands_sql = []
    for band in range(bands):
        eqs = " AND ".join(
            f"a.mh_{band * r + i} = b.mh_{band * r + i}" for i in range(r)
        )
        bands_sql.append(f"({eqs})")
    return "(" + " OR ".join(bands_sql) + ")"


def _sql_minhash_pairs(jaccard_threshold: float) -> str:
    """CTE chain sh -> hx -> cand -> pairs: the full MinHash+LSH
    near-dup pipeline (8 hashes in 4 bands, band candidates +
    exact-Jaccard verify) in DuckDB. Callers append their own final
    SELECT over `pairs`."""
    return f"""
    sh AS ({_SQL_SHINGLES3}),
    hx AS ({_sql_minhash_sig_cte(8)}),
    cand AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             LEN(LIST_INTERSECT(a.xs, b.xs)) AS n_common,
             LEN(a.xs) AS n_a, LEN(b.xs) AS n_b
      FROM hx a JOIN hx b
        ON a.doc_id < b.doc_id AND {_sql_band_condition(8, 4)}
    ),
    pairs AS (
      SELECT doc_id_a, doc_id_b,
             ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6) AS jaccard
      FROM cand
      WHERE ROUND(CAST(n_common AS DOUBLE) / (n_a + n_b - n_common), 6)
              >= {jaccard_threshold}
    )
"""


def _sql_dot(x: str, y: str, dim: int = EMBED_DIM) -> str:
    """Explicit left-associated dot product — same accumulation order
    as Spark's aggregate() fold (bit-identical doubles), ~10x faster in
    DuckDB than a LIST_TRANSFORM(RANGE) lambda."""
    return "(" + " + ".join(
        f"CAST({x}[{i}] AS DOUBLE) * CAST({y}[{i}] AS DOUBLE)"
        for i in range(1, dim + 1)
    ) + ")"


def _sql_cosine(a: str, b: str, dim: int = EMBED_DIM) -> str:
    """DuckDB twin of operators.similarity.cosine (same multiply/
    accumulate order => bit-identical doubles, proven by q71/q74)."""
    return (
        f"({_sql_dot(a, b, dim)} / "
        f"(SQRT({_sql_dot(a, a, dim)}) * SQRT({_sql_dot(b, b, dim)})))"
    )


def _sql_srp_bucket(n_planes: int) -> str:
    """Sign-random-projection bucket key of `embedding` with the SAME
    md5-derived hyperplane constants the Spark operator embeds as literals
    (operators/similarity.py::_deterministic_planes).

    The dot product is an EXPLICIT left-associated term chain
    (e[1]*w1 + e[2]*w2 + ...): SQL's + is left-associative, so the
    double accumulation order matches Spark's aggregate() fold
    bit-for-bit, and DuckDB evaluates it ~10x faster than a
    LIST_TRANSFORM(RANGE) lambda per plane."""
    from ..operators.similarity import _deterministic_planes

    terms = []
    for p, plane in enumerate(_deterministic_planes(n_planes)):
        dot = " + ".join(
            f"CAST(embedding[{i + 1}] AS DOUBLE) * {w!r}" for i, w in enumerate(plane)
        )
        terms.append(f"(CASE WHEN {dot} > 0 THEN 1 ELSE 0 END) * {1 << p}")
    return "CAST(" + " + ".join(terms) + " AS BIGINT)"


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "q60_dedup_exact_text",
    oracle="""
    SELECT MD5(text) AS text_md5,
           MIN(doc_id) AS keep_doc_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY 1
    ORDER BY 1
    """,
    tags=("llm", "dedup"),
)
def q60_dedup_exact_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup by content hash: one representative (min doc_id) per
    distinct text.

    Scale: groupBy on md5(text) — the 32-hex key shuffles instead of the
    full document body, so the exchange carries ~32B+8B per row no matter
    how large the documents are. This is why we hash first and never
    shuffle raw text."""
    return exact_dedup(load(spark, sf_dir, "documents")).orderBy("text_md5")


@query(
    "q61_dedup_distinct_rows",
    oracle="""
    SELECT DISTINCT lang, source FROM documents ORDER BY lang, source
    """,
    tags=("llm", "dedup"),
)
def q61_dedup_distinct_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dropDuplicates on a column subset (the dedup primitive)."""
    return (
        load(spark, sf_dir, "documents")
        .select("lang", "source")
        .dropDuplicates()
        .orderBy("lang", "source")
    )


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "q62_text_token_stats",
    oracle="""
    SELECT doc_id,
           CAST(LEN(STRING_SPLIT(text, ' ')) AS INTEGER) AS n_tokens,
           LENGTH(text) AS n_chars_computed,
           n_chars AS n_chars_claimed,
           LENGTH(text) = n_chars AS n_chars_ok,
           ROUND(CAST(LENGTH(REPLACE(text, ' ', '')) AS DOUBLE)
                 / LEN(STRING_SPLIT(text, ' ')), 6) AS avg_token_len
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "text"),
)
def q62_text_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting + length stats per document, all codegen'd string
    expressions (no UDF). Also validates the fixture's own n_chars column
    — the engine re-checks upstream claims (same stance as the 合計
    recompute)."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    return d.select(
        "doc_id",
        token_count(F.col("text")).alias("n_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.col("n_chars").alias("n_chars_claimed"),
        (F.length("text") == F.col("n_chars")).alias("n_chars_ok"),
        F.round(
            F.length(F.replace(F.col("text"), F.lit(" "), F.lit(""))).cast("double")
            / F.size(toks),
            6,
        ).alias("avg_token_len"),
    ).orderBy("doc_id")


@query(
    "q63_text_quality_score",
    oracle="""
    WITH t AS (
      SELECT doc_id, lang,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens,
             LEN(LIST_FILTER(STRING_SPLIT(text, ' '),
                 x -> x IN ('the', 'a', 'of', 'to', 'and', 'in', 'is', 'it',
                            'that', 'for'))) AS n_stop
      FROM documents
    )
    SELECT doc_id, lang,
           CAST(n_tokens AS INTEGER) AS n_tokens,
           ROUND(CAST(n_stop AS DOUBLE) / n_tokens, 6) AS stopword_ratio,
           CAST(n_tokens BETWEEN 10 AND 1000 AS BOOLEAN) AS length_ok,
           (CAST(n_stop AS DOUBLE) / n_tokens) >= 0.05 AS looks_english
    FROM t ORDER BY doc_id
    """,
    tags=("llm", "text", "quality"),
)
def q63_text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: length gate + stopword ratio (the classic
    Gopher/C4-style heuristics), pure higher-order functions."""
    d = load(spark, sf_dir, "documents")
    toks = tokens(F.col("text"))
    ratio = en_stopword_ratio(F.col("text"))
    return d.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n_tokens"),
        F.round(ratio, 6).alias("stopword_ratio"),
        F.size(toks).between(10, 1000).alias("length_ok"),
        (ratio >= 0.05).alias("looks_english"),
    ).orderBy("doc_id")


@query(
    "q64_text_fingerprint",
    oracle="""
    SELECT doc_id,
           MD5(text) AS fp_md5,
           MD5(LOWER(TRIM(text))) AS fp_normalized
    FROM documents ORDER BY doc_id
    """,
    tags=("llm", "text", "fingerprint"),
)
def q64_text_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprinting: raw + normalized (casefold/trim) content
    hashes. md5 on both engines -> oracle-comparable hex."""
    d = load(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        F.md5("text").alias("fp_md5"),
        F.md5(F.lower(F.trim("text"))).alias("fp_normalized"),
    ).orderBy("doc_id")


def _sql_stop_ratio(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"(CAST(LEN(LIST_FILTER(STRING_SPLIT(text, ' '), x -> x IN ({words})))"
        f" AS DOUBLE) / LEN(STRING_SPLIT(text, ' ')))"
    )


@query(
    "q65_language_id_heuristic",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, lang AS claimed_lang,
             {", ".join(f"{_sql_stop_ratio(lang)} AS s_{lang}" for lang in sorted(STOPWORDS))}
      FROM documents
    ),
    best AS (
      SELECT *, GREATEST({", ".join(f"s_{lang}" for lang in sorted(STOPWORDS))}) AS b
      FROM scored
    )
    SELECT doc_id,
           CASE WHEN b = 0 THEN 'und'
                {" ".join(f"WHEN s_{lang} = b THEN '{lang}'" for lang in sorted(STOPWORDS))}
           END AS predicted_lang,
           ROUND(b, 6) AS lang_score,
           claimed_lang
    FROM best ORDER BY doc_id
    """,
    tags=("llm", "text", "langid"),
)
def q65_language_id_heuristic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-profile language ID (n-gram/stopword heuristic): scores
    each doc against per-language stopword profiles, argmax with
    lexicographic tie-break ('und' when no profile matches at all).
    The oracle recomputes the same ratios from the same profiles
    (single double division — bit-exact cross-engine), so prediction,
    score, and tie-breaks are all value-checked."""
    d = load(spark, sf_dir, "documents")
    return language_id(d).orderBy("doc_id")


@query(
    "q66_corpus_stats_by_lang",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_chars), 6) AS avg_chars,
           CAST(MIN(n_chars) AS BIGINT) AS min_chars,
           CAST(MAX(n_chars) AS BIGINT) AS max_chars
    FROM documents GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "text", "agg"),
)
def q66_corpus_stats_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level stats per language — the aggregation a training-data
    pipeline runs before/after every filter stage."""
    d = load(spark, sf_dir, "documents")
    return (
        d.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.size(tokens(F.col("text"))).cast("bigint")).alias("total_tokens"),
            F.round(F.avg("n_chars"), 6).alias("avg_chars"),
            F.min("n_chars").cast("bigint").alias("min_chars"),
            F.max("n_chars").cast("bigint").alias("max_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Near-duplicate detection (MinHash / SimHash / n-gram Jaccard)
# ---------------------------------------------------------------------------


@query(
    "q67_minhash_signatures",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3})
    SELECT doc_id,
           {", ".join(
        "LIST_MIN(LIST_TRANSFORM(shingles, s -> "
        + _sql_mix60(_sql_hex60("MD5(s)", 1), _sql_hex60("MD5(s)", 17), j)
        + f")) AS mh_{j}"
        for j in range(8)
    )}
    FROM sh ORDER BY doc_id
    """,
    tags=("llm", "dedup", "minhash"),
)
def q67_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (8 hashes over 3-word shingles, md5-derived
    60-bit family — operators/dedup.py) — every signature VALUE is
    reproduced by the DuckDB oracle, so the signatures themselves sit
    under the hash gate. Scale: shingling + hashing is per-row map
    work; no shuffle until the band-bucket join in q68."""
    return minhash_signatures(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q68_minhash_near_duplicates",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)}
    SELECT doc_id_a, doc_id_b, jaccard FROM pairs
    ORDER BY doc_id_a, doc_id_b
    """,
    tags=("llm", "dedup", "minhash", "lsh"),
)
def q68_minhash_near_duplicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH near-dup pairs: band signatures -> bucket self-join ->
    exact Jaccard verify on candidates only. The oracle replays the
    WHOLE pipeline (same md5-derived hash family, band-tuple-equality
    candidates, exact-Jaccard verify), so the candidate set AND the
    verified pairs are value-checked cross-engine.

    Scale: the self-join is on band-hash buckets, so cost is
    O(sum(bucket^2)) not O(n^2); band count / rows-per-band tune the
    recall-cost tradeoff exactly as in the MMDS formulation."""
    return minhash_near_duplicates(
        load(spark, sf_dir, "documents"), bands=4, jaccard_threshold=0.5
    ).orderBy("doc_id_a", "doc_id_b")


@query(
    "q69_simhash_fingerprints",
    oracle=f"""
    WITH t AS (
      SELECT doc_id, {_sql_hex60('MD5(tok)', 1)} AS h
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
    ),
    v AS (
      SELECT doc_id, COUNT(*) AS n_toks,
             {", ".join(f"SUM(((h >> {b}) & 1) * 2 - 1) AS v_{b}" for b in range(60))}
      FROM t GROUP BY doc_id
    )
    SELECT doc_id,
           CAST({" + ".join(f"(CASE WHEN v_{b} > 0 THEN 1 ELSE 0 END) * {1 << b}" for b in range(60))} AS BIGINT) AS simhash,
           CAST(n_toks AS BIGINT) AS n_tokens
    FROM v ORDER BY doc_id
    """,
    tags=("llm", "dedup", "simhash"),
)
def q69_simhash_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """60-bit SimHash per document (md5-derived token hashes, weighted
    bit-vote) — the fingerprint VALUES are recomputed bit-for-bit by
    the DuckDB oracle (same 60-bit token words, same vote/sign rule).
    Near-dups then cluster by low Hamming distance; the fingerprint
    column is groupable/joinable at any scale."""
    return simhash(load(spark, sf_dir, "documents")).orderBy("doc_id")


@query(
    "q70_ngram_jaccard_pairs",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents WHERE doc_id < 100
    ),
    pairs AS (
      SELECT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b,
             LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS n_common,
             LEN(a.shingles) + LEN(b.shingles)
               - LEN(LIST_INTERSECT(a.shingles, b.shingles)) AS n_union
      FROM sh a JOIN sh b ON a.doc_id < b.doc_id
    )
    SELECT doc_id_a, doc_id_b,
           ROUND(CAST(n_common AS DOUBLE) / n_union, 6) AS jaccard
    FROM pairs WHERE n_common > 0
    ORDER BY doc_id_a, doc_id_b
    """,
    tags=("llm", "dedup", "jaccard"),
)
def q70_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram-shingle Jaccard for all overlapping pairs in a
    bounded slice (doc_id < 100).

    The slice bound exists because exact all-pairs is O(n^2) — the
    full-corpus path is q68 (LSH candidates first, exact Jaccard only on
    candidates). Candidate generation here is an inverted-index join on
    shared shingles: only pairs sharing >= 1 shingle are scored."""
    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    return ngram_jaccard_pairs(docs).orderBy("doc_id_a", "doc_id_b")


# ---------------------------------------------------------------------------
# Similarity search over embeddings
# ---------------------------------------------------------------------------


@query(
    "q71_cosine_topk_bruteforce",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 5),
    scored AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             {_sql_cosine('q.embedding', 'e.embedding')} AS cosine
      FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ROUND(cosine, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cosine DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    tags=("llm", "similarity", "ann"),
)
def q71_cosine_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 neighbors for 5 query vectors — the exact
    baseline every ANN variant is measured against.

    Scale: query set broadcast against the corpus (corpus never
    shuffles); per-partition top-k via window. Cost O(|q| * n) — fine
    for small query batches; the LSH path (q72) is the n-vs-n answer."""
    emb = load(spark, sf_dir, "embeddings")
    queries_df = emb.filter(F.col("vec_id") < 5)
    return brute_force_topk_cosine(queries_df, emb, k=5).orderBy("query_id", "rnk")


@query(
    "q72_lsh_bucket_candidates",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, {_sql_srp_bucket(16)} AS bucket FROM embeddings
    )
    SELECT vec_id, bucket, COUNT(*) OVER (PARTITION BY bucket) AS bucket_size
    FROM b ORDER BY vec_id
    """,
    tags=("llm", "similarity", "ann", "lsh"),
)
def q72_lsh_bucket_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-random-projection LSH: 16 deterministic md5-derived
    hyperplanes -> bucket key per vector; same-bucket vectors are ANN
    candidates. The oracle recomputes every bucket key from the same
    hyperplane constants (the sign of an identically-associated double
    dot product), so the bucketing itself is value-checked. At scale
    the candidate join replaces the O(n^2) crossJoin with
    O(sum(bucket^2))."""
    return lsh_bucket_candidates(load(spark, sf_dir, "embeddings")).orderBy("vec_id")


@query(
    "q73_embedding_norm_stats",
    oracle="""
    SELECT label,
           COUNT(*) AS n_vectors,
           ROUND(CAST(SUM(CAST(SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS DECIMAL(18,6)))
             AS DOUBLE) / COUNT(*), 6) AS avg_l2_norm
    FROM embeddings GROUP BY label ORDER BY label
    """,
    tags=("llm", "similarity", "agg"),
)
def q73_embedding_norm_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label L2-norm stats — vector-column aggregation with
    higher-order functions only (JVM-side, no UDF)."""
    e = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    norm = F.sqrt(F.aggregate(dbl, F.lit(0.0), lambda acc, x: acc + x * x))
    return (
        e.groupBy("label")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.round(
                F.sum(norm.cast("decimal(18,6)")).cast("double") / F.count(F.lit(1)), 6
            ).alias("avg_l2_norm"),
        )
        .orderBy("label")
    )


@query(
    "q74_embedding_near_dup_exact",
    oracle=f"""
    WITH sub AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 300),
    pairs AS (
      SELECT a.vec_id AS vec_id_a, b.vec_id AS vec_id_b,
             {_sql_cosine('a.embedding', 'b.embedding')} AS cos_raw
      FROM sub a JOIN sub b ON a.vec_id < b.vec_id
    )
    SELECT vec_id_a, vec_id_b, ROUND(cos_raw, 6) AS cosine
    FROM pairs WHERE cos_raw >= 0.35
    ORDER BY vec_id_a, vec_id_b
    """,
    tags=("llm", "dedup", "embedding"),
)
def q74_embedding_near_dup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact all-pairs on a bounded
    slice (vec_id < 300) — the verifiable baseline for q75's LSH path
    (same reason q70 bounds the exact Jaccard)."""
    from ..operators.similarity import cosine

    sub = load(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 300)
    # threshold calibrated to the fixture: max pairwise cosine ~0.46
    a = sub.select(F.col("vec_id").alias("vec_id_a"), F.col("embedding").alias("ea"))
    b = sub.select(F.col("vec_id").alias("vec_id_b"), F.col("embedding").alias("eb"))
    pairs = a.join(b, F.col("vec_id_a") < F.col("vec_id_b")).select(
        "vec_id_a", "vec_id_b", cosine(F.col("ea"), F.col("eb")).alias("cos_raw")
    )
    return (
        pairs.filter(F.col("cos_raw") >= 0.35)
        .select("vec_id_a", "vec_id_b", F.round("cos_raw", 6).alias("cosine"))
        .orderBy("vec_id_a", "vec_id_b")
    )


@query(
    "q75_embedding_near_dup_lsh",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, {_sql_srp_bucket(6)} AS bucket,
             LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e,
             SQRT(LIST_SUM(LIST_TRANSFORM(embedding,
                  x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
      FROM embeddings
    ),
    cand AS (
      SELECT a.vec_id AS vec_id_a, b2.vec_id AS vec_id_b,
             LIST_SUM(LIST_TRANSFORM(RANGE(1, 65), i -> a.e[i] * b2.e[i]))
               / (a.nrm * b2.nrm) AS cos_raw
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    )
    SELECT vec_id_a, vec_id_b, ROUND(cos_raw, 6) AS cosine
    FROM cand WHERE cos_raw >= 0.3
    ORDER BY vec_id_a, vec_id_b
    """,
    tags=("llm", "dedup", "embedding", "lsh"),
)
def q75_embedding_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup pairs at corpus scale: LSH bucket candidates +
    exact cosine threshold (operators/similarity.py::
    embedding_near_dup_pairs) — the O(sum(bucket^2)) form of q74. The
    oracle replays the same buckets (md5-derived hyperplanes), the same
    candidate join, and the same precomputed-norm cosine, so the final
    pair set is value-checked cross-engine."""
    # 6 planes: the fixture has no true near-identical vectors (max
    # cosine ~0.46), so the plane count is the recall-vs-cost dial — at
    # 3 planes the bucket self-join balloons to ~300M candidate pairs at
    # sf0.1 (measured 13s); 6 planes keeps buckets ~64x smaller while
    # still colliding moderate-similarity pairs.
    return embedding_near_dup_pairs(
        load(spark, sf_dir, "embeddings"), threshold=0.3, n_planes=6
    ).orderBy("vec_id_a", "vec_id_b")


@query(
    "q76_ivf_topk_cosine",
    oracle=f"""
    WITH cent AS (
      SELECT vec_id AS centroid_id, embedding AS c_emb FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    corpus_assign AS (
      SELECT e.vec_id AS neighbor_id, c.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'c.c_emb')} DESC, c.centroid_id
             ) AS cr
      FROM embeddings e CROSS JOIN cent c
    ),
    corpus_cells AS (SELECT neighbor_id, centroid_id FROM corpus_assign WHERE cr = 1),
    q_assign AS (
      SELECT e.vec_id AS query_id, c.centroid_id,
             ROW_NUMBER() OVER (
               PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'c.c_emb')} DESC, c.centroid_id
             ) AS cr
      FROM embeddings e CROSS JOIN cent c WHERE e.vec_id < 5
    ),
    q_cells AS (SELECT query_id, centroid_id FROM q_assign WHERE cr <= 4),
    cand AS (
      SELECT DISTINCT q.query_id, cc.neighbor_id
      FROM q_cells q JOIN corpus_cells cc USING (centroid_id)
      WHERE q.query_id <> cc.neighbor_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine('qe.embedding', 'ne.embedding')} AS cos_raw
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    tags=("llm", "similarity", "ann", "ivf"),
)
def q76_ivf_topk_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN top-k (centroid cells + n_probe search) — the
    second scale path beside LSH (q72); recall measured against the
    exact baseline q71 in tests. Centroids are the md5-hash-ordered
    top-16 of the corpus (deterministic, no global sort/count — see
    operators/similarity.py::ivf_topk_cosine), so the oracle replays
    centroid selection, Voronoi assignment, n_probe cell search, and
    the exact re-rank end to end."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_cosine(emb.filter(F.col("vec_id") < 5), emb).orderBy(
        "query_id", "rnk"
    )


@query(
    "q77_training_data_prep_pipeline",
    oracle="""
    WITH scored AS (
      SELECT doc_id, lang, text,
             LEN(STRING_SPLIT(text, ' ')) AS n_tokens
      FROM documents
    ),
    filtered AS (
      SELECT * FROM scored WHERE n_tokens BETWEEN 20 AND 2000 AND lang IN ('en', 'de')
    ),
    deduped AS (
      SELECT MIN(doc_id) AS doc_id, ANY_VALUE(lang) AS lang,
             ANY_VALUE(n_tokens) AS n_tokens
      FROM filtered GROUP BY MD5(text)
    )
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
           ROUND(AVG(n_tokens), 6) AS avg_tokens
    FROM deduped GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "pipeline", "dedup", "agg"),
)
def q77_training_data_prep_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A composite training-data prep pass — the operators of this
    module chained the way a real corpus build chains them:
    quality/length filter -> language gate -> exact dedup (hash-grouped,
    keep min id) -> corpus accounting.

    One declarative plan: Catalyst fuses the filters into the scan, the
    dedup is one digest-keyed shuffle, the accounting rides the same
    aggregation. At 100 TB this is scan -> one exchange -> tiny output.
    """
    d = load(spark, sf_dir, "documents")
    scored = d.select(
        "doc_id", "lang", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    filtered = scored.filter(
        F.col("n_tokens").between(20, 2000) & F.col("lang").isin("en", "de")
    )
    deduped = filtered.groupBy(F.md5("text")).agg(
        F.min("doc_id").alias("doc_id"),
        F.first("lang").alias("lang"),
        F.first("n_tokens").alias("n_tokens"),
    )
    return (
        deduped.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
            F.round(F.avg("n_tokens"), 6).alias("avg_tokens"),
        )
        .orderBy("lang")
    )


@query(
    "q78_top_words_by_lang",
    oracle="""
    WITH words AS (
      SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS word FROM documents
    ),
    counted AS (
      SELECT lang, word, COUNT(*) AS n FROM words GROUP BY 1, 2
    ),
    ranked AS (
      SELECT lang, word, n,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY n DESC, word) AS rnk
      FROM counted
    )
    SELECT lang, word, n, rnk FROM ranked WHERE rnk <= 5
    ORDER BY lang, rnk
    """,
    tags=("llm", "text", "topk", "explode"),
)
def q78_top_words_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 words per language: explode -> count -> windowed top-k.
    The vocabulary-accounting query every corpus build runs; the word
    explode is the only row expansion and the count collapses it
    map-side before the shuffle."""
    from pyspark.sql import Window as W

    d = load(spark, sf_dir, "documents")
    counted = (
        d.select("lang", F.explode(tokens(F.col("text"))).alias("word"))
        .groupBy("lang", "word")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = W.partitionBy("lang").orderBy(F.desc("n"), F.asc("word"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 5)
        .orderBy("lang", "rnk")
    )


@query(
    "q79_udtf_chunking",
    oracle="""
    WITH d AS (
      SELECT doc_id, STRING_SPLIT(text, ' ') AS words
      FROM documents WHERE doc_id < 50
    ),
    expanded AS (
      SELECT doc_id, words,
             UNNEST(RANGE(0, CAST(CEIL(LEN(words) / 32.0) AS BIGINT))) AS c
      FROM d
    )
    SELECT doc_id,
           CAST(c AS INTEGER) AS chunk_no,
           ARRAY_TO_STRING(words[c * 32 + 1 : c * 32 + 32], ' ') AS chunk,
           CAST(LEAST(32, LEN(words) - c * 32) AS INTEGER) AS n_tokens
    FROM expanded ORDER BY doc_id, chunk_no
    """,
    tags=("llm", "udtf", "chunking"),
)
def q79_udtf_chunking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document chunking via a Python UDTF (operators/udx.py): long doc
    -> training-window-sized pieces through a LATERAL table function.
    The sanctioned non-explode row-expansion escape hatch. The oracle
    re-expresses the chunking relationally (RANGE unnest + array
    slicing), so chunk boundaries, text, and counts are value-checked."""
    from ..operators.udx import chunk_documents

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 50)
    return chunk_documents(docs).orderBy("doc_id", "chunk_no")


@query(
    "q85_pandas_udaf_trimmed_mean",
    oracle="""
    WITH q AS (
      SELECT o_orderstatus,
             QUANTILE_CONT(o_totalprice, 0.1) AS lo,
             QUANTILE_CONT(o_totalprice, 0.9) AS hi,
             ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE)
                   / COUNT(*), 4) AS mean_price,
             SUM(CAST(CAST(o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS micro_sum_all,
             COUNT(*) AS n
      FROM orders GROUP BY 1
    ),
    k AS (
      -- UDAF small-group fallbacks mirrored (ADVICE r2): groups with
      -- n < 3 keep ALL values (gated out of k -> COALESCE below), and a
      -- group whose [p10,p90] band keeps nothing falls back too (no k
      -- row -> LEFT JOIN + COALESCE). For n >= 3, QUANTILE_CONT's
      -- (n-1)*q interpolation always brackets the median, so the band
      -- is non-empty and k matches the UDAF's kept set exactly.
      SELECT o.o_orderstatus,
             SUM(CAST(CAST(o.o_totalprice AS DECIMAL(18,6)) * 1000000 AS BIGINT))
               AS micro_sum,
             COUNT(*) AS n_kept
      FROM orders o JOIN q ON o.o_orderstatus = q.o_orderstatus
      WHERE o.o_totalprice BETWEEN q.lo AND q.hi AND q.n >= 3
      GROUP BY 1
    )
    SELECT q.o_orderstatus,
           ROUND((CAST(COALESCE(k.micro_sum, q.micro_sum_all) AS DOUBLE)
                  / 1000000.0) / COALESCE(k.n_kept, q.n), 4)
             AS trimmed_mean_price,
           q.mean_price,
           CAST(q.n AS BIGINT) AS n
    FROM q LEFT JOIN k USING (o_orderstatus)
    ORDER BY o_orderstatus
    """,
    tags=("agg", "udaf", "pandas"),
)
def q85_pandas_udaf_trimmed_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust (10%-trimmed) mean via Pandas grouped-agg UDAFs composed
    with built-in aggregates (operators/udx.py). The UDAF returns an
    exact integer micro-sum of the kept set (the engine's decimal-money
    pattern applied inside Python), so the trimmed mean is
    order-independent and the DuckDB oracle replays it exactly:
    QUANTILE_CONT bounds (same interpolation as pandas .quantile),
    decimal micro-sum, one double division chain."""
    from ..operators.udx import robust_price_stats

    return robust_price_stats(load(spark, sf_dir, "orders")).orderBy("o_orderstatus")


@query(
    "q86_minhash_estimation_accuracy",
    oracle=f"""
    WITH {_sql_minhash_pairs(1e-9)},
    hx16 AS ({_sql_minhash_sig_cte(16)}),
    scored AS (
      SELECT pairs.jaccard AS exact_jaccard,
             ({" + ".join(f"(CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END)" for j in range(16))})
               / 16.0 AS estimated_jaccard
      FROM pairs
      JOIN hx16 a ON a.doc_id = pairs.doc_id_a
      JOIN hx16 b ON b.doc_id = pairs.doc_id_b
    )
    SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND(CAST(SUM(CAST(ABS(estimated_jaccard - exact_jaccard)
                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS mae,
           ROUND(CAST(SUM(CAST(estimated_jaccard - exact_jaccard
                 AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*), 4) AS bias
    FROM scored
    """,
    tags=("llm", "dedup", "minhash", "validation"),
)
def q86_minhash_estimation_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Self-validation: for every LSH candidate pair, compare the
    MinHash ESTIMATE of Jaccard (fraction of agreeing slots in an
    independent 16-hash signature) with the EXACT shingle Jaccard,
    reporting mean absolute error and the estimator's bias. The
    operator ships with its own accuracy audit — at 100 TB you monitor
    this on a sampled slice per run. MAE/bias use the decimal-exact
    mean pattern (functions/compare.py) so the averages are
    order-independent; the oracle replays candidates, signatures, and
    both error aggregates."""
    from ..operators.dedup import _minhash_cols, shingle_words

    n_hashes = 16
    d = load(spark, sf_dir, "documents")
    sw = shingle_words(d, 3)
    sig = sw.select("doc_id", *_minhash_cols(F.col("xs"), F.col("vs"), n_hashes))
    # Threshold 1e-9, not 0.0: at exactly 0.0 the Spark-side exact-Jaccard
    # verify no longer absorbs bucket-KEY collisions (xxhash64) that the
    # oracle's band-TUPLE-equality join excludes — a tiny positive floor
    # keeps both sides candidate-identical (ADVICE r2).
    cand = minhash_near_duplicates(d, jaccard_threshold=1e-9).select(
        "doc_id_a", "doc_id_b", F.col("jaccard").alias("exact_jaccard")
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_id_a"),
        *[F.col(f"mh_{j}").alias(f"a_{j}") for j in range(n_hashes)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_id_b"),
        *[F.col(f"mh_{j}").alias(f"b_{j}") for j in range(n_hashes)],
    )
    agree = sum(
        F.when(F.col(f"a_{j}") == F.col(f"b_{j}"), 1).otherwise(0)
        for j in range(n_hashes)
    )
    scored = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select(
            "exact_jaccard",
            (agree / F.lit(float(n_hashes))).alias("estimated_jaccard"),
        )
    )
    diff = F.col("estimated_jaccard") - F.col("exact_jaccard")
    dec = "decimal(18,6)"
    return scored.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.round(
            F.sum(F.abs(diff).cast(dec)).cast("double") / F.count(F.lit(1)), 4
        ).alias("mae"),
        F.round(F.sum(diff.cast(dec)).cast("double") / F.count(F.lit(1)), 4).alias(
            "bias"
        ),
    )


@query(
    "q90_neardup_cluster_dedup",
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
    marked AS (
      SELECT doc.doc_id, doc.lang,
             COALESCE(c.component_id, doc.doc_id) AS component_id
      FROM documents doc LEFT JOIN comp c ON c.node = doc.doc_id
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CASE WHEN doc_id = component_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_canonical,
           CAST(SUM(CASE WHEN doc_id <> component_id THEN 1 ELSE 0 END) AS BIGINT)
             AS n_removed
    FROM marked GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "dedup", "cluster", "iterative"),
)
def q90_neardup_cluster_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full near-dup dedup pipeline: MinHash+LSH pairs ->
    connected components (iterative label propagation,
    operators/cluster.py) -> one canonical doc per cluster -> corpus
    accounting. The Spark side stays genuinely iterative
    (driver-controlled loop, localCheckpoint lineage truncation); the
    oracle reaches the same fixpoint declaratively with a recursive CTE
    (min-label reachability — fine at oracle scale, unusable at 100 TB
    where the iterative form with per-round convergence is the point)."""
    from ..operators.cluster import dedup_keep_canonical

    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    marked = dedup_keep_canonical(docs, pairs)
    return marked.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col("is_canonical"), 1).otherwise(0)).alias("n_canonical"),
        F.sum(F.when(~F.col("is_canonical"), 1).otherwise(0)).alias("n_removed"),
    ).orderBy("lang")


@query(
    "q91_minhash_md5_oracle_checked",
    oracle="""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    )
    SELECT doc_id,
           LIST_MIN(LIST_TRANSFORM(shingles, s -> MD5('0|' || s))) AS mh_0,
           LIST_MIN(LIST_TRANSFORM(shingles, s -> MD5('1|' || s))) AS mh_1,
           LIST_MIN(LIST_TRANSFORM(shingles, s -> MD5('2|' || s))) AS mh_2,
           LIST_MIN(LIST_TRANSFORM(shingles, s -> MD5('3|' || s))) AS mh_3
    FROM sh WHERE LEN(shingles) > 0
    ORDER BY doc_id
    """,
    tags=("llm", "dedup", "minhash", "oracle"),
)
def q91_minhash_md5_oracle_checked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures with md5 hash functions — bit-for-bit
    reproducible in BOTH engines, so the signature VALUES themselves sit
    under the oracle hash gate (md5 hex is identical in Spark and
    DuckDB, and lexicographic min over hex == min over the 128-bit
    integers). The production path (q67/q68) uses xxhash64 for ~8x
    cheaper hashing; this query pins the algorithm's semantics."""
    from ..operators.dedup import word_shingles

    d = load(spark, sf_dir, "documents")
    pre = d.select(
        "doc_id", word_shingles(F.col("text"), 3).alias("shingles")
    ).filter(F.size("shingles") > 0)

    def seeded_md5_min(j: int):
        # factory, NOT `lambda s, j=j`: F.transform inspects lambda
        # arity, and a two-parameter callable receives (element, index)
        # — the default arg would be silently replaced by the index
        return F.array_min(
            F.transform(F.col("shingles"), lambda s: F.md5(F.concat(F.lit(f"{j}|"), s)))
        )

    return pre.select(
        "doc_id", *[seeded_md5_min(j).alias(f"mh_{j}") for j in range(4)]
    ).orderBy("doc_id")


@query(
    "q92_stratified_sample_deterministic",
    oracle="""
    WITH sampled AS (
      SELECT * FROM documents
      WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1', '2')
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars
    FROM sampled GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sample", "deterministic"),
)
def q92_stratified_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~3/16 corpus sample via md5-prefix gating — the
    cross-engine-reproducible form of sampling (q54's hash-mod form is
    Spark-only; md5 is identical everywhere). A training pipeline uses
    exactly this to carve stable held-out slices: membership depends
    only on the key, never on partitioning, engine, or run."""
    d = load(spark, sf_dir, "documents")
    sampled = d.filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1", "2")
    )
    return (
        sampled.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
        )
        .orderBy("lang")
    )


# ---------------------------------------------------------------------------
# Multimodal columns (operators/multimodal.py) — binary content + typed
# metadata, processed by Arrow-batched mapInPandas. The decode step is a
# deterministic sha256-derived fake (the real decoder is an injection
# point, multimodal.py:strict_decoder), which makes the WHOLE pipeline —
# schema, batching, UDF signatures, 1->N expansion — oracle-checkable:
# DuckDB recomputes the sha256 features and byte-slice frames directly.
# ---------------------------------------------------------------------------


@query(
    "q93_multimodal_featurize",
    oracle="""
    WITH d AS (
      SELECT doc_id AS media_id, 'image' AS kind,
             CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
             SHA256(text) AS content_sha256
      FROM documents WHERE doc_id < 200
    )
    SELECT media_id, kind, n_bytes, content_sha256,
           ROUND(CAST(CAST(CAST('0x' || SUBSTR(content_sha256, 1, 2) AS INTEGER)
                 / 255.0 AS FLOAT) AS DOUBLE), 6) AS f0,
           ROUND(CAST(CAST(CAST('0x' || SUBSTR(content_sha256, 15, 2) AS INTEGER)
                 / 255.0 AS FLOAT) AS DOUBLE), 6) AS f7
    FROM d ORDER BY media_id
    """,
    tags=("multimodal", "mapInPandas", "udf"),
)
def q93_multimodal_featurize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/featurize end to end: documents re-typed as a
    media table (binary content + metadata map), features extracted by
    the Arrow-batched mapInPandas operator, feature components
    projected as scalars. The fake decoder derives features from the
    sha256 digest, so DuckDB replays bytes -> digest -> feature floats
    (with an explicit float32 round-trip mirroring the ArrayType(FLOAT)
    schema) and the Python-worker path is value-checked cross-engine."""
    from ..operators.multimodal import documents_as_media, extract_features

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_features(documents_as_media(docs))
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        "content_sha256",
        F.round(F.element_at("feature", 1).cast("double"), 6).alias("f0"),
        F.round(F.element_at("feature", 8).cast("double"), 6).alias("f7"),
    ).orderBy("media_id")


@query(
    "q94_multimodal_frame_sample",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             HEX(ENCODE(text)) AS hx,
             OCTET_LENGTH(ENCODE(text)) AS nb
      FROM documents WHERE doc_id < 100
    ),
    e AS (
      SELECT media_id, hx, nb,
             UNNEST(RANGE(0, GREATEST(nb // 160, 1))) AS f
      FROM m
    )
    SELECT media_id,
           CAST(f AS INTEGER) AS frame_no,
           SUBSTR(hx, CAST(f * 320 + 1 AS BIGINT), 320) AS frame_hex,
           CAST(LEAST(160, nb - f * 160) AS INTEGER) AS n_frame_bytes
    FROM e ORDER BY media_id, frame_no
    """,
    tags=("multimodal", "mapInPandas", "expansion"),
)
def q94_multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-style frame sampling: 1 media row -> N frame rows through
    the mapInPandas row-expansion operator (the multimodal UDTF shape).
    The fake 'frames' are deterministic byte slices, so the oracle
    replays the slicing on hex strings (2 hex chars per byte) and the
    1->N contract — frame boundaries, counts, payload bytes — is
    value-checked cross-engine."""
    from ..operators.multimodal import documents_as_media, frame_sample_stub

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 100)
    frames = frame_sample_stub(documents_as_media(docs), every_n=10)
    return frames.select(
        "media_id",
        "frame_no",
        F.hex("frame").alias("frame_hex"),
        F.octet_length("frame").alias("n_frame_bytes"),
    ).orderBy("media_id", "frame_no")


def _sql_probe_list(n_planes: int) -> str:
    """Multi-probe bucket list: the query's own bucket plus every
    Hamming-distance-1 neighbor (one bit flipped per plane)."""
    probes = ", ".join(["bucket"] + [f"xor(bucket, {1 << p})" for p in range(n_planes)])
    return f"[{probes}]"


@query(
    "q95_lsh_multiprobe_topk",
    oracle=f"""
    WITH qb AS (
      SELECT vec_id AS query_id, {_sql_srp_bucket(8)} AS bucket
      FROM embeddings WHERE vec_id < 5
    ),
    probes AS (
      SELECT query_id, UNNEST({_sql_probe_list(8)}) AS bucket FROM qb
    ),
    cb AS (
      SELECT vec_id AS neighbor_id, {_sql_srp_bucket(8)} AS bucket FROM embeddings
    ),
    cand AS (
      SELECT DISTINCT p.query_id, cb.neighbor_id
      FROM probes p JOIN cb USING (bucket)
      WHERE p.query_id <> cb.neighbor_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine('qe.embedding', 'ne.embedding')} AS cos_raw
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """,
    tags=("llm", "similarity", "ann", "lsh", "multiprobe"),
)
def q95_lsh_multiprobe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH ANN top-k: beside the query's own bucket, every
    Hamming-distance-1 bucket is probed (a vector near a hyperplane
    falls on either side with near-equal probability — flipping one bit
    recovers exactly those borderline misses), raising recall at
    (n_planes+1)x the candidate lookups with the corpus state
    UNCHANGED. The oracle replays probe generation (bucket XOR 2^p),
    the candidate join, and the exact re-rank."""
    from ..operators.similarity import lsh_topk_cosine

    emb = load(spark, sf_dir, "embeddings")
    return lsh_topk_cosine(
        emb.filter(F.col("vec_id") < 5), emb, k=5, n_planes=8, multi_probe=True
    ).orderBy("query_id", "rnk")


def _sql_kmeans_ivf_oracle(n_iterations: int = 2) -> str:
    """Unrolled n-iteration Lloyd + IVF search (16 centroids, 4 probed
    cells, top 5), DuckDB-side twin of
    operators.similarity.kmeans_centroids / ivf_topk_cosine(n_iterations=N).
    Component means use the decimal-exact pattern, assignments the same
    left-associated cosine chains — every intermediate double matches
    Spark bit-for-bit, so even the TRAINED centroids are replayed."""
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
    cos_cols = f"(({dot_ec}) / (SQRT({norm_e}) * SQRT({norm_c})))"
    # One (a_i, m_i) CTE pair per Lloyd iteration; iteration 1 assigns
    # against the raw cent0 sample, later ones against the previous
    # iteration's means.
    iter_ctes = []
    for it in range(1, n_iterations + 1):
        if it == 1:
            assign_from = "cent0 c"
            order_expr = f"{_sql_cosine('e.embedding', 'c.ce')} DESC, c.cid"
            cid = "c.cid"
        else:
            assign_from = f"m{it - 1} m"
            order_expr = f"{cos_cols} DESC, m.cid"
            cid = "m.cid"
        iter_ctes.append(
            f"""a{it} AS (
      SELECT e.vec_id, e.embedding, {cid},
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {order_expr}) AS rn
      FROM embeddings e CROSS JOIN {assign_from}
    ),
    m{it} AS (SELECT cid, {means} FROM a{it} WHERE rn = 1 GROUP BY cid)"""
        )
    lloyd_sql = ",\n    ".join(iter_ctes)
    final = f"m{n_iterations}"
    return f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 16
    ),
    {lloyd_sql},
    corpus_assign AS (
      SELECT e.vec_id AS neighbor_id, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos_cols} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN {final} m
    ),
    corpus_cells AS (SELECT neighbor_id, cid FROM corpus_assign WHERE rn = 1),
    q_assign AS (
      SELECT e.vec_id AS query_id, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos_cols} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN {final} m WHERE e.vec_id < 5
    ),
    q_cells AS (SELECT query_id, cid FROM q_assign WHERE rn <= 4),
    cand AS (
      SELECT DISTINCT q.query_id, cc.neighbor_id
      FROM q_cells q JOIN corpus_cells cc USING (cid)
      WHERE q.query_id <> cc.neighbor_id
    ),
    scored AS (
      SELECT cand.query_id, cand.neighbor_id,
             {_sql_cosine('qe.embedding', 'ne.embedding')} AS cos_raw
      FROM cand
      JOIN embeddings qe ON qe.vec_id = cand.query_id
      JOIN embeddings ne ON ne.vec_id = cand.neighbor_id
    ),
    ranked AS (
      SELECT query_id, neighbor_id, ROUND(cos_raw, 6) AS cosine,
             ROW_NUMBER() OVER (PARTITION BY query_id
                                ORDER BY cos_raw DESC, neighbor_id) AS rnk
      FROM scored
    )
    SELECT query_id, neighbor_id, cosine, rnk
    FROM ranked WHERE rnk <= 5 ORDER BY query_id, rnk
    """


@query(
    "q96_ivf_kmeans_trained",
    oracle=_sql_kmeans_ivf_oracle(n_iterations=1),
    tags=("llm", "similarity", "ann", "ivf", "kmeans", "iterative"),
)
def q96_ivf_kmeans_trained(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN with TRAINED centroids: a deterministic Lloyd iteration
    (spherical k-means over cosine, decimal-exact component means, md5
    top-k init) reshapes the Voronoi cells vs q76's raw sample (recall
    vs the exact baseline is asserted in tests; on real clustered
    corpora training is what makes IVF competitive). The Spark side is
    q76's search, `ivf_topk_cosine`, with `n_iterations=1`: the
    engine's iterative-training pattern (driver loop of
    broadcast-assign + aggregate; `kmeans_centroids(n_iterations=N)` for
    deeper training, `kmeans_centroids_converged` for train-to-rest);
    the oracle UNROLLS the training in SQL and replays centroid
    training, assignment, probing, and re-rank — the trained model
    itself is value-checked cross-engine. One iteration here keeps the
    per-round attestation cheap; the oracle builder unrolls any count."""
    emb = load(spark, sf_dir, "embeddings")
    return ivf_topk_cosine(
        emb.filter(F.col("vec_id") < 5), emb, n_iterations=1
    ).orderBy("query_id", "rnk")


@query(
    "q97_winnowing_fingerprints",
    oracle=f"""
    WITH g AS (
      SELECT doc_id,
             LIST_TRANSFORM(
               RANGE(1, GREATEST(LENGTH(text) - 8 + 1, 0) + 1),
               i -> {_sql_hex60("MD5(SUBSTR(text, CAST(i AS INTEGER), 8))", 1)}
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
    )
    SELECT doc_id, UNNEST(fps) AS fingerprint
    FROM w ORDER BY doc_id, fingerprint
    """,
    tags=("llm", "text", "fingerprint", "rolling-hash"),
)
def q97_winnowing_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprints via winnowing (k=8-char
    grams, window=4 minima — the MOSS scheme): the compact fingerprint
    set that detects any shared substring of length >= 11 across the
    corpus by an equi-join on fingerprints. The oracle replays gram
    hashing and window minima value-for-value (operators/text.py::
    winnowing_fingerprints)."""
    from ..operators.text import winnowing_fingerprints

    docs = load(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    return winnowing_fingerprints(docs).orderBy(
        "doc_id", "fingerprint"
    )


@query(
    "q98_embedding_int8_quantization",
    oracle=f"""
    WITH s AS (
      SELECT vec_id,
             LIST_MAX(LIST_TRANSFORM(embedding, x -> ABS(CAST(x AS DOUBLE))))
               / 127.0 AS scale
      FROM embeddings
    ),
    q AS (
      SELECT e.vec_id, e.embedding, s.scale,
             LIST_TRANSFORM(e.embedding,
               x -> CAST(GREATEST(LEAST(
                      CASE WHEN CAST(x AS DOUBLE) / s.scale >= 0
                           THEN FLOOR(CAST(x AS DOUBLE) / s.scale + 0.5)
                           ELSE -FLOOR(-(CAST(x AS DOUBLE) / s.scale) + 0.5)
                      END, 127), -127) AS BIGINT)) AS qv
      FROM embeddings e JOIN s USING (vec_id)
    )
    SELECT vec_id,
           (CAST(FLOOR(scale * CAST(1000000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000000 AS DOUBLE)) AS scale,
           CAST(LIST_SUM(qv) AS BIGINT) AS q_sum,
           CAST(LEN(LIST_FILTER(qv, v -> ABS(v) = 127)) AS INTEGER) AS n_saturated,
           (CAST(FLOOR((SQRT({" + ".join(
               f"(CAST(embedding[{i + 1}] AS DOUBLE) - qv[{i + 1}] * scale)"
               f" * (CAST(embedding[{i + 1}] AS DOUBLE) - qv[{i + 1}] * scale)"
               for i in range(64))}) / 8.0) * CAST(1000000 AS DOUBLE) + 0.5)
             AS BIGINT) / CAST(1000000 AS DOUBLE)) AS rms_error
    FROM q ORDER BY vec_id
    """,
    tags=("llm", "embedding", "quantization"),
)
def q98_embedding_int8_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INT8 embedding quantization — the storage/bandwidth move for a
    100 TB embedding store (4x smaller vectors, int8 dot kernels):
    per-vector symmetric scale = max|x|/127, quantize-clamp, and a
    reconstruction audit (RMS error, saturation count). All codegen
    HOF expressions; the oracle replays scale, every quantized value,
    and the error audit. At scale this runs as pure map work before
    the parquet write; search (q71/q72/q76) then runs on the int8
    column with dequantized re-rank."""
    e = load(spark, sf_dir, "embeddings")
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    pre = e.select("vec_id", "embedding", dbl.alias("_e"))
    scale = (
        F.array_max(F.transform(F.col("_e"), lambda x: F.abs(x))) / F.lit(127.0)
    )
    pre2 = pre.select("vec_id", "embedding", "_e", scale.alias("scale"))
    # Sign-aware deterministic half-up (FLOOR-based, identical IEEE ops
    # on both engines): F.round's repr-based tie handling can split
    # from DuckDB's numeric rounding (the q98 sf0.1 rms lesson).
    from ..functions.compare import det_half_up

    qv = F.transform(
        F.col("_e"),
        lambda x: F.greatest(
            F.least(det_half_up(x / F.col("scale")), F.lit(127.0)),
            F.lit(-127.0),
        ).cast("long"),
    )
    pre3 = pre2.select("vec_id", "_e", "scale", qv.alias("_q"))
    sq_err = F.aggregate(
        F.zip_with(
            F.col("_e"),
            F.col("_q"),
            lambda x, q: (x - q * F.col("scale")) * (x - q * F.col("scale")),
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )
    from ..functions.compare import det_round

    # Two projections, deliberately: putting det_round(scale).alias(
    # "scale") in the SAME select as the rms expression makes Spark 4's
    # lateral column alias resolution bind the rms expression's
    # F.col("scale") to the ROUNDED alias — silently diverging from the
    # oracle, which uses the raw scale (caught at sf0.1: rms 712 vs
    # 711). Later expressions must never share a select with an alias
    # that shadows an input column they reference.
    tmp = pre3.select(
        "vec_id",
        F.col("scale").alias("_scale_raw"),
        F.aggregate(F.col("_q"), F.lit(0).cast("long"), lambda a, x: a + x).alias(
            "q_sum"
        ),
        F.size(F.filter(F.col("_q"), lambda v: F.abs(v) == 127)).alias("n_saturated"),
        det_round(F.sqrt(sq_err) / F.lit(8.0), 6).alias("rms_error"),
    )
    return tmp.select(
        "vec_id",
        det_round(F.col("_scale_raw"), 9).alias("scale"),
        "q_sum",
        "n_saturated",
        "rms_error",
    ).orderBy("vec_id")


@query(
    "q100_pii_redaction",
    oracle=r"""
    WITH scrub AS (
      SELECT doc_id,
             LEN(REGEXP_EXTRACT_ALL(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS n_emails,
             LEN(REGEXP_EXTRACT_ALL(text, '\d{6,}')) AS n_long_numbers,
             REGEXP_REPLACE(
               REGEXP_REPLACE(text,
                 '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
               '\d{6,}', '<NUM>', 'g') AS text_clean
      FROM documents
    )
    SELECT doc_id,
           CAST(n_emails AS INTEGER) AS n_emails,
           CAST(n_long_numbers AS INTEGER) AS n_long_numbers,
           MD5(text_clean) AS clean_md5,
           LENGTH(text_clean) AS n_chars_clean
    FROM scrub ORDER BY doc_id
    """,
    tags=("llm", "text", "pii", "redaction"),
)
def q100_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing pass (training-data hygiene): regex redaction of
    email addresses and long digit runs to typed placeholders, with
    per-doc match accounting. Pure codegen regexp expressions — at
    100 TB this is map-only scan work fused with the quality filters
    (q77). The oracle replays matches, counts, and the full redacted
    text (compared by md5 so raw text never reaches the compare)."""
    d = load(spark, sf_dir, "documents")
    email = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
    longnum = r"\d{6,}"
    clean = F.regexp_replace(
        F.regexp_replace(F.col("text"), email, "<EMAIL>"), longnum, "<NUM>"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all("text", F.lit(email))).alias("n_emails"),
        F.size(F.regexp_extract_all("text", F.lit(longnum))).alias("n_long_numbers"),
        F.md5(clean).alias("clean_md5"),
        F.length(clean).alias("n_chars_clean"),
    ).orderBy("doc_id")


@query(
    "q101_corpus_mixture_sampling",
    oracle="""
    WITH gated AS (
      SELECT lang, doc_id, n_chars,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               AS gate,
             CASE lang WHEN 'en' THEN 256 WHEN 'de' THEN 128
                       WHEN 'fr' THEN 64 ELSE 26 END AS threshold
      FROM documents
    )
    SELECT lang,
           COUNT(*) AS n_sampled,
           CAST(SUM(n_chars) AS BIGINT) AS sampled_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM gated WHERE gate < threshold
    GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "sample", "mixture", "deterministic"),
)
def q101_corpus_mixture_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic corpus MIXTURE: per-language acceptance rates
    (en 100%, de 50%, fr 25%, others ~10%) applied via an md5 gate on
    the document key — the data-mixture op every pretraining corpus
    build runs (upweight/downweight sources), with membership a pure
    function of the key: reproducible across engines, partitionings,
    and runs, and stable under incremental corpus growth (old docs
    never flip in or out). The oracle replays gates and thresholds."""
    d = load(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    threshold = (
        F.when(F.col("lang") == "en", 256)
        .when(F.col("lang") == "de", 128)
        .when(F.col("lang") == "fr", 64)
        .otherwise(26)
    )
    return (
        d.filter(gate < threshold)
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_sampled"),
            F.sum("n_chars").cast("bigint").alias("sampled_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("lang")
    )


@query(
    "q102_sequence_packing",
    oracle="""
    WITH toks AS (
      SELECT doc_id,
             CAST(doc_id % 8 AS BIGINT) AS shard,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS n_tokens
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS UNBOUNDED PRECEDING) AS cum_tokens
      FROM toks
    )
    SELECT doc_id, shard, n_tokens,
           CAST((cum_tokens - n_tokens) // 2048 AS BIGINT) AS seq_id,
           CAST((cum_tokens - n_tokens) % 2048 AS BIGINT) AS seq_offset
    FROM packed ORDER BY doc_id
    """,
    tags=("llm", "packing", "window"),
)
def q102_sequence_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing: assign each document a (shard, seq_id,
    offset) slot in a stream of fixed 2048-token training sequences —
    the packing step that turns a filtered corpus into dense training
    batches. Packing is SHARD-LOCAL by construction (shard = key mod 8
    here; any shard count works): the running-total window partitions
    by shard, so at 100 TB there is no global cumulative sum — each
    shard packs independently on its own task, and adding shards scales
    the packer linearly. The oracle replays the identical
    integer-arithmetic window."""
    d = load(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id",
        (F.col("doc_id") % 8).cast("bigint").alias("shard"),
        F.size(tokens(F.col("text"))).cast("bigint").alias("n_tokens"),
    )
    w = W.partitionBy("shard").orderBy("doc_id").rowsBetween(W.unboundedPreceding, 0)
    packed = toks.withColumn("cum_tokens", F.sum("n_tokens").over(w))
    start = F.col("cum_tokens") - F.col("n_tokens")
    return packed.select(
        "doc_id",
        "shard",
        "n_tokens",
        F.floor(start / 2048).cast("bigint").alias("seq_id"),
        (start % 2048).cast("bigint").alias("seq_offset"),
    ).orderBy("doc_id")


@query(
    "q103_decontamination_ngram_overlap",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    ex AS (
      SELECT doc_id,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 2) AS INTEGER)
               AS gate,
             UNNEST(shingles) AS s
      FROM sh
    ),
    h AS (SELECT doc_id, gate, {_sql_hex60('MD5(s)', 1)} AS h FROM ex),
    ev AS (SELECT h, MIN(doc_id) AS min_eval FROM h WHERE gate < 16 GROUP BY h),
    hits AS (
      SELECT c.doc_id, c.h, ev.min_eval
      FROM h c JOIN ev ON c.h = ev.h
      WHERE c.gate >= 16
    )
    SELECT doc_id,
           CAST(COUNT(DISTINCT h) AS BIGINT) AS n_shared_ngrams,
           CAST(MIN(min_eval) AS BIGINT) AS min_eval_doc
    FROM hits GROUP BY doc_id ORDER BY doc_id
    """,
    tags=("llm", "dedup", "decontamination"),
)
def q103_decontamination_ngram_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag corpus docs sharing any 3-word
    shingle with a held-out eval set (deterministic md5 gate on doc_id
    marks ~6% of docs as 'eval'). The eval side collapses to one row
    per distinct 60-bit shingle hash and is BROADCAST — benchmark
    suites are MBs while the corpus is the 100 TB side, so the check is
    a map-side hash join over the corpus scan: the corpus never
    shuffles, only 8-byte hashes move. The oracle replays the gates,
    the shingle hashes, and the per-doc hit aggregates."""
    d = load(spark, sf_dir, "documents")
    gate = F.conv(F.substring(F.md5(F.col("doc_id").cast("string")), 1, 2), 16, 10).cast(
        "int"
    )
    eval_docs = d.filter(gate < 16)
    corpus = d.filter(gate >= 16)
    return (
        decontaminate(corpus, eval_docs)
        .select(
            "doc_id",
            F.col("n_shared_ngrams").cast("bigint").alias("n_shared_ngrams"),
            F.col("min_eval_doc").cast("bigint").alias("min_eval_doc"),
        )
        .orderBy("doc_id")
    )


@query(
    "q104_repetition_filter",
    oracle="""
    WITH w AS (SELECT doc_id, STRING_SPLIT(text, ' ') AS words FROM documents),
    g AS (
      SELECT doc_id, words, LEN(words) AS n_words,
             LIST_TRANSFORM(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1),
                            i -> ARRAY_TO_STRING(words[i:i+1], ' ')) AS bigrams
      FROM w
    ),
    m AS (
      SELECT doc_id,
             CAST(n_words AS INTEGER) AS n_words,
             ROUND(1.0 - CAST(LEN(LIST_DISTINCT(words)) AS DOUBLE) / n_words, 6)
               AS dup_word_frac,
             CASE WHEN LEN(bigrams) > 0
                  THEN ROUND(1.0 - CAST(LEN(LIST_DISTINCT(bigrams)) AS DOUBLE)
                             / LEN(bigrams), 6)
                  ELSE 0.0 END AS dup_bigram_frac
      FROM g
    )
    SELECT doc_id, n_words, dup_word_frac, dup_bigram_frac,
           CAST(dup_bigram_frac > 0.2 OR dup_word_frac > 0.3 AS INTEGER)
             AS is_repetitive
    FROM m ORDER BY doc_id
    """,
    tags=("llm", "text", "quality", "repetition"),
)
def q104_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style within-document repetition filter: duplicate-word
    and duplicate-bigram fractions per document, with the filter flag
    (boilerplate / keyword-stuffed / decode-loop docs score high and
    are dropped before training). All array HOFs — map-only scan work
    at 100 TB, fused with the other quality passes. The repetition
    thresholds compare the ROUNDED fractions so both engines decide
    the flag on identical doubles."""
    d = load(spark, sf_dir, "documents")
    stats = repetition_stats(F.col("text"))
    m = d.select("doc_id", *(expr.alias(k) for k, expr in stats.items()))
    return m.select(
        "*",
        ((F.col("dup_bigram_frac") > 0.2) | (F.col("dup_word_frac") > 0.3))
        .cast("int")
        .alias("is_repetitive"),
    ).orderBy("doc_id")


@query(
    "q105_train_val_test_split",
    oracle="""
    WITH gated AS (
      SELECT lang, doc_id, n_chars,
             CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR) || ':split'), 1, 2)
                  AS INTEGER) AS gate
      FROM documents
    )
    SELECT CASE WHEN gate < 230 THEN 'train'
                WHEN gate < 243 THEN 'val'
                ELSE 'test' END AS split,
           lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(MIN(doc_id) AS BIGINT) AS first_doc
    FROM gated GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "sample", "split", "deterministic"),
)
def q105_train_val_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (~90/5/5) as a pure function
    of the document key: an md5 gate over doc_id||':split' (salted so
    it is independent of the q101 mixture gate). Membership is stable
    across engines, runs, partitionings, and incremental corpus growth
    — no doc ever flips split, which is the property that prevents
    silent eval contamination. Map-only assignment at 100 TB; the
    summary aggregates per (split, lang)."""
    d = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))), 1, 2),
        16,
        10,
    ).cast("int")
    split = (
        F.when(gate < 230, "train").when(gate < 243, "val").otherwise("test")
    )
    return (
        d.select(split.alias("split"), "lang", "doc_id", "n_chars")
        .groupBy("split", "lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_chars"),
            F.min("doc_id").cast("bigint").alias("first_doc"),
        )
        .orderBy("split", "lang")
    )


@query(
    "q109_grouped_zscore",
    oracle="""
    WITH m AS (
      SELECT o_orderstatus,
             COUNT(*) AS n,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(o_totalprice * o_totalprice AS DECIMAL(24,4)))
               AS DOUBLE) AS sxx
      FROM orders GROUP BY 1
    )
    SELECT o.o_orderstatus,
           o.o_orderkey,
           o.o_totalprice,
           -- Degenerate-group guard mirrored from the pandas side
           -- (ADVICE r2): n == 1 or zero variance -> z = 0.0, never a
           -- division by zero / NULL.
           CASE WHEN m.n > 1 AND m.sxx - m.sx * m.sx / m.n > 0
                THEN ROUND((o.o_totalprice - m.sx / m.n)
                           / SQRT((m.sxx - m.sx * m.sx / m.n) / (m.n - 1)), 6)
                ELSE 0.0 END AS zscore
    FROM orders o JOIN m USING (o_orderstatus)
    ORDER BY o.o_orderkey
    """,
    tags=("udx", "grouped-map", "stats"),
)
def q109_grouped_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped-map applyInPandas z-score normalization (per-status
    order values), driver-checked: the pandas side derives group
    moments from exact integer micro-sums (operators/udx.py::
    zscore_per_group_exact), so the oracle replays the identical
    mu/sd doubles from decimal power sums and the per-row
    (x - mu) / sd arithmetic bit-for-bit. This puts the LAST UDx
    family member (grouped-map) under the value-hash gate alongside
    the UDTF (q79) and the grouped-agg UDAF (q85). Rounding happens
    JVM-side after the UDF (Spark ROUND == DuckDB ROUND)."""
    from ..operators.udx import zscore_per_group_exact

    o = load(spark, sf_dir, "orders").select(
        "o_orderstatus", "o_orderkey", "o_totalprice"
    )
    out = zscore_per_group_exact(o, "o_orderstatus", "o_orderkey", "o_totalprice")
    return out.select(
        "o_orderstatus",
        "o_orderkey",
        "o_totalprice",
        F.round("zscore", 6).alias("zscore"),
    ).orderBy("o_orderkey")
