"""LLM-ops wave 34: graph structure, language-model scoring, weighted
sampling, and storage-maintenance planning — four operator families a
corpus platform runs between ingestion and training:

- q337: triangle count + local clustering coefficient over the q68
  MinHash near-duplicate graph (ordered-edge 3-way join; the
  structural audit that separates star-shaped template hubs from
  densely-interlinked boilerplate cliques PageRank alone can't).
- q338: stupid-backoff bigram LM scoring — train the LM on one md5
  half of the corpus, score the OTHER half with the 0.4-backoff
  cascade (bigram -> unigram -> uniform), in centi-nat integers.
- q339: weighted sampling without replacement (Efraimidis-Spirakis
  A-ES): top-50 docs by ln(u)/w keys with md5 uniforms — the
  importance-sampling primitive behind quality-weighted data mixes.
- q340: small-file compaction planning — fluid (splittable) packing
  of per-day order "files" into fixed-row targets, the
  maxPartitionBytes arithmetic as an auditable plan.
- q341: per-source TF-IDF top-5 keywords (integer tf x micro-idf),
  the source-profiling summary a curation dashboard prints.

Output-hardening doctrine (as waves 6-33): counts/ranks/ratios are
exact integers with truncating division; every LN is quantized before
use — DECIMAL(18,2) centi-nats where thousands of terms are summed
(q338; the wave-26 Hill-index lesson), DECIMAL(18,6) where a term is
used at most once per output row (q339 keys, q341 idf); all
integer-sum oracle outputs CAST to BIGINT.

Reference parity: the reference publishes one curated daily table
(README.md:21); these are the platform-side jobs around such tables at
corpus scale — dedup-graph forensics, LM-based quality scoring,
weighted sampling for evaluation, and the compaction planning that
keeps the table's file layout scannable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates, minhash_signature_table
from ..operators.text import tokens
from ..sources.tables import load
from .llm_ops import _sql_hex60, _sql_minhash_pairs
from .llm_ops19 import _spark_gate, _sql_gate
from .registry import query

# ---------------------------------------------------------------------------
# q337 — triangle count + clustering coefficient on the dup graph
# ---------------------------------------------------------------------------


@query(
    "q337_dup_graph_triangles",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    tri AS (
      SELECT p1.doc_id_a AS a, p1.doc_id_b AS b, p2.doc_id_b AS c
      FROM pairs p1
      JOIN pairs p2 ON p2.doc_id_a = p1.doc_id_b
      JOIN pairs p3 ON p3.doc_id_a = p1.doc_id_a
                   AND p3.doc_id_b = p2.doc_id_b
    ),
    nt AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS triangles FROM (
        SELECT a AS node FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri
      ) GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree FROM (
        SELECT doc_id_a AS node FROM pairs
        UNION ALL SELECT doc_id_b FROM pairs
      ) GROUP BY node
    )
    SELECT d.node AS doc_id,
           d.degree,
           COALESCE(n.triangles, 0) AS triangles,
           CAST(2 * COALESCE(n.triangles, 0) * 1000000
                // (d.degree * (d.degree - 1)) AS BIGINT) AS clustering_ppm
    FROM deg d LEFT JOIN nt n ON n.node = d.node
    WHERE d.degree >= 2
    ORDER BY triangles DESC, clustering_ppm DESC, doc_id LIMIT 20
    """,
    tags=("llm", "graph", "triangles", "clustering-coefficient"),
)
def q337_dup_graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle census of the MinHash near-duplicate graph (same
    verified edge set as q226's PageRank): per node, its triangle
    count and local clustering coefficient 2T/(d(d-1)) in ppm — the
    structural discriminator between a template HUB (high degree,
    near-zero clustering: many excerpts of one page that don't match
    each other) and a boilerplate CLIQUE (everything matches
    everything; a keep-one policy saves d-1 docs). Pure integer
    counting: the ordered-edge join enumerates each triangle exactly
    once as a < b < c (edges are already stored a < b).

    Scale: the canonical distributed triangle algorithm — the 3-way
    join fans out each edge to its candidate wedges keyed on the
    shared vertex, so cost is sum over vertices of deg^2 on the
    ALREADY-SPARSE verified dup graph (bucketed LSH keeps it sparse
    by construction; a hot-bucket cap (SCALE.md) would bound any
    hot vertex). Nodes with degree < 2 are excluded (a triangle needs
    two incident edges)."""
    docs = load(spark, sf_dir, "documents")
    # localCheckpoint (disk-backed lineage truncation) instead of
    # persist: the edge set feeds FOUR consumers (three triangle-join
    # aliases + the degree count) — round-12 eviction-hardening
    # (q226/q250/q331 doctrine).
    sig = minhash_signature_table(docs).persist()
    pairs = minhash_near_duplicates(
        docs, jaccard_threshold=0.5, signatures=sig
    ).localCheckpoint(eager=True)
    sig.unpersist()
    p1, p2, p3 = pairs.alias("p1"), pairs.alias("p2"), pairs.alias("p3")
    tri = (
        p1.join(p2, F.col("p2.doc_id_a") == F.col("p1.doc_id_b"))
        .join(
            p3,
            (F.col("p3.doc_id_a") == F.col("p1.doc_id_a"))
            & (F.col("p3.doc_id_b") == F.col("p2.doc_id_b")),
        )
        .select(
            F.col("p1.doc_id_a").alias("a"),
            F.col("p1.doc_id_b").alias("b"),
            F.col("p2.doc_id_b").alias("c"),
        )
    )
    nt = (
        tri.select(F.col("a").alias("node"))
        .unionByName(tri.select(F.col("b").alias("node")))
        .unionByName(tri.select(F.col("c").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("triangles"))
    )
    deg = (
        pairs.select(F.col("doc_id_a").alias("node"))
        .unionByName(pairs.select(F.col("doc_id_b").alias("node")))
        .groupBy("node")
        .agg(F.count(F.lit(1)).cast("bigint").alias("degree"))
    )
    out = (
        deg.join(nt, "node", "left")
        .filter(F.col("degree") >= 2)
        .select(
            F.col("node").alias("doc_id"),
            "degree",
            F.coalesce(F.col("triangles"), F.lit(0))
            .cast("bigint")
            .alias("triangles"),
            F.expr(
                "CAST(2 * COALESCE(triangles, 0) * 1000000"
                " div (degree * (degree - 1)) AS BIGINT)"
            ).alias("clustering_ppm"),
        )
        .orderBy(F.desc("triangles"), F.desc("clustering_ppm"), "doc_id")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q338 — stupid-backoff bigram LM scoring on a held-out half
# ---------------------------------------------------------------------------


def _bigram_structs():
    """words -> array<struct<w1,w2>> (q244's construction, shared)."""
    return F.when(
        F.size(F.col("words")) >= 2,
        F.transform(
            F.sequence(F.lit(1), F.size(F.col("words")) - 1),
            lambda i: F.struct(
                F.element_at(F.col("words"), i).alias("w1"),
                F.element_at(F.col("words"), i + 1).alias("w2"),
            ),
        ),
    ).otherwise(F.array())


_SQL_BIGRAMS = """
      SELECT {cols} words[i] AS w1, words[i + 1] AS w2
      FROM {src}, UNNEST(RANGE(1, GREATEST(LEN(words) - 1, 0) + 1)) AS r(i)
"""


@query(
    "q338_stupid_backoff_scoring",
    oracle=f"""
    WITH d AS (
      SELECT source, STRING_SPLIT(text, ' ') AS words,
             {_sql_gate("doc_id", ":lm")} AS is_train
      FROM documents
    ),
    trtok AS (
      SELECT UNNEST(words) AS tok FROM d WHERE is_train = 1
    ),
    c1 AS (SELECT tok, COUNT(*) AS c1 FROM trtok GROUP BY tok),
    vt AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS v,
             CAST(SUM(c1) AS BIGINT) AS t
      FROM c1
    ),
    trbi AS (
      SELECT w1, w2, COUNT(*) AS c2 FROM (
        {_SQL_BIGRAMS.format(cols="", src="(SELECT words FROM d WHERE is_train = 1)")}
      ) GROUP BY w1, w2
    ),
    tebi AS (
      SELECT source, w1, w2, COUNT(*) AS c FROM (
        {_SQL_BIGRAMS.format(cols="source,", src="(SELECT source, words FROM d WHERE is_train = 0)")}
      ) GROUP BY source, w1, w2
    ),
    scored AS (
      SELECT e.source, e.c,
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
      FROM tebi e
      LEFT JOIN trbi b ON b.w1 = e.w1 AND b.w2 = e.w2
      LEFT JOIN c1 p ON p.tok = e.w1
      LEFT JOIN c1 u ON u.tok = e.w2
      CROSS JOIN vt
    )
    SELECT source,
           CAST(SUM(c) AS BIGINT) AS n_bigrams,
           CAST(SUM(CASE WHEN tier = 1 THEN c ELSE 0 END) AS BIGINT)
             AS n_backoff_unigram,
           CAST(SUM(CASE WHEN tier = 2 THEN c ELSE 0 END) AS BIGINT)
             AS n_backoff_unknown,
           CAST(SUM(c * l * 100) AS BIGINT) AS total_centinats,
           CAST(CAST(SUM(c * l * 100) AS BIGINT) // SUM(c) AS BIGINT)
             AS mean_centinats
    FROM scored GROUP BY source ORDER BY source
    """,
    tags=("llm", "text", "language-model", "backoff"),
)
def q338_stupid_backoff_scoring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stupid-backoff bigram LM scoring with a REAL train/test split:
    the LM (bigram + unigram counts) is trained on the md5 ':lm' half
    of the corpus and scores the held-out half, so the backoff
    cascade actually fires — P(w2|w1) = c2/c1 when the bigram was
    seen in training, else 0.4 * c1(w2)/T, else 0.4 * 0.4/V (the
    Brants et al. score that large-scale LM infrastructure used
    precisely because it needs no discounting mass bookkeeping and
    MERGES by counts). Per-source mean negative-log score in
    centi-nats plus the two backoff-rate columns — the quality panel
    that separates feeds whose text is predictable from feeds full of
    novel (or garbage) constructions. Each -LN is quantized to
    DECIMAL(18,2) centi-nats BEFORE the multiply-and-sum: thousands
    of terms are summed per source, so the grid must dwarf cross-libm
    LN disagreement (the wave-26 Hill lesson); weighting by the
    test-side bigram multiplicity keeps the LN call count at
    distinct-bigram grain.

    Scale: both LM tables are vocab(-squared)-sized aggregates that
    collapse map-side; the scoring join keys on (w1, w2) posting
    economics — the corpus text itself never shuffles. The LM halves
    merge by + across any partitioning (count tables are mergeable
    sketches in the q275 sense)."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "source",
        tokens(F.col("text")).alias("words"),
        _spark_gate("doc_id", ":lm").alias("is_train"),
    ).persist()
    trtok = d.filter(F.col("is_train") == 1).select(
        F.explode("words").alias("tok")
    )
    c1 = trtok.groupBy("tok").agg(F.count(F.lit(1)).alias("c1")).persist()
    vt = c1.agg(
        F.count(F.lit(1)).cast("bigint").alias("v"),
        F.sum("c1").cast("bigint").alias("t"),
    )
    trbi = (
        d.filter(F.col("is_train") == 1)
        .select(F.explode(_bigram_structs()).alias("bg"))
        .select(F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("w1", "w2")
        .agg(F.count(F.lit(1)).alias("c2"))
    )
    tebi = (
        d.filter(F.col("is_train") == 0)
        .select("source", F.explode(_bigram_structs()).alias("bg"))
        .select("source", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
        .groupBy("source", "w1", "w2")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    p = c1.select(F.col("tok").alias("w1"), F.col("c1").alias("pc1"))
    u = c1.select(F.col("tok").alias("w2"), F.col("c1").alias("uc1"))
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
        tebi.join(trbi, ["w1", "w2"], "left")
        .join(p, "w1", "left")
        .join(u, "w2", "left")
        .crossJoin(F.broadcast(vt))
        .select("source", "c", tier.alias("tier"), lnq.alias("l"))
    )
    out = (
        scored.groupBy("source")
        .agg(
            F.sum("c").cast("bigint").alias("n_bigrams"),
            F.sum(F.when(F.col("tier") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_backoff_unigram"),
            F.sum(F.when(F.col("tier") == 2, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("n_backoff_unknown"),
            F.sum(F.col("c") * F.col("l") * 100)
            .cast("bigint")
            .alias("total_centinats"),
        )
        .select(
            "source",
            "n_bigrams",
            "n_backoff_unigram",
            "n_backoff_unknown",
            "total_centinats",
            F.expr("CAST(total_centinats div n_bigrams AS BIGINT)").alias(
                "mean_centinats"
            ),
        )
        .orderBy("source")
    )
    return out


# ---------------------------------------------------------------------------
# q339 — weighted sampling without replacement (Efraimidis-Spirakis)
# ---------------------------------------------------------------------------

_WRS_K = 50

# Shared A-ES key derivation (q339 sample + q345's merge proof): one
# md5 uniform per doc, ln quantized to DECIMAL(18,6), selection key =
# lnu / weight as an identically-associated double on both engines.
_SQL_WRS_KEYED = f"""w AS (
      SELECT doc_id,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS weight,
             {_sql_hex60("MD5(CAST(doc_id AS VARCHAR) || ':wrs')", 1)} AS h
      FROM documents
    ),
    keyed AS (
      SELECT doc_id, weight,
             CAST(LN((CAST(h % 1000000 AS DOUBLE) + CAST('1' AS DOUBLE))
                     / CAST('1000000' AS DOUBLE)) AS DECIMAL(18,6)) AS lnu
      FROM w
    )"""


def _wrs_keyed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark twin of _SQL_WRS_KEYED: (doc_id, weight, lnu)."""
    from ..operators.dedup import _hex60

    docs = load(spark, sf_dir, "documents")
    w = docs.select(
        "doc_id",
        F.size(tokens(F.col("text"))).cast("bigint").alias("weight"),
        _hex60(F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":wrs"))), 1)
        .alias("h"),
    )
    return w.select(
        "doc_id",
        "weight",
        F.log(
            ((F.col("h") % 1_000_000).cast("double") + F.lit(1.0))
            / F.lit(1_000_000.0)
        )
        .cast("decimal(18,6)")
        .alias("lnu"),
    )


@query(
    "q339_weighted_sample_aes",
    oracle=f"""
    WITH {_SQL_WRS_KEYED},
    ranked AS (
      SELECT doc_id, weight, lnu,
             ROW_NUMBER() OVER (
               ORDER BY CAST(lnu AS DOUBLE) / CAST(weight AS DOUBLE) DESC,
                        doc_id) AS sample_rank
      FROM keyed
    )
    SELECT CAST(sample_rank AS INT) AS sample_rank, doc_id, weight,
           CAST(lnu * 1000000 AS BIGINT) AS lnu_micro
    FROM ranked WHERE sample_rank <= {_WRS_K}
    ORDER BY sample_rank
    """,
    tags=("llm", "sampling", "weighted", "reservoir"),
)
def q339_weighted_sample_aes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement, Efraimidis-Spirakis
    A-ES form: each doc draws a deterministic md5 uniform u and is
    ranked by ln(u)/w (equivalent to u^(1/w) but monotone-safe in
    log space); the top-{_WRS_K} by key are the sample — inclusion
    probability proportional to weight (token count), no rejected
    draws, ONE pass. This is the importance-sampling primitive
    behind token-weighted eval subsets and mixture spot-checks; its
    one-pass top-k form is exactly how it runs over a 100 TB corpus
    (TakeOrdered on the key, no global sort materialized). The
    uniform is (h mod 1e6 + 1)/1e6 from the 60-bit md5 word, LN is
    quantized to DECIMAL(18,6) (one term per row — no summation, so
    the fine grid is safe), and the division by the integer weight
    is a single identically-associated IEEE op on both engines;
    doc_id breaks ties."""
    keyed = _wrs_keyed(spark, sf_dir)
    key = F.col("lnu").cast("double") / F.col("weight").cast("double")
    ranked = keyed.select(
        "doc_id",
        "weight",
        "lnu",
        F.row_number()
        # global-window-ok: corpus-grain sample-key rank, top-50 consumed; 100 TB form = TakeOrdered top-k on the key
        .over(W.orderBy(key.desc(), "doc_id"))
        .alias("sample_rank"),
    ).filter(F.col("sample_rank") <= _WRS_K)
    return ranked.select(
        F.col("sample_rank").cast("int"),
        "doc_id",
        "weight",
        (F.col("lnu") * 1_000_000).cast("bigint").alias("lnu_micro"),
    ).orderBy("sample_rank")


# ---------------------------------------------------------------------------
# q340 — small-file compaction planning (fluid packing)
# ---------------------------------------------------------------------------

_TARGET_ROWS = 10_000


@query(
    "q340_compaction_plan_audit",
    oracle=f"""
    WITH f AS (
      SELECT o_orderdate AS day, CAST(COUNT(*) AS BIGINT) AS rows_
      FROM orders GROUP BY o_orderdate
    ),
    c AS (
      SELECT day, rows_,
             CAST(SUM(rows_) OVER (ORDER BY rows_ DESC, day) AS BIGINT) AS cum
      FROM f
    ),
    b AS (
      SELECT rows_,
             (cum - rows_) // {_TARGET_ROWS} AS out_first,
             (cum - 1) // {_TARGET_ROWS} AS out_last
      FROM c
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_input_files,
             CAST(SUM(rows_) AS BIGINT) AS total_rows
      FROM f
    )
    SELECT t.n_input_files,
           t.total_rows,
           CAST({_TARGET_ROWS} AS BIGINT) AS target_rows,
           CAST((t.total_rows + {_TARGET_ROWS} - 1) // {_TARGET_ROWS}
                AS BIGINT) AS n_output_files,
           CAST(t.total_rows * 1000000
                // (((t.total_rows + {_TARGET_ROWS} - 1) // {_TARGET_ROWS})
                    * {_TARGET_ROWS}) AS BIGINT) AS avg_fill_ppm,
           CAST(SUM(CASE WHEN b.out_last > b.out_first THEN 1 ELSE 0 END)
                AS BIGINT) AS n_files_split,
           CAST(MAX(b.out_last - b.out_first) AS BIGINT)
             AS max_splits_one_file
    FROM b CROSS JOIN tot t
    GROUP BY t.n_input_files, t.total_rows
    """,
    tags=("relational", "storage", "compaction", "planning"),
)
def q340_compaction_plan_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning: treat each order day as one
    input "file" and pack files (largest first) into fixed
    {_TARGET_ROWS}-row output targets the FLUID way — splittable
    inputs, outputs filled back-to-back off one running sum — which
    is exactly the arithmetic behind Spark's
    files.maxPartitionBytes/openCostInBytes scan packing and a Delta/
    Iceberg-style OPTIMIZE. The plan audit reports output-file count,
    mean fill (always >= 1 - target/total under fluid packing — the
    whole point vs bin-packing's fragmentation), how many inputs get
    split across outputs, and the worst single-file split count.
    Pure integers: one cumulative sum, truncating divisions.

    Scale: the "file" frame is day-grain (bounded rows per year of
    history) — the cumsum window rides that reduced frame, and at
    real metadata scale (millions of files) the same plan is the
    documented two-pass distributed prefix sum (SCALE.md q239
    posture)."""
    o = load(spark, sf_dir, "orders")
    f = o.groupBy(F.col("o_orderdate").alias("day")).agg(
        F.count(F.lit(1)).cast("bigint").alias("rows_")
    )
    # global-window-ok: day-grain file frame (bounded rows/year); metadata-scale form = two-pass prefix sum
    wcum = W.orderBy(F.desc("rows_"), "day")
    c = f.select(
        "rows_", F.sum("rows_").over(wcum).cast("bigint").alias("cum")
    )
    b = c.select(
        "rows_",
        F.expr(f"(cum - rows_) div {_TARGET_ROWS}").alias("out_first"),
        F.expr(f"(cum - 1) div {_TARGET_ROWS}").alias("out_last"),
    )
    tot = f.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_input_files"),
        F.sum("rows_").cast("bigint").alias("total_rows"),
    )
    out = (
        b.crossJoin(F.broadcast(tot))
        .groupBy("n_input_files", "total_rows")
        .agg(
            F.sum(F.when(F.col("out_last") > F.col("out_first"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_files_split"),
            F.max(F.col("out_last") - F.col("out_first"))
            .cast("bigint")
            .alias("max_splits_one_file"),
        )
        .select(
            "n_input_files",
            "total_rows",
            F.lit(_TARGET_ROWS).cast("bigint").alias("target_rows"),
            F.expr(
                f"CAST((total_rows + {_TARGET_ROWS} - 1) div {_TARGET_ROWS}"
                " AS BIGINT)"
            ).alias("n_output_files"),
            F.expr(
                f"CAST(total_rows * 1000000 div (((total_rows + {_TARGET_ROWS}"
                f" - 1) div {_TARGET_ROWS}) * {_TARGET_ROWS}) AS BIGINT)"
            ).alias("avg_fill_ppm"),
            "n_files_split",
            "max_splits_one_file",
        )
    )
    return out


# ---------------------------------------------------------------------------
# q341 — per-source TF-IDF top-5 keywords
# ---------------------------------------------------------------------------


@query(
    "q341_tfidf_source_keywords",
    oracle="""
    WITH tok AS (
      SELECT doc_id, source, UNNEST(STRING_SPLIT(text, ' ')) AS tok
      FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    dfx AS (
      SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
      FROM tok GROUP BY tok
    ),
    tf AS (
      SELECT source, tok, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY source, tok
    ),
    idf6 AS (
      SELECT d.tok,
             CAST(LN(CAST(n.n AS DOUBLE) / CAST(d.df AS DOUBLE))
                  AS DECIMAL(18,6)) AS idf6
      FROM dfx d CROSS JOIN n
    ),
    scored AS (
      SELECT t.source, t.tok, t.tf,
             CAST(i.idf6 * 1000000 AS BIGINT) AS idf_micro
      FROM tf t JOIN idf6 i ON i.tok = t.tok
    ),
    ranked AS (
      SELECT source, tok, tf, idf_micro,
             CAST(tf * idf_micro AS BIGINT) AS score,
             ROW_NUMBER() OVER (
               PARTITION BY source
               ORDER BY tf * idf_micro DESC, tok) AS rnk
      FROM scored
    )
    SELECT source, tok AS term, tf, idf_micro, score, CAST(rnk AS INT) AS rnk
    FROM ranked WHERE rnk <= 5
    ORDER BY source, rnk
    """,
    tags=("llm", "text", "tfidf", "keywords"),
)
def q341_tfidf_source_keywords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source TF-IDF top-5 keywords: tf = term frequency within
    the source, idf = LN(N/df) over document frequency, quantized to
    micro-nats so the score (tf x idf_micro) and the per-source rank
    are exact integers — the one-line content profile of each feed a
    curation dashboard prints next to q271's KL divergence (KL says
    HOW different a source's distribution is; this says WHICH terms
    carry the difference).

    Scale: both aggregates are vocabulary-sized and map-side
    combined; the ranking window partitions BY SOURCE; the df join
    keys on the token (posting economics — text never shuffles
    whole)."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "doc_id", "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).persist()
    n = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    dfx = tok.groupBy("tok").agg(
        F.countDistinct("doc_id").cast("bigint").alias("df")
    )
    tf = tok.groupBy("source", "tok").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    idf_micro = (
        F.log(F.col("n").cast("double") / F.col("df").cast("double"))
        .cast("decimal(18,6)")
        * 1_000_000
    ).cast("bigint")
    scored = (
        tf.join(dfx, "tok")
        .crossJoin(F.broadcast(n))
        .select("source", "tok", "tf", idf_micro.alias("idf_micro"))
    )
    ranked = scored.select(
        "source",
        "tok",
        "tf",
        "idf_micro",
        (F.col("tf") * F.col("idf_micro")).cast("bigint").alias("score"),
        F.row_number()
        .over(
            W.partitionBy("source").orderBy(
                F.desc(F.col("tf") * F.col("idf_micro")), "tok"
            )
        )
        .alias("rnk"),
    ).filter(F.col("rnk") <= 5)
    out = ranked.select(
        "source",
        F.col("tok").alias("term"),
        "tf",
        "idf_micro",
        "score",
        F.col("rnk").cast("int").alias("rnk"),
    ).orderBy("source", "rnk")
    return out
