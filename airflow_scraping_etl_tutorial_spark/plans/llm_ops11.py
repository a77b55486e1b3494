"""LLM-ops wave 12: converged-model training, graph core
decomposition, memorization-risk coverage, temporal split hygiene,
vocabulary tail economics, context-window truncation, detector
cross-validation, dedup mixture bias, and burstiness — the eighth ring
of curation/analytics machinery around waves 1-11.

Output-hardening doctrine (as waves 6-11): BIGINT-cast integer
aggregates (never HUGEINT outputs), ppm ratios via truncating integer
division (`div` / `//`) on nonnegative integers, no POW, no derived-
float accumulation, ROW_NUMBER ties broken on unique ids, and CASE
guards wherever a denominator could be zero.

Reference parity: the reference's pipeline scrapes, validates, and
loads a daily market table (dags/Final_app.py:79-149); this wave is
the audit ring a production owner runs around that corpus once it
feeds model training — what leaked across the time split, what a
context window truncates, how deduplication tilts the source mixture,
and whether the dup detectors agree with each other.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.dedup import (
    minhash_near_duplicates,
    shingle_words,
    simhash_near_duplicates,
)
from ..operators.similarity import (
    EMBED_DIM,
    as_double,
    assign_argmax_cosine,
    cosine,
    kmeans_centroids_converged,
)
from ..operators.text import tokens
from ..sources.tables import load
from .llm_ops import _sql_hex60, _sql_minhash_pairs, _SQL_SHINGLES3
from .llm_ops2 import _sql_simhash_pairs_cte
from .registry import query

# ---------------------------------------------------------------------------
# q258 — converged k-means model: final assignment census
# ---------------------------------------------------------------------------


def _sql_kmeans_converged_oracle() -> str:
    """DuckDB twin of q258: replay the md5 init sample, two decimal-
    exact Lloyd steps (tol=0.0 forces the converged API to run exactly
    max_iterations — movement is never < 0.0), then the final argmax-
    cosine assignment census against the rested model."""
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
    from .llm_ops import _sql_cosine

    return f"""
    WITH cent0 AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 8
    ),
    a1 AS (
      SELECT e.vec_id, e.embedding, c.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {_sql_cosine('e.embedding', 'c.ce')} DESC, c.cid) AS rn
      FROM embeddings e CROSS JOIN cent0 c
    ),
    m1 AS (SELECT cid, {means} FROM a1 WHERE rn = 1 GROUP BY cid),
    a2 AS (
      SELECT e.vec_id, e.embedding, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos_m} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN m1 m
    ),
    m2 AS (SELECT cid, {means} FROM a2 WHERE rn = 1 GROUP BY cid),
    a3 AS (
      SELECT e.vec_id, m.cid,
             ROW_NUMBER() OVER (PARTITION BY e.vec_id
               ORDER BY {cos_m} DESC, m.cid) AS rn
      FROM embeddings e CROSS JOIN m2 m
    )
    SELECT CAST(cid AS BIGINT) AS centroid_id,
           CAST(COUNT(*) AS BIGINT) AS n_assigned,
           CAST(2 AS INT) AS iterations
    FROM a3 WHERE rn = 1
    GROUP BY cid ORDER BY centroid_id
    """


@query(
    "q258_kmeans_converged_assignment",
    oracle=_sql_kmeans_converged_oracle(),
    tags=("llm", "similarity", "kmeans", "iterative", "convergence"),
)
def q258_kmeans_converged_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Final cluster census from the CONVERGED-training API
    (operators/similarity.py::kmeans_centroids_converged) — the value
    check q96/q127 leave uncovered: q96 oracles the fixed-count
    trainer and q127 the trajectory audit, but the converged API's own
    loop (movement collect, early-exit test, checkpointed model
    hand-off) never produced an oracle-checked result until here.

    Deterministic-iteration story: tol=0.0 can never exceed a
    nonnegative max-movement, so the loop runs exactly max_iterations
    (=2) on every dataset — the returned iteration count is a
    constant the oracle states literally, and the trained model is
    bit-identical to two unrolled Lloyd steps, which the oracle
    replays in decimal-exact SQL before the final assignment census.

    Scale: training is per-iteration one broadcast of 8 centroids +
    one map-side-combined decimal aggregation; the census is one more
    broadcast-assign map stage and an 8-group aggregate. Nothing
    data-sized shuffles."""
    emb = load(spark, sf_dir, "embeddings")
    cents, iters = kmeans_centroids_converged(
        emb, n_centroids=8, tol=0.0, max_iterations=2
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("_e"))
    # map-side argmax fold (assign_argmax_cosine) — no (n x 8) shuffle
    assigned = assign_argmax_cosine(vecs, "_e", cents)
    return (
        assigned.groupBy("centroid_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_assigned"))
        .select(
            F.col("centroid_id").cast("bigint").alias("centroid_id"),
            "n_assigned",
            F.lit(iters).cast("int").alias("iterations"),
        )
        .orderBy("centroid_id")
    )


# ---------------------------------------------------------------------------
# q259 — bounded-round 2-core peel of the near-dup graph
# ---------------------------------------------------------------------------


@query(
    "q259_kcore_peel_rounds",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e0 AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
    d1 AS (SELECT id, COUNT(*) AS deg FROM
           (SELECT a AS id FROM e0 UNION ALL SELECT b AS id FROM e0) GROUP BY id),
    s1 AS (SELECT id FROM d1 WHERE deg >= 2),
    e1 AS (SELECT a, b FROM e0
           WHERE a IN (SELECT id FROM s1) AND b IN (SELECT id FROM s1)),
    d2 AS (SELECT id, COUNT(*) AS deg FROM
           (SELECT a AS id FROM e1 UNION ALL SELECT b AS id FROM e1) GROUP BY id),
    s2 AS (SELECT id FROM d2 WHERE deg >= 2),
    e2 AS (SELECT a, b FROM e1
           WHERE a IN (SELECT id FROM s2) AND b IN (SELECT id FROM s2)),
    d3 AS (SELECT id, COUNT(*) AS deg FROM
           (SELECT a AS id FROM e2 UNION ALL SELECT b AS id FROM e2) GROUP BY id),
    s3 AS (SELECT id FROM d3 WHERE deg >= 2),
    e3 AS (SELECT a, b FROM e2
           WHERE a IN (SELECT id FROM s3) AND b IN (SELECT id FROM s3))
    SELECT CAST(round AS INT) AS round,
           CAST(n_nodes AS BIGINT) AS n_nodes,
           CAST(n_edges AS BIGINT) AS n_edges
    FROM (
      SELECT 1 AS round, (SELECT COUNT(*) FROM s1) AS n_nodes,
             (SELECT COUNT(*) FROM e1) AS n_edges
      UNION ALL
      SELECT 2, (SELECT COUNT(*) FROM s2), (SELECT COUNT(*) FROM e2)
      UNION ALL
      SELECT 3, (SELECT COUNT(*) FROM s3), (SELECT COUNT(*) FROM e3)
    ) ORDER BY round
    """,
    tags=("llm", "dedup", "graph", "kcore", "iterative"),
)
def q259_kcore_peel_rounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded 2-core peeling of the near-duplicate graph (q68's
    MinHash pairs as edges): each round simultaneously removes nodes
    with degree < 2 and the edges they carried, reporting surviving
    node/edge counts per round. Dense dup cores (the boilerplate
    clusters worth template-level review) survive peeling; chains and
    stars dissolve — the standard coreness triage before spending
    cluster-level curation effort (complements q201 triangles / q226
    PageRank / q250 components on the same graph).

    Fixed 3 rounds (not to-fixpoint): determinism and a bounded plan,
    the q127 doctrine for iterative ops; the oracle unrolls the same
    3 rounds. Each round's survivor/edge sets are localCheckpointed —
    model-to-id-sized rows — so round r+1 never replays round r's
    lineage; degree counts shuffle 8-byte ids only."""
    docs = load(spark, sf_dir, "documents")
    edges = (
        minhash_near_duplicates(docs, jaccard_threshold=0.5)
        .select("doc_id_a", "doc_id_b")
        .localCheckpoint(eager=True)
    )
    out = None
    for rnd in (1, 2, 3):
        ends = edges.select(F.col("doc_id_a").alias("id")).unionAll(
            edges.select(F.col("doc_id_b").alias("id"))
        )
        deg = ends.groupBy("id").agg(F.count(F.lit(1)).alias("deg"))
        surv = deg.filter(F.col("deg") >= 2).select("id").localCheckpoint(eager=True)
        edges = (
            edges.join(
                surv.withColumnRenamed("id", "doc_id_a"), "doc_id_a", "left_semi"
            )
            .join(surv.withColumnRenamed("id", "doc_id_b"), "doc_id_b", "left_semi")
            .localCheckpoint(eager=True)
        )
        row = (
            surv.agg(F.count(F.lit(1)).cast("bigint").alias("n_nodes"))
            .crossJoin(edges.agg(F.count(F.lit(1)).cast("bigint").alias("n_edges")))
            .select(F.lit(rnd).cast("int").alias("round"), "n_nodes", "n_edges")
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


# ---------------------------------------------------------------------------
# q260 — duplicated-shingle coverage (memorization-risk profile)
# ---------------------------------------------------------------------------


@query(
    "q260_duplicate_shingle_coverage",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    tx AS (
      SELECT doc_id, {_sql_hex60('MD5(s)', 1)} AS x
      FROM (SELECT doc_id, UNNEST(shingles) AS s FROM sh)
    ),
    dfc AS (SELECT x, COUNT(*) AS df FROM tx GROUP BY x),
    per AS (
      SELECT t.doc_id, COUNT(*) AS n_sh,
             SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS n_dup
      FROM tx t JOIN dfc d USING (x) GROUP BY t.doc_id
    )
    SELECT CAST(LEAST(9, (10 * n_dup) // n_sh) AS INT) AS dup_decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM per GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "dedup", "memorization", "shingle"),
)
def q260_duplicate_shingle_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorization-risk profile: per document, the share of its
    distinct 3-word shingles that appear in at least one OTHER place
    in the corpus, histogrammed by decile. Documents in the top
    deciles are assembled from corpus-common fragments (template/
    boilerplate risk for a trained model); q158 aggregates novelty by
    source — this is the per-document distribution the cut decision
    actually needs.

    Scale: documents collapse to 60-bit shingle hashes before any
    shuffle (the q60 hash-first doctrine — 8-byte keys move, text
    never does); the shingle-df aggregate is map-side combined; the
    decile is pure integer arithmetic (LEAST(9, (10*n_dup) div n_sh))
    so no float ever exists to diverge. The exploded hash stream feeds
    both the df aggregate and the join, so it is persisted once (the
    minhash_near_duplicates pattern) — without it the text scan and
    shingle hashing run twice."""
    docs = load(spark, sf_dir, "documents")
    sh = (
        shingle_words(docs, 3).select("doc_id", F.explode("xs").alias("x")).persist()
    )
    dfc = sh.groupBy("x").agg(F.count(F.lit(1)).alias("df"))
    per = (
        sh.join(dfc, "x")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_sh"),
            F.sum(F.when(F.col("df") >= 2, 1).otherwise(0)).alias("n_dup"),
        )
    )
    out = (
        per.select(
            F.least(F.lit(9), F.expr("(10 * n_dup) div n_sh"))
            .cast("int")
            .alias("dup_decile")
        )
        .groupBy("dup_decile")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("dup_decile")
    )
    return out


# ---------------------------------------------------------------------------
# q261 — temporal split leakage
# ---------------------------------------------------------------------------


@query(
    "q261_time_split_leakage",
    oracle="""
    WITH c(cutoff) AS (VALUES ('2024-01-10'), ('2024-01-15'), ('2024-01-20')),
    u AS (
      SELECT c.cutoff, e.user_id,
             MAX(CASE WHEN CAST(e.ts AS DATE) < CAST(c.cutoff AS DATE)
                 THEN 1 ELSE 0 END) AS in_train,
             MAX(CASE WHEN CAST(e.ts AS DATE) >= CAST(c.cutoff AS DATE)
                 THEN 1 ELSE 0 END) AS in_eval
      FROM events e CROSS JOIN c
      GROUP BY c.cutoff, e.user_id
    )
    SELECT cutoff,
           CAST(SUM(in_train) AS BIGINT) AS n_train_users,
           CAST(SUM(in_eval) AS BIGINT) AS n_eval_users,
           CAST(SUM(in_train * in_eval) AS BIGINT) AS n_overlap_users,
           CAST(CASE WHEN SUM(in_eval) = 0 THEN 0
                ELSE (1000000 * SUM(in_train * in_eval)) // SUM(in_eval)
                END AS BIGINT) AS leak_ppm
    FROM u GROUP BY cutoff ORDER BY cutoff
    """,
    tags=("llm", "split", "leakage", "events"),
)
def q261_time_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal split hygiene: for candidate train/eval cutoff dates,
    how many users appear on BOTH sides — the entity-level leakage a
    time-based split of behavioral data must measure before anyone
    trusts the eval (q105 splits by hash, q161 audits cross-SOURCE
    leakage; the time axis is the third door). leak_ppm = overlap
    users per million eval users, integer-exact.

    Scale: one user-keyed aggregate per cutoff over a broadcast
    3-row cutoff table — the per-(cutoff,user) flags collapse
    map-side; nothing but (cutoff, user_id) pairs shuffle."""
    ev = load(spark, sf_dir, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    cuts = spark.createDataFrame(
        [("2024-01-10",), ("2024-01-15",), ("2024-01-20",)], "cutoff string"
    )
    peru = (
        ev.crossJoin(F.broadcast(cuts))
        .groupBy("cutoff", "user_id")
        .agg(
            F.max(
                F.when(F.col("day") < F.to_date("cutoff"), 1).otherwise(0)
            ).alias("in_train"),
            F.max(
                F.when(F.col("day") >= F.to_date("cutoff"), 1).otherwise(0)
            ).alias("in_eval"),
        )
    )
    return (
        peru.groupBy("cutoff")
        .agg(
            F.sum("in_train").cast("bigint").alias("n_train_users"),
            F.sum("in_eval").cast("bigint").alias("n_eval_users"),
            F.sum(F.col("in_train") * F.col("in_eval"))
            .cast("bigint")
            .alias("n_overlap_users"),
            F.when(F.sum("in_eval") == 0, F.lit(0))
            .otherwise(
                F.expr("(1000000 * SUM(in_train * in_eval)) div SUM(in_eval)")
            )
            .cast("bigint")
            .alias("leak_ppm"),
        )
        .orderBy("cutoff")
    )


# ---------------------------------------------------------------------------
# q262 — vocabulary tail mass by token frequency band
# ---------------------------------------------------------------------------


@query(
    "q262_token_tail_mass",
    oracle="""
    WITH tok AS (
      SELECT source, tok FROM
        (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
    ),
    cnt AS (SELECT tok, COUNT(*) AS c FROM tok GROUP BY tok),
    b AS (
      SELECT t.source,
             CASE WHEN c.c = 1 THEN '1' WHEN c.c = 2 THEN '2'
                  WHEN c.c <= 4 THEN '3-4' WHEN c.c <= 8 THEN '5-8'
                  ELSE '9+' END AS freq_band
      FROM tok t JOIN cnt c USING (tok)
    ),
    tot AS (SELECT source, COUNT(*) AS n FROM b GROUP BY source)
    SELECT b.source, b.freq_band,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST((1000000 * COUNT(*)) // MAX(t.n) AS BIGINT) AS mass_ppm
    FROM b JOIN tot t USING (source)
    GROUP BY b.source, b.freq_band ORDER BY b.source, b.freq_band
    """,
    tags=("llm", "text", "vocabulary", "tail"),
)
def q262_token_tail_mass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary tail economics: per source, the share of token
    OCCURRENCES carried by rare-frequency bands (global count 1, 2,
    3-4, 5-8, 9+). q196's hapax rate counts rare TYPES; a tokenizer
    and a dedup budget care about occurrence MASS — a source whose
    text is mostly singleton tokens compresses badly and memorizes
    easily. mass_ppm is exact integer parts-per-million of the
    source's total occurrences.

    Scale: the global frequency table is a map-side-combined vocab
    aggregate (vocab << corpus) that broadcasts back onto the token
    stream; banding is a map-only CASE; the final aggregate groups on
    (source, band) — a handful of rows per source. The token stream
    feeds the vocab aggregate AND the banding join, and the banded
    stream feeds the totals AND the final aggregate — both are
    persisted once so the text scan and tokenization run once, not
    four times."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select(
        "source", F.explode(tokens(F.col("text"))).alias("tok")
    ).persist()
    cnt = tok.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    band = (
        F.when(F.col("c") == 1, "1")
        .when(F.col("c") == 2, "2")
        .when(F.col("c") <= 4, "3-4")
        .when(F.col("c") <= 8, "5-8")
        .otherwise("9+")
    )
    b = (
        tok.join(F.broadcast(cnt), "tok")
        .select("source", band.alias("freq_band"))
        .persist()
    )
    tot = b.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    out = (
        b.groupBy("source", "freq_band")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .join(F.broadcast(tot), "source")
        .select(
            "source",
            "freq_band",
            F.col("n_occurrences").cast("bigint").alias("n_occurrences"),
            F.expr("(1000000 * n_occurrences) div n").cast("bigint").alias("mass_ppm"),
        )
        .orderBy("source", "freq_band")
    )
    return out


# ---------------------------------------------------------------------------
# q263 — context-window truncation loss
# ---------------------------------------------------------------------------


@query(
    "q263_truncation_loss",
    oracle="""
    WITH n AS (
      SELECT source, LEN(STRING_SPLIT(text, ' ')) AS n_tok FROM documents
    ),
    l(max_len) AS (VALUES (16), (32), (64))
    SELECT CAST(l.max_len AS INT) AS max_len, n.source,
           CAST(SUM(n.n_tok) AS BIGINT) AS total_tokens,
           CAST(SUM(GREATEST(n.n_tok - l.max_len, 0)) AS BIGINT) AS lost_tokens,
           CAST((1000000 * SUM(GREATEST(n.n_tok - l.max_len, 0))) // SUM(n.n_tok)
                AS BIGINT) AS lost_ppm
    FROM n CROSS JOIN l
    GROUP BY l.max_len, n.source ORDER BY max_len, source
    """,
    tags=("llm", "packing", "truncation", "tokens"),
)
def q263_truncation_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window truncation loss: per (window length, source),
    the tokens a truncate-at-L policy discards and their ppm share —
    the number that decides between truncation and the splitting/
    packing path (q102/q214 budget ACCEPTED tokens; this prices what
    truncation THROWS AWAY, per source, across candidate window
    sizes). Integer-exact throughout.

    Scale: token counts are map-only; the 3-row window-length table
    broadcasts; one (max_len, source)-keyed map-side-combined
    aggregate. total_tokens repeats per max_len by construction —
    that is the readability choice, not a join defect."""
    docs = load(spark, sf_dir, "documents")
    n = docs.select("source", F.size(tokens(F.col("text"))).alias("n_tok"))
    lens = spark.createDataFrame([(16,), (32,), (64,)], "max_len int")
    return (
        n.crossJoin(F.broadcast(lens))
        .groupBy("max_len", "source")
        .agg(
            F.sum("n_tok").cast("bigint").alias("total_tokens"),
            F.sum(F.greatest(F.col("n_tok") - F.col("max_len"), F.lit(0)))
            .cast("bigint")
            .alias("lost_tokens"),
            F.expr(
                "(1000000 * SUM(GREATEST(n_tok - max_len, 0))) div SUM(n_tok)"
            )
            .cast("bigint")
            .alias("lost_ppm"),
        )
        .select(
            F.col("max_len").cast("int").alias("max_len"),
            "source",
            "total_tokens",
            "lost_tokens",
            "lost_ppm",
        )
        .orderBy("max_len", "source")
    )


# ---------------------------------------------------------------------------
# q264 — near-dup detector agreement (MinHash vs SimHash)
# ---------------------------------------------------------------------------


@query(
    "q264_detector_agreement",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    {_sql_simhash_pairs_cte()},
    m AS (SELECT doc_id_a, doc_id_b FROM pairs),
    s AS (SELECT doc_id_a, doc_id_b FROM spairs),
    nm AS (SELECT COUNT(*) AS n FROM m),
    ns AS (SELECT COUNT(*) AS n FROM s),
    nb AS (SELECT COUNT(*) AS n FROM m JOIN s USING (doc_id_a, doc_id_b))
    SELECT CAST(nm.n AS BIGINT) AS n_minhash,
           CAST(ns.n AS BIGINT) AS n_simhash,
           CAST(nb.n AS BIGINT) AS n_both,
           CAST(CASE WHEN nm.n + ns.n - nb.n = 0 THEN 0
                ELSE (1000000 * nb.n) // (nm.n + ns.n - nb.n)
                END AS BIGINT) AS agreement_ppm
    FROM nm, ns, nb
    """,
    tags=("llm", "dedup", "minhash", "simhash", "audit"),
)
def q264_detector_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-detector validation: the Jaccard agreement (in ppm)
    between the MinHash-LSH candidate-pair set (tau=0.5, q68) and the
    SimHash Hamming<=3 pair set (q129) over the same corpus. The two
    detectors fail differently — MinHash on short docs, SimHash on
    length-skewed ones — so low agreement flags a corpus where one
    detector alone under-recalls (q204/q209 sweep each detector's own
    parameters; this is the only cross-detector check).

    Scale: both pair sets are bucket-join outputs (never all-pairs);
    the agreement join is on 16-byte pair keys; the three counts are
    single-row aggregates crossJoined at the end — model-sized."""
    docs = load(spark, sf_dir, "documents")
    m = minhash_near_duplicates(docs, jaccard_threshold=0.5).select(
        "doc_id_a", "doc_id_b"
    )
    s = simhash_near_duplicates(docs, max_hamming=3).select("doc_id_a", "doc_id_b")
    nm = m.agg(F.count(F.lit(1)).alias("n_m"))
    ns = s.agg(F.count(F.lit(1)).alias("n_s"))
    nb = m.join(s, ["doc_id_a", "doc_id_b"]).agg(F.count(F.lit(1)).alias("n_b"))
    return (
        nm.crossJoin(ns)
        .crossJoin(nb)
        .select(
            F.col("n_m").cast("bigint").alias("n_minhash"),
            F.col("n_s").cast("bigint").alias("n_simhash"),
            F.col("n_b").cast("bigint").alias("n_both"),
            F.when(F.col("n_m") + F.col("n_s") - F.col("n_b") == 0, F.lit(0))
            .otherwise(F.expr("(1000000 * n_b) div (n_m + n_s - n_b)"))
            .cast("bigint")
            .alias("agreement_ppm"),
        )
    )


# ---------------------------------------------------------------------------
# q265 — dedup-induced source-mixture shift
# ---------------------------------------------------------------------------


@query(
    "q265_dedup_mixture_shift",
    oracle="""
    WITH keep AS (
      SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY MD5(text)
    ),
    before AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY source),
    after AS (
      SELECT d.source, COUNT(*) AS m
      FROM documents d JOIN keep k ON d.doc_id = k.doc_id GROUP BY d.source
    )
    SELECT b.source,
           CAST(b.n AS BIGINT) AS n_before,
           CAST(COALESCE(a.m, 0) AS BIGINT) AS n_after,
           CAST((1000000 * b.n) // (SELECT COUNT(*) FROM documents)
                AS BIGINT) AS before_ppm,
           CAST((1000000 * COALESCE(a.m, 0)) // (SELECT COUNT(*) FROM keep)
                AS BIGINT) AS after_ppm,
           CAST((1000000 * COALESCE(a.m, 0)) // (SELECT COUNT(*) FROM keep)
                - (1000000 * b.n) // (SELECT COUNT(*) FROM documents)
                AS BIGINT) AS shift_ppm
    FROM before b LEFT JOIN after a USING (source)
    ORDER BY source
    """,
    tags=("llm", "dedup", "mixture", "bias"),
)
def q265_dedup_mixture_shift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup bias on the corpus mixture: each source's share (ppm)
    before vs after exact-text dedup (q60's keep-min-doc_id policy),
    and the signed shift. Dedup is never mixture-neutral — a source
    full of syndicated copies shrinks, shifting every other source's
    effective weight — and a training mixture tuned BEFORE dedup
    (q101/q125) silently trains on this shifted one unless measured.

    Scale: the keep set is the q60 hash-groupBy (32-byte keys
    shuffle, text never does); both share tables are per-source
    aggregates; totals are broadcast single-row aggregates; all
    ratios are truncating integer ppm so the shift is exact."""
    docs = load(spark, sf_dir, "documents")
    keep = docs.groupBy(F.md5("text").alias("_k")).agg(
        F.min("doc_id").alias("doc_id")
    )
    before = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    after = (
        docs.join(keep.select("doc_id"), "doc_id")
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("m"))
    )
    tot_n = docs.agg(F.count(F.lit(1)).alias("tn"))
    tot_m = keep.agg(F.count(F.lit(1)).alias("tm"))
    return (
        before.join(after, "source", "left")
        .na.fill({"m": 0})
        .crossJoin(F.broadcast(tot_n))
        .crossJoin(F.broadcast(tot_m))
        .select(
            "source",
            F.col("n").cast("bigint").alias("n_before"),
            F.col("m").cast("bigint").alias("n_after"),
            F.expr("(1000000 * n) div tn").cast("bigint").alias("before_ppm"),
            F.expr("(1000000 * m) div tm").cast("bigint").alias("after_ppm"),
            F.expr("(1000000 * m) div tm - (1000000 * n) div tn")
            .cast("bigint")
            .alias("shift_ppm"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q266 — per-type burstiness (integer-exact Fano factor)
# ---------------------------------------------------------------------------


@query(
    "q266_event_type_fano",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS x
      FROM events GROUP BY event_type, day
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(SUM(x) AS BIGINT) AS n_events,
           CAST((1000000 * (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)))
                // (COUNT(*) * SUM(x)) AS BIGINT) AS fano_ppm
    FROM d GROUP BY event_type ORDER BY event_type
    """,
    tags=("llm", "events", "burstiness", "fano"),
)
def q266_event_type_fano(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burstiness per event type: the Fano factor (variance/mean of
    daily counts, over days the type occurs) in exact integer ppm —
    n*var/mean = (n*Sum(x^2) - Sum(x)^2) / (n*Sum(x)). ~1e6 ppm is
    Poisson-like traffic; far above means bursty arrivals that break
    per-day capacity planning (q168 histograms inter-arrival GAPS;
    q240 detects burst WINDOWS; this is the one-number dispersion
    summary per type). No float exists anywhere: counts, squares,
    and the ppm quotient are all int64.

    int64 bound: the numerator ~ 1e6 * n_days * Sum(x^2); with 30-day
    fixtures it overflows only past ~5e5 events/day/type (x^2 ~ 2.6e11
    * 30 days * 1e6 = 8e18 ~ int64 max) — beyond that, band the days
    or drop to DECIMAL sums (the oracle's HUGEINT is already exact)."""
    ev = load(spark, sf_dir, "events")
    d = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        F.count(F.lit(1)).alias("x")
    )
    return (
        d.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum("x").cast("bigint").alias("n_events"),
            F.expr(
                "(1000000 * (COUNT(*) * SUM(x * x) - SUM(x) * SUM(x)))"
                " div (COUNT(*) * SUM(x))"
            )
            .cast("bigint")
            .alias("fano_ppm"),
        )
        .orderBy("event_type")
    )
