"""LLM-ops wave 15: estimator uncertainty without replays (Poisson
bootstrap), data-profiling (functional dependencies), corpus
concentration planning, contrastive hard-negative mining,
batch-padding economics, and a memorylessness test for arrival
processes — the eleventh ring of curation/analytics machinery around
waves 1-14.

Output-hardening doctrine (as waves 6-14): BIGINT-cast integer
aggregates, sign-factored truncating division for every ppm ratio
(q253 doctrine), identical-IEEE float expressions on both sides where
a float is unavoidable (q98 doctrine), and — new in this wave — the
Poisson-weight inverse CDF evaluated by EXACT INTEGER threshold
compare on a 32-bit md5 uniform (the thresholds are Python-computed
constants embedded identically in both engines, so no float CDF is
ever evaluated at query time).

Reference parity: the reference trusts one daily mean from one table
(dags/Final_app.py:79-149); at corpus scale that mean needs an error
bar without a second pass (q279), the table's implicit key contracts
need checking (q280), and the training loader downstream needs
negatives (q282) and a padding budget (q283).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_cosine, _sql_srp_bucket
from .registry import query

# ---------------------------------------------------------------------------
# q279 — Poisson-bootstrap uncertainty of the mean
# ---------------------------------------------------------------------------

# Poisson(1) inverse-CDF thresholds on a 32-bit uniform: w = k iff
# v < T[k] (first match), w = 10 past T[9]. Computed once in Python and
# embedded as integer literals in BOTH engines — the query-time test is
# an exact integer compare, never a float CDF.
_POIS_T: list[int] = []
_p = math.exp(-1.0)
_cdf = _p
for _k in range(10):
    _POIS_T.append(math.floor(_cdf * 2**32))
    _p /= _k + 1
    _cdf += _p

_B = 32  # resamples


def _pois_case(v: str) -> str:
    """CASE chain mapping a 32-bit uniform to a Poisson(1) weight —
    identical text works in Spark SQL and DuckDB."""
    whens = " ".join(f"WHEN {v} < {t} THEN {k}" for k, t in enumerate(_POIS_T))
    return f"(CASE {whens} ELSE 10 END)"


@query(
    "q279_poisson_bootstrap_mean",
    oracle=f"""
    WITH base AS (
      SELECT o_orderkey, CAST(FLOOR(o_totalprice * 100) AS BIGINT) AS cents
      FROM orders
    ),
    pt AS (
      SELECT b, cents,
             {_pois_case("(CAST('0x' || SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)"
                         " || '_' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT))")}
               AS w
      FROM base CROSS JOIN (SELECT UNNEST(RANGE(0, {_B})) AS b)
    ),
    m AS (
      SELECT b, CASE WHEN SUM(w) = 0 THEN 0
                     ELSE SUM(w * cents) // SUM(w) END AS mb
      FROM pt GROUP BY b
    ),
    v AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_resamples,
             CAST(MIN(mb) AS BIGINT) AS min_mean_cents,
             CAST(MAX(mb) AS BIGINT) AS max_mean_cents,
             CAST((COUNT(*) * SUM(mb * mb) - SUM(mb) * SUM(mb))
                  // (COUNT(*) * (COUNT(*) - 1)) AS BIGINT) AS boot_var_cents2
      FROM m
    ),
    pe AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
             CAST(SUM(cents) // COUNT(*) AS BIGINT) AS mean_cents
      FROM base
    )
    SELECT n_orders, mean_cents, n_resamples,
           boot_var_cents2, min_mean_cents, max_mean_cents
    FROM pe CROSS JOIN v
    """,
    tags=("audit", "bootstrap", "uncertainty", "stats"),
)
def q279_poisson_bootstrap_mean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson bootstrap for the mean order value: 32 deterministic
    resamples, each row carrying a Poisson(1) weight derived from a
    32-bit md5 uniform by EXACT integer threshold compare (the
    single-pass bootstrap used on datasets too large to resample by
    permutation — each resample's weights are i.i.d. per row, so all
    {_B} replicas stream through ONE pass). Reported: the point
    estimate, the between-resample variance of the resample means
    (cents², the square of the standard error), and the resample
    envelope. q27/q190 report the point statistics; this prices how
    far they can be trusted.

    ENTIRELY integer at query time: cents = FLOOR(value·100) (one
    identical-IEEE product), weights by integer threshold, resample
    means by truncating division, and the variance by the integer
    closed form (B·Σm²−(Σm)²)/(B(B−1)) (q253/q275 doctrine).

    Scale: the weighted pass is map-only (weights are pure functions
    of (key, b)); the shuffle carries 32 groups × 2 accumulators.
    The ×32 row fan-out is map-side arithmetic, never materialized
    wider than the aggregate's combiners."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey",
        F.floor(F.col("o_totalprice") * 100).cast("bigint").alias("cents"),
    )
    pt = base.select(
        "cents",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        "o_orderkey",
    ).select(
        "b",
        "cents",
        F.expr(
            _pois_case(
                "CAST(CONV(SUBSTRING(MD5(CONCAT(CAST(o_orderkey AS STRING),"
                " '_', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
        ).alias("w"),
    )
    m = pt.groupBy("b").agg(
        F.expr(
            "CASE WHEN SUM(w) = 0 THEN CAST(0 AS BIGINT)"
            " ELSE SUM(w * cents) div SUM(w) END"
        ).alias("mb")
    )
    v = m.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_resamples"),
        F.min("mb").cast("bigint").alias("min_mean_cents"),
        F.max("mb").cast("bigint").alias("max_mean_cents"),
        F.expr(
            "CAST((COUNT(*) * SUM(mb * mb) - SUM(mb) * SUM(mb))"
            " div (COUNT(*) * (COUNT(*) - 1)) AS BIGINT)"
        ).alias("boot_var_cents2"),
    )
    pe = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.expr("CAST(SUM(cents) div COUNT(*) AS BIGINT)").alias("mean_cents"),
    )
    return pe.crossJoin(F.broadcast(v)).select(
        "n_orders",
        "mean_cents",
        "n_resamples",
        "boot_var_cents2",
        "min_mean_cents",
        "max_mean_cents",
    )


# ---------------------------------------------------------------------------
# q280 — functional-dependency discovery audit
# ---------------------------------------------------------------------------

_FD_CANDIDATES = (
    ("customer", "c_custkey", "c_name"),
    ("customer", "c_nationkey", "c_mktsegment"),
    ("orders", "o_orderkey", "o_orderstatus"),
    ("orders", "o_custkey", "o_orderpriority"),
    ("nation", "n_nationkey", "n_regionkey"),
)


def _fd_oracle() -> str:
    parts = []
    for tbl, det, dep in _FD_CANDIDATES:
        parts.append(f"""
      SELECT '{tbl}' AS table_name, '{det}' AS determinant,
             '{dep}' AS dependent,
             CAST(COUNT(*) AS BIGINT) AS n_det_values,
             CAST(SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_violating,
             CAST(CASE WHEN SUM(CASE WHEN nd > 1 THEN 1 ELSE 0 END) = 0
                       THEN 1 ELSE 0 END AS INT) AS fd_holds
      FROM (SELECT {det}, COUNT(DISTINCT {dep}) AS nd
            FROM {tbl} GROUP BY {det})""")
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ")\n"
        "    ORDER BY table_name, determinant, dependent"
    )


@query(
    "q280_functional_dependency_audit",
    oracle=_fd_oracle(),
    tags=("audit", "profiling", "fd", "quality"),
)
def q280_functional_dependency_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Functional-dependency discovery over declared candidate pairs:
    for each (determinant → dependent) claim, the number of
    determinant values and how many of them map to MORE than one
    dependent value — the data-profiling primitive behind key
    inference, normalization checks, and join-safety (a violated FD
    is exactly the condition under which a dimension join fans out;
    q227 measures that fan-out after the fact, this predicts it).
    Key-determined claims (c_custkey→c_name, o_orderkey→status,
    n_nationkey→region) must hold; attribute-level claims
    (nation→segment, customer→priority) are measured, not assumed.

    Scale: each candidate is one two-level map-side-combined
    aggregate grouped on the determinant (COUNT(DISTINCT dep) per
    det value, then a scalar roll-up); candidates touch only their
    two columns (pruned scans) and never join."""
    rows = []
    for tbl, det, dep in _FD_CANDIDATES:
        t = load(spark, sf_dir, tbl)
        g = t.groupBy(det).agg(F.countDistinct(dep).alias("nd"))
        viol = F.sum(F.when(F.col("nd") > 1, 1).otherwise(0))
        rows.append(
            g.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_det_values"),
                viol.cast("bigint").alias("n_violating"),
            ).select(
                F.lit(tbl).alias("table_name"),
                F.lit(det).alias("determinant"),
                F.lit(dep).alias("dependent"),
                "n_det_values",
                "n_violating",
                F.when(F.col("n_violating") == 0, 1)
                .otherwise(0)
                .cast("int")
                .alias("fd_holds"),
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name", "determinant", "dependent")


# ---------------------------------------------------------------------------
# q281 — source coverage curve (how concentrated is the corpus?)
# ---------------------------------------------------------------------------


@query(
    "q281_source_coverage_curve",
    oracle="""
    WITH s AS (
      SELECT source, COUNT(*) AS n FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, n,
             ROW_NUMBER() OVER (ORDER BY n DESC, source) AS rk,
             SUM(n) OVER (ORDER BY n DESC, source
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM s
    ),
    tot AS (SELECT SUM(n) AS total FROM s)
    SELECT CAST(pct AS INT) AS pct,
           CAST(MIN(rk) AS BIGINT) AS k_sources,
           CAST(MIN_BY(cum, rk) AS BIGINT) AS covered_docs
    FROM (SELECT UNNEST([50, 90, 99]) AS pct) p
    CROSS JOIN tot
    JOIN r ON r.cum * 100 >= p.pct * tot.total
    GROUP BY pct ORDER BY pct
    """,
    tags=("llm", "corpus", "concentration", "planning"),
)
def q281_source_coverage_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus concentration as a coverage curve: the minimum number of
    sources (largest first) whose documents cover 50 / 90 / 99 % of
    the corpus, with the exact document count covered at that cut.
    q169/q193 report concentration INDEXES (HHI, Gini); this is the
    actionable form — how many ingest contracts, crawl pipelines, or
    licensing deals account for the corpus (the integer compare
    cum·100 ≥ pct·total keeps the cut exact, no float shares).

    Scale: sources collapse to one row each before any window (the
    unpartitioned rank/cumsum runs over |sources| rows — tens, not
    documents; same bounded-window doctrine as q267's 256-bin
    cumsum); the percentile probe is a 3-row broadcast."""
    docs = load(spark, sf_dir, "documents")
    s = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    # global-window-ok: source-grain: |sources| rows (docstring)
    wr = W.orderBy(F.desc("n"), "source")
    r = s.select(
        "n",
        F.row_number().over(wr).alias("rk"),
        F.sum("n")
        .over(wr.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("cum"),
    )
    tot = s.agg(F.sum("n").alias("total"))
    p = spark.createDataFrame([(50,), (90,), (99,)], "pct int")
    return (
        p.crossJoin(F.broadcast(tot))
        .join(F.broadcast(r), F.col("cum") * 100 >= F.col("pct") * F.col("total"))
        .groupBy("pct")
        .agg(
            F.min("rk").cast("bigint").alias("k_sources"),
            F.min_by("cum", "rk").cast("bigint").alias("covered_docs"),
        )
        .select(F.col("pct").cast("int").alias("pct"), "k_sources", "covered_docs")
        .orderBy("pct")
    )


# ---------------------------------------------------------------------------
# q282 — contrastive hard-negative mining via SRP buckets
# ---------------------------------------------------------------------------


@query(
    "q282_hard_negative_mining",
    oracle=f"""
    WITH b AS (
      SELECT vec_id, {_sql_srp_bucket(8)} AS bucket, embedding
      FROM embeddings
    ),
    p AS (
      SELECT a.vec_id AS va, b2.vec_id AS vb,
             {_sql_cosine('a.embedding', 'b2.embedding')} AS c
      FROM b a JOIN b b2 ON a.bucket = b2.bucket AND a.vec_id < b2.vec_id
    ),
    h AS (
      SELECT anchor,
             SUM(CASE WHEN c >= 0.2 AND c < 0.35 THEN 1 ELSE 0 END) AS hn
      FROM (SELECT va AS anchor, c FROM p
            UNION ALL SELECT vb AS anchor, c FROM p)
      GROUP BY anchor
    )
    SELECT CAST(LEAST(9, COALESCE(hn, 0)) AS INT) AS hard_negatives,
           CAST(COUNT(*) AS BIGINT) AS n_vectors
    FROM embeddings e LEFT JOIN h ON e.vec_id = h.anchor
    GROUP BY LEAST(9, COALESCE(hn, 0)) ORDER BY hard_negatives
    """,
    tags=("llm", "similarity", "contrastive", "mining"),
)
def q282_hard_negative_mining(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative supply audit for contrastive training: per
    vector, how many same-SRP-bucket neighbors fall in the HARD band
    (cosine in [0.2, 0.35) — directionally close enough to be
    informative, below the near-dup bar of 0.35 that q74/q75 treat
    as duplicates), histogrammed with a 9+ cap. A contrastive run
    starves without in-batch hard negatives; this is the feasibility
    count, mined with the SAME bucket machinery the ANN path uses
    (q72), so zero new index structures.

    Scale: candidates come from the SRP bucket self-join
    (O(Σ bucket²), q68 economics — never all-pairs); the cosine is
    the identical-IEEE chain proven bit-equal by q71/q74; band edges
    compare bit-identical doubles, so the banded counts are exact
    integers on both engines."""
    from ..operators.similarity import bucket_keys, cosine

    emb = load(spark, sf_dir, "embeddings")
    e = emb.join(bucket_keys(emb, n_planes=8), "vec_id").select(
        "vec_id", "bucket", "embedding"
    )
    a = e.select(
        F.col("vec_id").alias("va"),
        F.col("bucket").alias("bucket"),
        F.col("embedding").alias("ea"),
    )
    b = e.select(
        F.col("vec_id").alias("vb"),
        F.col("bucket").alias("bucket"),
        F.col("embedding").alias("eb"),
    )
    p = (
        a.join(b, "bucket")
        .filter(F.col("va") < F.col("vb"))
        .select("va", "vb", cosine(F.col("ea"), F.col("eb")).alias("c"))
    )
    hard = F.when((F.col("c") >= 0.2) & (F.col("c") < 0.35), 1).otherwise(0)
    h = (
        p.select(F.col("va").alias("anchor"), hard.alias("is_hard"))
        .unionAll(p.select(F.col("vb").alias("anchor"), hard.alias("is_hard")))
        .groupBy("anchor")
        .agg(F.sum("is_hard").alias("hn"))
    )
    return (
        emb.select("vec_id")
        .join(h, F.col("vec_id") == F.col("anchor"), "left")
        .select(
            F.least(F.lit(9), F.coalesce(F.col("hn"), F.lit(0)))
            .cast("int")
            .alias("hard_negatives")
        )
        .groupBy("hard_negatives")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_vectors"))
        .orderBy("hard_negatives")
    )


# ---------------------------------------------------------------------------
# q283 — batch padding waste: arrival order vs length bucketing
# ---------------------------------------------------------------------------

_BATCH = 32


@query(
    "q283_padding_waste_audit",
    oracle=f"""
    WITH d AS (
      SELECT doc_id, n_chars,
             SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) AS shard,
             MD5(CAST(doc_id AS VARCHAR)) AS h
      FROM documents
    ),
    assigned AS (
      SELECT 'arrival' AS strategy, shard, n_chars,
             (ROW_NUMBER() OVER (PARTITION BY shard ORDER BY h) - 1)
               // {_BATCH} AS batch
      FROM d
      UNION ALL
      SELECT 'length_sorted', shard, n_chars,
             (ROW_NUMBER() OVER (PARTITION BY shard
                                 ORDER BY n_chars, doc_id) - 1)
               // {_BATCH} AS batch
      FROM d
    ),
    per AS (
      SELECT strategy, shard, batch,
             COUNT(*) AS bn, MAX(n_chars) AS mx, SUM(n_chars) AS useful
      FROM assigned GROUP BY strategy, shard, batch
    )
    SELECT strategy,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(bn * mx) AS BIGINT) AS padded_chars,
           CAST(SUM(useful) AS BIGINT) AS useful_chars,
           CAST((1000000 * (SUM(bn * mx) - SUM(useful)))
                // SUM(bn * mx) AS BIGINT) AS waste_ppm
    FROM per GROUP BY strategy ORDER BY strategy
    """,
    tags=("llm", "packing", "padding", "economics"),
)
def q283_padding_waste_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding economics for fixed-size batches (size 32): the
    characters a loader pads (batch_size·max_len − Σlen, summed over
    batches) under ARRIVAL order versus LENGTH-SORTED order, as ppm
    of padded volume. Sequence packing (q102/q170/q239) concatenates
    to dodge padding entirely; most training loaders instead pad
    within batches — this measures what length bucketing saves
    before anyone builds the packer.

    Batches form WITHIN 16 md5 shards — exactly how a distributed
    loader works (each worker batches its own shard; a global batch
    sequence would serialize ingestion), so every window is
    shard-partitioned, never global (q267 doctrine). Arrival order
    is the md5 of the id (q101's deterministic shuffle stand-in);
    ties are impossible (md5 of distinct ids) or id-broken. All
    integers; truncating division on nonnegative operands."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "n_chars",
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).alias("shard"),
        F.md5(F.col("doc_id").cast("string")).alias("h"),
    )
    wa = W.partitionBy("shard").orderBy("h")
    wl = W.partitionBy("shard").orderBy("n_chars", "doc_id")
    assigned = d.select(
        F.lit("arrival").alias("strategy"),
        "shard",
        "n_chars",
        ((F.row_number().over(wa) - 1) / _BATCH).cast("bigint").alias("batch"),
    ).unionAll(
        d.select(
            F.lit("length_sorted").alias("strategy"),
            "shard",
            "n_chars",
            ((F.row_number().over(wl) - 1) / _BATCH).cast("bigint").alias("batch"),
        )
    )
    per = assigned.groupBy("strategy", "shard", "batch").agg(
        F.count(F.lit(1)).alias("bn"),
        F.max("n_chars").alias("mx"),
        F.sum("n_chars").alias("useful"),
    )
    return (
        per.groupBy("strategy")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_batches"),
            F.sum(F.col("bn") * F.col("mx")).cast("bigint").alias("padded_chars"),
            F.sum("useful").cast("bigint").alias("useful_chars"),
            F.expr(
                "CAST((1000000 * (SUM(bn * mx) - SUM(useful)))"
                " div SUM(bn * mx) AS BIGINT)"
            ).alias("waste_ppm"),
        )
        .orderBy("strategy")
    )


# ---------------------------------------------------------------------------
# q284 — interarrival memorylessness audit
# ---------------------------------------------------------------------------


@query(
    "q284_memorylessness_audit",
    oracle="""
    WITH g AS (
      SELECT DATE_DIFF('microsecond',
                       LAG(ts) OVER (PARTITION BY user_id
                                     ORDER BY ts, event_id),
                       ts) AS gap_us
      FROM events
    ),
    gg AS (SELECT gap_us FROM g WHERE gap_us IS NOT NULL),
    t AS (SELECT UNNEST([60, 300, 900]) AS m_seconds),
    s AS (
      SELECT m_seconds,
             COUNT(*) AS n_gaps,
             SUM(CASE WHEN gap_us > m_seconds * 1000000
                 THEN 1 ELSE 0 END) AS n_gt_m,
             SUM(CASE WHEN gap_us > 2 * m_seconds * 1000000
                 THEN 1 ELSE 0 END) AS n_gt_2m
      FROM t CROSS JOIN gg GROUP BY m_seconds
    )
    SELECT CAST(m_seconds AS INT) AS m_seconds,
           CAST(n_gaps AS BIGINT) AS n_gaps,
           CAST(n_gt_m AS BIGINT) AS n_gt_m,
           CAST(n_gt_2m AS BIGINT) AS n_gt_2m,
           CAST((1000000 * n_gt_m) // n_gaps AS BIGINT) AS surv_m_ppm,
           CAST(CASE WHEN n_gt_m = 0 THEN 0
                     ELSE (1000000 * n_gt_2m) // n_gt_m
                END AS BIGINT) AS cond_surv_ppm
    FROM s ORDER BY m_seconds
    """,
    tags=("streaming", "events", "interarrival", "stats"),
)
def q284_memorylessness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Memorylessness test for user interarrival times: for horizons
    m ∈ {60, 300, 900} s, the unconditional survival P(gap > m) next
    to the conditional survival P(gap > 2m | gap > m), both in ppm.
    For a Poisson (memoryless) arrival process the two MATCH; a
    conditional above the unconditional means heavy-tailed gaps
    (bursty users — sessionization (q82) and its gap-threshold sweep
    (q232) are justified exactly when this test fails, and the
    streaming watermark (streaming/events.py) must cover the tail
    this reveals). q168 histograms the gaps; this runs the
    STATISTICAL TEST on them.

    Scale: gaps come from ONE user-partitioned LAG pass; the three
    horizons are a 3-row broadcast against the gap stream; counts are
    exact integers with q253-doctrine truncating division."""
    ev = load(spark, sf_dir, "events")
    wo = W.partitionBy("user_id").orderBy("ts", "event_id")
    g = ev.select(
        (F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(wo))).alias(
            "gap_us"
        )
    ).filter(F.col("gap_us").isNotNull())
    t = spark.createDataFrame([(60,), (300,), (900,)], "m_seconds int")
    s = (
        g.crossJoin(F.broadcast(t))
        .groupBy("m_seconds")
        .agg(
            F.count(F.lit(1)).alias("n_gaps"),
            F.sum(
                F.when(F.col("gap_us") > F.col("m_seconds") * 1000000, 1).otherwise(0)
            ).alias("n_gt_m"),
            F.sum(
                F.when(
                    F.col("gap_us") > 2 * F.col("m_seconds").cast("bigint") * 1000000,
                    1,
                ).otherwise(0)
            ).alias("n_gt_2m"),
        )
    )
    return s.select(
        F.col("m_seconds").cast("int").alias("m_seconds"),
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        F.col("n_gt_m").cast("bigint").alias("n_gt_m"),
        F.col("n_gt_2m").cast("bigint").alias("n_gt_2m"),
        F.expr("CAST((1000000 * n_gt_m) div n_gaps AS BIGINT)").alias(
            "surv_m_ppm"
        ),
        F.expr(
            "CAST(CASE WHEN n_gt_m = 0 THEN 0"
            " ELSE (1000000 * n_gt_2m) div n_gt_m END AS BIGINT)"
        ).alias("cond_surv_ppm"),
    ).orderBy("m_seconds")
