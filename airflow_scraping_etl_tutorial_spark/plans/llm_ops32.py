"""LLM-ops wave 33: retrieval EVALUATION and release-governance audits
— the measurement layer a retrieval/training-data stack runs before
trusting its rankers and before publishing aggregates:

- q332: NDCG@20 of the q235 BM25 ranking against graded term-overlap
  relevance (exact integer micro-DCG with Python-precomputed
  1/log2(r+1) discount constants; ideal DCG from rel-value counts,
  never a second global sort).
- q333: precision@k / recall@k (k = 5/10/20) + MRR for strict
  all-terms relevance over the same ranking.
- q334: Kendall tau + Spearman rho between the BM25 rank and a
  doc-length rank on the top-20 — the length-bias audit (BM25's b
  parameter exists exactly because of this failure mode).
- q335: t-closeness of the q256 quasi-identifier classes w.r.t. the
  ordered order-priority attribute (EMD between per-class and global
  cumulative distributions, in exact ppm integers).
- q336: differential-privacy histogram release planning — at which
  epsilon does a Laplace-noised (event_type x day) histogram keep
  per-cell expected error within 5%? (closed-form: E|Lap(b)| = b =
  1/eps; pure integer comparison).

Output-hardening doctrine (as waves 6-32): every ranking consumes only
RANKS and integer counts; the only float anywhere is the BM25 score
itself (already bit-deterministic per the q235 doctrine); discount
weights enter as Python-side integer constants embedded in BOTH
engines' plans; every ratio is a truncating integer division on
identically-derived integers; all integer-sum oracle outputs CAST to
BIGINT.

Reference parity: the reference pipeline's value is the QUALITY of the
daily table it publishes (README.md:21); these are the standard audits
a consumer of a published ranking/aggregate runs — IR eval (NDCG/P@k/
MRR/tau), privacy-release gates (t-closeness after q256's
k-anonymity), and DP budget planning.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops9 import _SQL_BM25_CTES, _bm25_doc_scores
from .registry import query

# ---------------------------------------------------------------------------
# q332 — NDCG@20 of the BM25 ranking vs graded term-overlap relevance
# ---------------------------------------------------------------------------

_NDCG_K = 20
# Integer micro-scaled DCG discounts 1e6/log2(r+1), precomputed in
# Python so neither engine evaluates a log at query time (the q128/
# q166 quantized-transcendental doctrine, here collapsed to constants
# because the rank domain is tiny and fixed).
_DCG_W = tuple(
    (r, round(1_000_000 / math.log2(r + 1))) for r in range(1, _NDCG_K + 1)
)
_SQL_DCG_W = ", ".join(f"({r}, {w})" for r, w in _DCG_W)


@query(
    "q332_retrieval_ndcg_audit",
    oracle=f"""
    WITH {_SQL_BM25_CTES},
    w(rk, wt) AS (VALUES {_SQL_DCG_W}),
    ranked AS (
      SELECT n_terms_hit AS rel,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM bm
    ),
    dcg AS (
      SELECT CAST(SUM(r.rel * w.wt) AS BIGINT) AS dcg_micro
      FROM ranked r JOIN w ON w.rk = r.rk
    ),
    relcnt AS (
      SELECT n_terms_hit AS v, COUNT(*) AS cnt FROM bm GROUP BY n_terms_hit
    ),
    cumhi AS (
      SELECT a.v, a.cnt,
             CAST(COALESCE(SUM(b.cnt), 0) AS BIGINT) AS above
      FROM relcnt a LEFT JOIN relcnt b ON b.v > a.v
      GROUP BY a.v, a.cnt
    ),
    ideal AS (
      SELECT CAST(SUM(c.v * w.wt) AS BIGINT) AS idcg_micro
      FROM w JOIN cumhi c ON w.rk > c.above AND w.rk <= c.above + c.cnt
    ),
    nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates FROM bm)
    SELECT nc.n_candidates,
           d.dcg_micro,
           i.idcg_micro,
           CAST(d.dcg_micro * 1000000 // i.idcg_micro AS BIGINT) AS ndcg_ppm
    FROM dcg d CROSS JOIN ideal i CROSS JOIN nc
    """,
    tags=("llm", "retrieval", "eval", "ndcg"),
)
def q332_retrieval_ndcg_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NDCG@20 of the q235 BM25 ranking, graded by term-overlap
    relevance (rel(d) = how many of the 5 query terms d contains,
    1..5) — the standard ranking-quality metric, made bit-exact:
    DCG@20 = sum rel_r * round(1e6/log2(r+1)) over the top 20 (the
    discount constants are Python integers embedded in both plans),
    and the IDEAL DCG comes from the per-rel-value COUNTS (5 rows):
    rank r's ideal grade is the value v whose descending cumulative
    range covers r — a 20x5 bounded join, never a second global sort
    of the candidates.

    Scale: the candidate frame is the posting-list join of q235 (only
    docs matching >=1 query term); its top-20 is rank-filtered, the
    rel-value census is a 5-row aggregate, and everything downstream
    is constant-size. ndcg_ppm is a truncating integer division of
    exact integer micro-DCGs."""
    bm, _dl = _bm25_doc_scores(spark, sf_dir)
    bm = bm.persist()
    wdf = spark.createDataFrame(list(_DCG_W), "rk int, wt bigint")
    ranked = bm.select(
        F.col("n_terms_hit").alias("rel"),
        F.row_number()
        # global-window-ok: rank over query-term candidate docs, top-20 consumed; 100 TB form = per-query top-k
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rk"),
    )
    dcg = (
        ranked.join(F.broadcast(wdf), "rk")
        .agg(F.sum(F.col("rel") * F.col("wt")).cast("bigint").alias("dcg_micro"))
    )
    relcnt = bm.groupBy(F.col("n_terms_hit").alias("v")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    a, b = relcnt.alias("a"), relcnt.alias("b")
    cumhi = (
        a.join(F.broadcast(b), F.col("b.v") > F.col("a.v"), "left")
        .groupBy(F.col("a.v").alias("v"), F.col("a.cnt").alias("cnt"))
        .agg(F.coalesce(F.sum("b.cnt"), F.lit(0)).cast("bigint").alias("above"))
    )
    ideal = (
        wdf.join(
            F.broadcast(cumhi),
            (F.col("rk") > F.col("above"))
            & (F.col("rk") <= F.col("above") + F.col("cnt")),
        )
        .agg(F.sum(F.col("v") * F.col("wt")).cast("bigint").alias("idcg_micro"))
    )
    nc = bm.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    out = (
        dcg.crossJoin(F.broadcast(ideal))
        .crossJoin(F.broadcast(nc))
        .select(
            "n_candidates",
            "dcg_micro",
            "idcg_micro",
            F.expr("CAST(dcg_micro * 1000000 div idcg_micro AS BIGINT)").alias(
                "ndcg_ppm"
            ),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q333 — precision@k / recall@k / MRR for strict all-terms relevance
# ---------------------------------------------------------------------------


@query(
    "q333_retrieval_precision_recall",
    oracle=f"""
    WITH {_SQL_BM25_CTES},
    ranked AS (
      SELECT CASE WHEN n_terms_hit = 5 THEN 1 ELSE 0 END AS rel,
             ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk
      FROM bm
    ),
    tot AS (
      SELECT CAST(SUM(rel) AS BIGINT) AS n_rel,
             CAST(MIN(CASE WHEN rel = 1 THEN rk END) AS BIGINT)
               AS first_rel_rank
      FROM ranked
    ),
    ks(k) AS (VALUES (5), (10), (20))
    SELECT CAST(ks.k AS INT) AS k,
           CAST(SUM(CASE WHEN r.rk <= ks.k THEN r.rel ELSE 0 END) AS BIGINT)
             AS hits,
           CAST(SUM(CASE WHEN r.rk <= ks.k THEN r.rel ELSE 0 END)
                * 1000000 // ks.k AS BIGINT) AS precision_ppm,
           CAST(SUM(CASE WHEN r.rk <= ks.k THEN r.rel ELSE 0 END)
                * 1000000 // t.n_rel AS BIGINT) AS recall_ppm,
           t.n_rel,
           t.first_rel_rank,
           CAST(1000000 // t.first_rel_rank AS BIGINT) AS mrr_micro
    FROM ranked r CROSS JOIN tot t CROSS JOIN ks
    GROUP BY ks.k, t.n_rel, t.first_rel_rank
    ORDER BY k
    """,
    tags=("llm", "retrieval", "eval", "precision-recall"),
)
def q333_retrieval_precision_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Precision@k, recall@k (k = 5/10/20) and MRR of the q235 BM25
    ranking under STRICT relevance (a doc is relevant iff it contains
    all 5 query terms — the binary twin of q332's graded audit; the
    fixtures have hundreds of such docs at every SF, so recall is
    always well-defined). All three metrics are rank-and-count
    integer arithmetic: hits@k is a conditional count, ratios are
    truncating ppm divisions, and MRR's reciprocal is 1e6 div
    first_rel_rank — exact because only one query is evaluated.

    Scale: one candidate-frame rank (same window as q245's lexical
    arm), one 1-row total broadcast, a 3-row k-grid; nothing
    downstream of the posting-list join exceeds candidate size."""
    bm, _dl = _bm25_doc_scores(spark, sf_dir)
    ranked = bm.select(
        F.when(F.col("n_terms_hit") == 5, 1).otherwise(0).alias("rel"),
        F.row_number()
        # global-window-ok: rank over query-term candidate docs; 100 TB form = per-query top-k
        .over(W.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rk"),
    ).persist()
    tot = ranked.agg(
        F.sum("rel").cast("bigint").alias("n_rel"),
        F.min(F.when(F.col("rel") == 1, F.col("rk")))
        .cast("bigint")
        .alias("first_rel_rank"),
    )
    ks = spark.createDataFrame([(5,), (10,), (20,)], "k int")
    out = (
        ranked.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(ks))
        .groupBy("k", "n_rel", "first_rel_rank")
        .agg(
            F.sum(F.when(F.col("rk") <= F.col("k"), F.col("rel")).otherwise(0))
            .cast("bigint")
            .alias("hits")
        )
        .select(
            F.col("k").cast("int"),
            "hits",
            F.expr("CAST(hits * 1000000 div k AS BIGINT)").alias(
                "precision_ppm"
            ),
            F.expr("CAST(hits * 1000000 div n_rel AS BIGINT)").alias(
                "recall_ppm"
            ),
            "n_rel",
            "first_rel_rank",
            F.expr("CAST(1000000 div first_rel_rank AS BIGINT)").alias(
                "mrr_micro"
            ),
        )
        .orderBy("k")
    )
    return out


# ---------------------------------------------------------------------------
# q334 — rank correlation (Kendall tau / Spearman rho): BM25 vs length
# ---------------------------------------------------------------------------


@query(
    "q334_rank_correlation_kendall",
    oracle=f"""
    WITH {_SQL_BM25_CTES},
    top20 AS (
      SELECT doc_id, rk1 FROM (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rk1
        FROM bm
      ) WHERE rk1 <= 20
    ),
    both_ AS (
      SELECT t.doc_id, t.rk1,
             ROW_NUMBER() OVER (ORDER BY l.dl DESC, t.doc_id) AS rk2
      FROM top20 t JOIN dl l ON l.doc_id = t.doc_id
    ),
    pairs AS (
      SELECT CAST(SUM(CASE WHEN (a.rk1 - b.rk1) * (a.rk2 - b.rk2) > 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
             CAST(SUM(CASE WHEN (a.rk1 - b.rk1) * (a.rk2 - b.rk2) < 0
                      THEN 1 ELSE 0 END) AS BIGINT) AS discordant
      FROM both_ a JOIN both_ b ON a.doc_id < b.doc_id
    ),
    sp AS (
      SELECT CAST(SUM((rk1 - rk2) * (rk1 - rk2)) AS BIGINT) AS sum_d2
      FROM both_
    )
    SELECT CAST(20 AS BIGINT) AS n,
           p.concordant, p.discordant,
           CAST((p.concordant - p.discordant) * 1000000 // 190 AS BIGINT)
             AS tau_ppm,
           s.sum_d2,
           CAST(1000000 - (6 * s.sum_d2 * 1000000) // 7980 AS BIGINT)
             AS spearman_ppm
    FROM pairs p CROSS JOIN sp s
    """,
    tags=("llm", "retrieval", "eval", "rank-correlation"),
)
def q334_rank_correlation_kendall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Kendall tau-a and Spearman rho between the BM25 rank and a
    document-LENGTH rank on the BM25 top-20 — the length-bias audit
    (Okapi's b parameter exists to cancel exactly this correlation,
    so a near-1 tau here means the normalization is mistuned). Both
    coefficients are exact integer forms on tie-free ranks (unique
    doc_id tiebreaks): tau = (C - D)/190 pair-counted over the 190
    unordered pairs of 20 docs, rho = 1 - 6*sum(d^2)/7980; both
    reported as ppm via truncating division (identical signed
    truncation on both engines — the wave-24 parity fact).

    Scale: the pair join is 20x20 on a broadcast frame; the only
    corpus-sized inputs are q235's posting lists and the per-doc
    length table (two longs per doc)."""
    bm, dl = _bm25_doc_scores(spark, sf_dir)
    top20 = (
        bm.select(
            "doc_id",
            F.row_number()
            # global-window-ok: rank over query-term candidate docs, top-20 consumed; 100 TB form = per-query top-k
            .over(W.orderBy(F.desc("bm25"), "doc_id"))
            .alias("rk1"),
        )
        .filter(F.col("rk1") <= 20)
    )
    both_ = top20.join(dl, "doc_id").select(
        "doc_id",
        "rk1",
        F.row_number()
        # global-window-ok: 20-row frame (applied after the rank<=20 filter)
        .over(W.orderBy(F.desc("dl"), "doc_id"))
        .alias("rk2"),
    ).persist()
    pa, pb = both_.alias("a"), both_.alias("b")
    prod = (F.col("a.rk1") - F.col("b.rk1")) * (F.col("a.rk2") - F.col("b.rk2"))
    pairs = (
        pa.join(F.broadcast(pb), F.col("a.doc_id") < F.col("b.doc_id"))
        .agg(
            F.sum(F.when(prod > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("concordant"),
            F.sum(F.when(prod < 0, 1).otherwise(0))
            .cast("bigint")
            .alias("discordant"),
        )
    )
    sp = both_.agg(
        F.sum((F.col("rk1") - F.col("rk2")) * (F.col("rk1") - F.col("rk2")))
        .cast("bigint")
        .alias("sum_d2")
    )
    out = pairs.crossJoin(F.broadcast(sp)).select(
        F.lit(20).cast("bigint").alias("n"),
        "concordant",
        "discordant",
        F.expr(
            "CAST((concordant - discordant) * 1000000 div 190 AS BIGINT)"
        ).alias("tau_ppm"),
        "sum_d2",
        F.expr(
            "CAST(1000000 - (6 * sum_d2 * 1000000) div 7980 AS BIGINT)"
        ).alias("spearman_ppm"),
    )
    return out


# ---------------------------------------------------------------------------
# q335 — t-closeness of the q256 quasi-identifier classes
# ---------------------------------------------------------------------------

_T_PPM = 200_000  # t = 0.2, the textbook release threshold


@query(
    "q335_t_closeness_audit",
    oracle=f"""
    WITH j AS (
      SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority AS prio
      FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
    ),
    pr AS (SELECT DISTINCT prio FROM j),
    gl AS (SELECT prio, COUNT(*) AS gcnt FROM j GROUP BY prio),
    gtot AS (SELECT CAST(SUM(gcnt) AS BIGINT) AS gt FROM gl),
    gcum AS (
      SELECT a.prio,
             CAST(SUM(b.gcnt) AS BIGINT) AS gcum
      FROM gl a JOIN gl b ON b.prio <= a.prio
      GROUP BY a.prio
    ),
    cls AS (
      SELECT c_nationkey, c_mktsegment, prio, COUNT(*) AS cnt
      FROM j GROUP BY c_nationkey, c_mktsegment, prio
    ),
    ctot AS (
      SELECT c_nationkey, c_mktsegment, CAST(SUM(cnt) AS BIGINT) AS ct
      FROM cls GROUP BY c_nationkey, c_mktsegment
    ),
    grid AS (
      SELECT t.c_nationkey, t.c_mktsegment, t.ct, p.prio,
             COALESCE(c.cnt, 0) AS cnt
      FROM ctot t CROSS JOIN pr p
      LEFT JOIN cls c ON c.c_nationkey = t.c_nationkey
                     AND c.c_mktsegment = t.c_mktsegment
                     AND c.prio = p.prio
    ),
    ccum AS (
      SELECT c_nationkey, c_mktsegment, ct, prio,
             SUM(cnt) OVER (PARTITION BY c_nationkey, c_mktsegment
                            ORDER BY prio) AS ccum
      FROM grid
    ),
    emd AS (
      SELECT c.c_nationkey, c.c_mktsegment, c.ct,
             CAST(SUM(ABS(CAST(c.ccum * 1000000 // c.ct AS BIGINT)
                          - CAST(g.gcum * 1000000 // t.gt AS BIGINT)))
                  // 4 AS BIGINT) AS emd_ppm
      FROM ccum c
      JOIN gcum g ON g.prio = c.prio
      CROSS JOIN gtot t
      WHERE c.prio <> (SELECT MAX(prio) FROM pr)
      GROUP BY c.c_nationkey, c.c_mktsegment, c.ct
    )
    SELECT CAST(c_nationkey AS INT) AS nationkey,
           c_mktsegment AS mktsegment,
           ct AS n_orders,
           emd_ppm,
           CAST(CASE WHEN emd_ppm > {_T_PPM} THEN 1 ELSE 0 END AS INT)
             AS t_violation
    FROM emd
    ORDER BY emd_ppm DESC, nationkey, mktsegment LIMIT 20
    """,
    tags=("relational", "privacy", "t-closeness", "audit"),
)
def q335_t_closeness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit over the q256 quasi-identifier classes
    (c_nationkey x c_mktsegment): the Earth Mover's Distance between
    each class's order-priority distribution and the GLOBAL one, for
    the ordered 5-level priority attribute — EMD over an ordered
    domain is the mean absolute difference of cumulative shares
    across the 4 interior boundaries, computed here in exact ppm
    integers (truncating divisions on identically-derived counts; the
    last boundary is excluded because both cumulative shares are
    exactly 1e6 there). k-anonymity (q256) bounds re-identification;
    t-closeness bounds what a class membership REVEALS about the
    sensitive attribute — the release gate that catches skewed
    classes k-anonymity happily passes. Top-20 classes by EMD with
    the t=0.2 verdict.

    Scale: classes are attribute-cardinality-bounded (25 nations x 5
    segments), so the dense class x priority grid is tiny; the only
    corpus-sized work is the customer-orders join (key-partitioned)
    and one (class, prio) count aggregate; the per-class cumulative
    window partitions BY CLASS. The 5-row global cumulative is a
    triangular self-join, not a window."""
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey", "c_mktsegment"
    )
    o = load(spark, sf_dir, "orders").select(
        F.col("o_custkey"), F.col("o_orderpriority").alias("prio")
    )
    j = o.join(c, o.o_custkey == c.c_custkey).select(
        "c_nationkey", "c_mktsegment", "prio"
    )
    gl = j.groupBy("prio").agg(F.count(F.lit(1)).alias("gcnt")).persist()
    gtot = gl.agg(F.sum("gcnt").cast("bigint").alias("gt"))
    ga, gb = gl.alias("a"), gl.alias("b")
    gcum = (
        ga.join(F.broadcast(gb), F.col("b.prio") <= F.col("a.prio"))
        .groupBy(F.col("a.prio").alias("prio"))
        .agg(F.sum("b.gcnt").cast("bigint").alias("gcum"))
    )
    pr = gl.select("prio")
    maxp = gl.agg(F.max("prio").alias("maxp"))
    cls = j.groupBy("c_nationkey", "c_mktsegment", "prio").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    ctot = cls.groupBy("c_nationkey", "c_mktsegment").agg(
        F.sum("cnt").cast("bigint").alias("ct")
    )
    grid = (
        ctot.crossJoin(F.broadcast(pr))
        .join(cls, ["c_nationkey", "c_mktsegment", "prio"], "left")
        .select(
            "c_nationkey",
            "c_mktsegment",
            "ct",
            "prio",
            F.coalesce(F.col("cnt"), F.lit(0)).alias("cnt"),
        )
    )
    wc = W.partitionBy("c_nationkey", "c_mktsegment").orderBy("prio")
    ccum = grid.select(
        "c_nationkey",
        "c_mktsegment",
        "ct",
        "prio",
        F.sum("cnt").over(wc).alias("ccum"),
    )
    emd = (
        ccum.join(F.broadcast(gcum), "prio")
        .crossJoin(F.broadcast(gtot))
        .crossJoin(F.broadcast(maxp))
        .filter(F.col("prio") != F.col("maxp"))
        .groupBy("c_nationkey", "c_mktsegment", "ct")
        .agg(
            F.expr(
                "CAST(SUM(ABS(CAST(ccum * 1000000 div ct AS BIGINT)"
                " - CAST(gcum * 1000000 div gt AS BIGINT))) div 4 AS BIGINT)"
            ).alias("emd_ppm")
        )
    )
    out = (
        emd.select(
            F.col("c_nationkey").cast("int").alias("nationkey"),
            F.col("c_mktsegment").alias("mktsegment"),
            F.col("ct").alias("n_orders"),
            "emd_ppm",
            F.when(F.col("emd_ppm") > _T_PPM, 1)
            .otherwise(0)
            .cast("int")
            .alias("t_violation"),
        )
        .orderBy(F.desc("emd_ppm"), "nationkey", "mktsegment")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q336 — differential-privacy histogram release planning
# ---------------------------------------------------------------------------

_DP_REL_DEN = 20  # usefulness bar: expected |noise| <= count/20 (5%)


@query(
    "q336_dp_histogram_utility",
    oracle=f"""
    WITH h AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS cnt
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    eps(eps_milli) AS (VALUES (100), (1000), (10000)),
    scored AS (
      SELECT e.eps_milli,
             CAST(1000000000 // e.eps_milli AS BIGINT) AS b_micro,
             h.cnt
      FROM h CROSS JOIN eps e
    )
    SELECT CAST(eps_milli AS INT) AS eps_milli,
           CAST(MIN(b_micro) AS BIGINT) AS noise_scale_micro,
           CAST(COUNT(*) AS BIGINT) AS n_cells,
           CAST(SUM(CASE WHEN b_micro * {_DP_REL_DEN} <= cnt * 1000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_useful,
           CAST(SUM(CASE WHEN b_micro * {_DP_REL_DEN} <= cnt * 1000000
                    THEN 1 ELSE 0 END) * 1000000 // COUNT(*) AS BIGINT)
             AS useful_ppm,
           CAST(COUNT(*) * MIN(b_micro) AS BIGINT) AS total_l1_err_micro
    FROM scored
    GROUP BY eps_milli ORDER BY eps_milli
    """,
    tags=("llm", "privacy", "differential-privacy", "planning"),
)
def q336_dp_histogram_utility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release planning for the (event_type x
    day) histogram: the epsilon-Laplace mechanism adds Lap(b = 1/eps)
    noise per cell (sensitivity 1 for a count histogram), and
    E|Lap(b)| = b exactly, so "is the released cell still useful"
    (expected error <= 5% of the true count) is a CLOSED-FORM integer
    comparison — no sampling, no floats: b_micro = 1e9 div eps_milli,
    useful iff b_micro*20 <= cnt*1e6. The output is the utility curve
    over eps in {{0.1, 1, 10}}: how many cells survive each privacy
    budget and the total expected L1 distortion — the standard
    pre-release audit that picks the budget BEFORE any noise is
    drawn (the mechanism itself is a post-processing step on the
    released counts and is deliberately out of scope: this is the
    deterministic planning layer).

    Scale: one map-side-combined aggregate to the ~type x day cell
    grain, then a 3-row epsilon grid over the cells; nothing else
    moves."""
    ev = load(spark, sf_dir, "events")
    h = ev.groupBy(
        "event_type", F.to_date("ts").alias("day")
    ).agg(F.count(F.lit(1)).alias("cnt"))
    eps = spark.createDataFrame([(100,), (1000,), (10000,)], "eps_milli int")
    scored = h.crossJoin(F.broadcast(eps)).select(
        "eps_milli",
        F.expr("CAST(1000000000 div eps_milli AS BIGINT)").alias("b_micro"),
        "cnt",
    )
    useful = F.when(
        F.col("b_micro") * _DP_REL_DEN <= F.col("cnt") * 1_000_000, 1
    ).otherwise(0)
    out = (
        scored.groupBy("eps_milli")
        .agg(
            F.min("b_micro").cast("bigint").alias("noise_scale_micro"),
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum(useful).cast("bigint").alias("n_useful"),
        )
        .select(
            F.col("eps_milli").cast("int"),
            "noise_scale_micro",
            "n_cells",
            "n_useful",
            F.expr("CAST(n_useful * 1000000 div n_cells AS BIGINT)").alias(
                "useful_ppm"
            ),
            F.expr("CAST(n_cells * noise_scale_micro AS BIGINT)").alias(
                "total_l1_err_micro"
            ),
        )
        .orderBy("eps_milli")
    )
    return out
