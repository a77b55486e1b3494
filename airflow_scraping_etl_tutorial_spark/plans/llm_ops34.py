"""LLM-ops wave 35: entity resolution, incremental-view correctness,
survey-grade sampling design, and the distributed-merge proof for
weighted sampling:

- q342: reciprocal best-match entity resolution between the two
  partkey-parity halves of the part catalog — blocked candidate
  generation (shared first name-token), exact token-set Jaccard
  scoring, per-side best match, and the reciprocal filter that turns
  one-directional similarity into a defensible link.
- q343: join incremental-view-maintenance audit — the delta algebra
  d(A JOIN C) = dA*C_old + A_old*dC + dA*dC verified as an exact
  count identity on an order-fact delta x late-arriving customer-
  dimension delta.
- q344: the design-effect number for stratified sampling over
  sources — the Neyman-to-proportional estimator-variance ratio
  (sum sqrt(SS_h))^2 / (N * sum SS_h/n_h) on exact integer moments
  (the companion to q187's per-stratum allocation: q187 allocates,
  this prices what the optimal design is worth).
- q345: merge proof for the q339 A-ES weighted sample — per-part
  top-k of 4 disjoint parts, merged and re-topped, must equal the
  global top-k EXACTLY (the property that makes the sampler
  distributable and stream-mergeable).

Output-hardening doctrine (as waves 6-34): counts and ranks are exact
integers; the only floats are IEEE sqrt (correctly rounded, so
bit-identical on identical integer-derived operands — the q238
precedent) and the shared A-ES key quotient, both quantized or
consumed as ordering only; all integer-sum oracle outputs CAST to
BIGINT.

Reference parity: the reference maintains one daily-append table
(README.md:21); q343 is the correctness contract an incremental
loader of such a table must satisfy, and q342/q344/q345 are the
catalog-matching, sampling-design, and distributed-sampling jobs a
multi-source corpus platform runs around it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops19 import _spark_gate, _sql_gate
from .llm_ops33 import _SQL_WRS_KEYED, _WRS_K, _wrs_keyed
from .registry import query

# ---------------------------------------------------------------------------
# q342 — reciprocal best-match entity resolution on the part catalog
# ---------------------------------------------------------------------------


@query(
    "q342_reciprocal_best_match",
    oracle="""
    WITH pn AS (
      SELECT p_partkey AS k, STRING_SPLIT(p_name, ' ') AS words,
             p_partkey % 2 AS side
      FROM part
    ),
    tok AS (
      SELECT DISTINCT k, side, UNNEST(words) AS tok FROM pn
    ),
    sz AS (SELECT k, side, COUNT(*) AS sz FROM tok GROUP BY k, side),
    blk AS (SELECT k, side, words[1] AS b FROM pn),
    cand AS (
      SELECT DISTINCT l.k AS a, r.k AS b
      FROM blk l JOIN blk r ON r.b = l.b AND l.side = 0 AND r.side = 1
    ),
    inter AS (
      SELECT c.a, c.b, COUNT(*) AS i
      FROM cand c
      JOIN tok ta ON ta.k = c.a AND ta.side = 0
      JOIN tok tb ON tb.k = c.b AND tb.side = 1 AND tb.tok = ta.tok
      GROUP BY c.a, c.b
    ),
    jac AS (
      SELECT i.a, i.b, CAST(i.i AS BIGINT) AS inter,
             CAST(sa.sz + sb.sz - i.i AS BIGINT) AS union_sz,
             CAST(i.i * 1000000 // (sa.sz + sb.sz - i.i) AS BIGINT)
               AS jac_ppm
      FROM inter i
      JOIN sz sa ON sa.k = i.a JOIN sz sb ON sb.k = i.b
    ),
    bl AS (
      SELECT a, b, inter, union_sz, jac_ppm,
             ROW_NUMBER() OVER (PARTITION BY a
                                ORDER BY jac_ppm DESC, b) AS rl
      FROM jac
    ),
    br AS (
      SELECT a, b,
             ROW_NUMBER() OVER (PARTITION BY b
                                ORDER BY jac_ppm DESC, a) AS rr
      FROM jac
    )
    SELECT l.a AS part_a, l.b AS part_b, l.inter, l.union_sz, l.jac_ppm
    FROM bl l JOIN br r ON r.a = l.a AND r.b = l.b
    WHERE l.rl = 1 AND r.rr = 1
    ORDER BY l.jac_ppm DESC, part_a LIMIT 20
    """,
    tags=("llm", "entity-resolution", "blocking", "reciprocal-match"),
)
def q342_reciprocal_best_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal best-match entity resolution between the even- and
    odd-partkey halves of the part catalog (a stand-in for matching
    two vendor feeds): candidates are BLOCKED on the first name
    token (the classic blocking key — candidate volume drops from
    |L|x|R| to sum of block products), scored by exact token-set
    Jaccard in ppm, and a link survives only if each side is the
    other's best match — the reciprocal filter that kills the
    hub-match pathology where one generic record is everyone's
    nearest neighbor. Top-20 links by similarity.

    Scale: the block join is the q274 blocking-economics shape
    (bounded first-token vocabulary; hot blocks are the max_bucket_
    size concern, cappable); the intersection join fans each
    candidate pair out by at most |name| tokens (~5); best-match
    ranks partition BY ENTITY, never globally. All arithmetic is
    integer counting with truncating ppm division."""
    pn = load(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("k"),
        F.split(F.col("p_name"), " ").alias("words"),
        (F.col("p_partkey") % 2).alias("side"),
    )
    tok = pn.select(
        "k", "side", F.explode(F.array_distinct("words")).alias("tok")
    ).persist()
    sz = tok.groupBy("k", "side").agg(F.count(F.lit(1)).alias("sz"))
    blk = pn.select("k", "side", F.element_at("words", 1).alias("b"))
    bl_, br_ = blk.alias("l"), blk.alias("r")
    cand = (
        bl_.filter(F.col("l.side") == 0)
        .join(
            br_.filter(F.col("r.side") == 1),
            F.col("r.b") == F.col("l.b"),
        )
        .select(F.col("l.k").alias("a"), F.col("r.k").alias("b"))
        .distinct()
    )
    ta = tok.filter(F.col("side") == 0).select(
        F.col("k").alias("a"), F.col("tok").alias("t")
    )
    tb = tok.filter(F.col("side") == 1).select(
        F.col("k").alias("b"), F.col("tok").alias("t")
    )
    inter = (
        cand.join(ta, "a").join(tb, ["b", "t"]).groupBy("a", "b").agg(
            F.count(F.lit(1)).alias("i")
        )
    )
    sa = sz.filter(F.col("side") == 0).select(
        F.col("k").alias("a"), F.col("sz").alias("sa")
    )
    sb = sz.filter(F.col("side") == 1).select(
        F.col("k").alias("b"), F.col("sz").alias("sb")
    )
    jac = (
        inter.join(sa, "a")
        .join(sb, "b")
        .select(
            "a",
            "b",
            F.col("i").cast("bigint").alias("inter"),
            (F.col("sa") + F.col("sb") - F.col("i"))
            .cast("bigint")
            .alias("union_sz"),
            F.expr(
                "CAST(i * 1000000 div (sa + sb - i) AS BIGINT)"
            ).alias("jac_ppm"),
        )
        .persist()
    )
    bl = jac.withColumn(
        "rl",
        F.row_number().over(W.partitionBy("a").orderBy(F.desc("jac_ppm"), "b")),
    )
    br = jac.select(
        "a",
        "b",
        F.row_number()
        .over(W.partitionBy("b").orderBy(F.desc("jac_ppm"), "a"))
        .alias("rr"),
    )
    out = (
        bl.filter(F.col("rl") == 1)
        .join(br.filter(F.col("rr") == 1).select("a", "b"), ["a", "b"], "left_semi")
        .select(
            F.col("a").alias("part_a"),
            F.col("b").alias("part_b"),
            "inter",
            "union_sz",
            "jac_ppm",
        )
        .orderBy(F.desc("jac_ppm"), "part_a")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q343 — join incremental-view-maintenance count identity
# ---------------------------------------------------------------------------

_IVM_DAY = "1995-06-01"


@query(
    "q343_join_ivm_delta_audit",
    oracle=f"""
    WITH a AS (
      SELECT o_custkey,
             CASE WHEN o_orderdate < DATE '{_IVM_DAY}' THEN 0 ELSE 1 END
               AS is_new
      FROM orders
    ),
    c AS (
      SELECT c_custkey, {_sql_gate("c_custkey", ":new")} AS is_new
      FROM customer
    ),
    j AS (
      SELECT a.is_new AS fa, c.is_new AS fc
      FROM a JOIN c ON c.c_custkey = a.o_custkey
    ),
    parts AS (
      SELECT
        CAST(SUM(CASE WHEN fa = 0 AND fc = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_old_old,
        CAST(SUM(CASE WHEN fa = 1 AND fc = 0 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_delta_fact,
        CAST(SUM(CASE WHEN fa = 0 AND fc = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_delta_dim,
        CAST(SUM(CASE WHEN fa = 1 AND fc = 1 THEN 1 ELSE 0 END) AS BIGINT)
          AS n_delta_both,
        CAST(COUNT(*) AS BIGINT) AS n_full
      FROM j
    )
    SELECT n_old_old, n_delta_fact, n_delta_dim, n_delta_both, n_full,
           CAST(CASE WHEN n_old_old + n_delta_fact + n_delta_dim
                          + n_delta_both = n_full
                THEN 1 ELSE 0 END AS INT) AS ivm_identity_ok
    FROM parts
    """,
    tags=("relational", "ivm", "incremental", "audit"),
)
def q343_join_ivm_delta_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance audit for a JOIN view: with a
    fact delta (orders on/after {_IVM_DAY}) and a late-arriving
    dimension delta (the md5 ':new' half of customers — the
    dimension-backfill scenario q188 audits on the fact side), the
    delta algebra d(A JOIN C) = dA*C_old + A_old*dC + dA*dC must
    tile the refreshed view exactly: the four disjoint term counts
    sum to the full-join count. The audit computes all five numbers
    from ONE join pass (each joined row is classified by its two
    delta flags) so the identity is checked against the same
    execution, not a rerun that could see different data.

    Scale: one key-partitioned fact-dimension join (the dimension
    side broadcasts at real-world dimension sizes) and a single
    map-side-combinable conditional-count aggregate. The production
    IVM refresh computes ONLY the three delta terms — the point of
    the identity is that they are sufficient."""
    o = load(spark, sf_dir, "orders").select(
        "o_custkey",
        F.when(F.col("o_orderdate") < F.lit(_IVM_DAY).cast("date"), 0)
        .otherwise(1)
        .alias("fa"),
    )
    c = load(spark, sf_dir, "customer").select(
        "c_custkey", _spark_gate("c_custkey", ":new").alias("fc")
    )
    j = o.join(c, o.o_custkey == c.c_custkey).select("fa", "fc")
    parts = j.agg(
        F.sum(F.when((F.col("fa") == 0) & (F.col("fc") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_old_old"),
        F.sum(F.when((F.col("fa") == 1) & (F.col("fc") == 0), 1).otherwise(0))
        .cast("bigint")
        .alias("n_delta_fact"),
        F.sum(F.when((F.col("fa") == 0) & (F.col("fc") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_delta_dim"),
        F.sum(F.when((F.col("fa") == 1) & (F.col("fc") == 1), 1).otherwise(0))
        .cast("bigint")
        .alias("n_delta_both"),
        F.count(F.lit(1)).cast("bigint").alias("n_full"),
    )
    return parts.select(
        "n_old_old",
        "n_delta_fact",
        "n_delta_dim",
        "n_delta_both",
        "n_full",
        F.when(
            F.col("n_old_old")
            + F.col("n_delta_fact")
            + F.col("n_delta_dim")
            + F.col("n_delta_both")
            == F.col("n_full"),
            1,
        )
        .otherwise(0)
        .cast("int")
        .alias("ivm_identity_ok"),
    )


# ---------------------------------------------------------------------------
# q344 — design effect of Neyman vs proportional allocation
# ---------------------------------------------------------------------------



@query(
    "q344_allocation_design_effect",
    oracle="""
    WITH y AS (
      SELECT source,
             CAST(LEN(STRING_SPLIT(text, ' ')) AS BIGINT) AS y
      FROM documents
    ),
    m AS (
      SELECT source,
             CAST(COUNT(*) AS BIGINT) AS n_h,
             CAST(SUM(y) AS BIGINT) AS s1,
             CAST(SUM(y * y) AS BIGINT) AS s2
      FROM y GROUP BY source
    ),
    wgt AS (
      SELECT n_h,
             CAST(CAST(SQRT(CAST(n_h * s2 - s1 * s1 AS DOUBLE))
                       AS DECIMAL(18,6)) * 1000000 AS BIGINT) AS w_micro,
             CAST(n_h * s2 - s1 * s1 AS HUGEINT) * 1000000000000 // n_h
               AS ss_over_n
      FROM m
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_strata,
             CAST(SUM(n_h) AS BIGINT) AS n_docs,
             CAST(SUM(w_micro) AS HUGEINT) AS sw,
             CAST(SUM(ss_over_n) AS HUGEINT) AS sv
      FROM wgt
    )
    SELECT n_strata,
           n_docs,
           CAST(sw AS BIGINT) AS sum_weight_micro,
           CAST(sw * sw * 1000000 // (n_docs * sv) AS BIGINT)
             AS design_effect_ppm,
           CAST(1000000 - sw * sw * 1000000 // (n_docs * sv) AS BIGINT)
             AS variance_saved_ppm
    FROM tot
    """,
    tags=("llm", "sampling", "stratified", "design-effect"),
)
def q344_allocation_design_effect(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Design-effect audit for stratified sampling over sources (the
    companion NUMBER to q187's per-stratum Neyman allocation, which
    allocates but never says what the better design is worth): with
    token count as the survey variable, the Neyman-to-proportional
    estimator-variance ratio collapses to

        deff = (sum_h sqrt(SS_h))^2 / (N * sum_h SS_h/n_h),

    SS_h = n_h*sum(y^2) - (sum y)^2 — exact integer moments, one IEEE
    sqrt per stratum quantized to micro units, and the Cauchy-Schwarz
    inequality guarantees deff <= 1: variance_saved_ppm is exactly
    the fraction of estimator variance (equivalently, sample budget)
    the optimal allocation saves over proportional. Both sums run in
    exact wide-integer arithmetic (HUGEINT in the oracle, the
    DECIMAL(38,0) lane in Spark — the q327 Cov^2 doctrine; the
    squared micro-weight sum reaches ~1e28 at sf0.1) with truncating
    integer division only at the final ppm.

    Scale: one map-side-combined moment aggregate per stratum (the
    q275 mergeable-moments shape), then strata-cardinality-bounded
    arithmetic. No window at all."""
    y = load(spark, sf_dir, "documents").select(
        "source",
        F.expr("CAST(size(split(text, ' ')) AS BIGINT)").alias("y"),
    )
    m = y.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_h"),
        F.sum("y").cast("bigint").alias("s1"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("s2"),
    )
    ss = F.col("n_h") * F.col("s2") - F.col("s1") * F.col("s1")
    wgt = m.select(
        "n_h",
        (F.sqrt(ss.cast("double")).cast("decimal(18,6)") * 1_000_000)
        .cast("bigint")
        .alias("w_micro"),
        F.expr(
            "CAST(n_h * s2 - s1 * s1 AS DECIMAL(38,0)) * 1000000000000"
            " div n_h"
        ).alias("ss_over_n"),
    )
    tot = wgt.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_strata"),
        F.sum("n_h").cast("bigint").alias("n_docs"),
        F.sum("w_micro").cast("decimal(38,0)").alias("sw"),
        F.sum("ss_over_n").cast("decimal(38,0)").alias("sv"),
    )
    return tot.select(
        "n_strata",
        "n_docs",
        F.col("sw").cast("bigint").alias("sum_weight_micro"),
        F.expr(
            "CAST(sw * sw * 1000000 div (n_docs * sv) AS BIGINT)"
        ).alias("design_effect_ppm"),
        F.expr(
            "CAST(1000000 - sw * sw * 1000000 div (n_docs * sv) AS BIGINT)"
        ).alias("variance_saved_ppm"),
    )


# ---------------------------------------------------------------------------
# q345 — distributed-merge proof for the A-ES weighted sample
# ---------------------------------------------------------------------------

_WRS_PARTS = 4


@query(
    "q345_weighted_sample_merge_proof",
    oracle=f"""
    WITH {_SQL_WRS_KEYED},
    gk AS (
      SELECT doc_id, weight, lnu,
             CAST(lnu AS DOUBLE) / CAST(weight AS DOUBLE) AS key_,
             doc_id % {_WRS_PARTS} AS part
      FROM keyed
    ),
    gtop AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY key_ DESC, doc_id) AS rk
      FROM gk
    ),
    glob_k AS (SELECT doc_id, rk FROM gtop WHERE rk <= {_WRS_K}),
    per_part AS (
      SELECT doc_id, key_,
             ROW_NUMBER() OVER (PARTITION BY part
                                ORDER BY key_ DESC, doc_id) AS prk
      FROM gk
    ),
    cand AS (SELECT doc_id, key_ FROM per_part WHERE prk <= {_WRS_K}),
    merged AS (
      SELECT doc_id,
             ROW_NUMBER() OVER (ORDER BY key_ DESC, doc_id) AS rk
      FROM cand
    ),
    merged_k AS (SELECT doc_id, rk FROM merged WHERE rk <= {_WRS_K})
    SELECT CAST({_WRS_PARTS} AS INT) AS n_parts,
           CAST({_WRS_K} AS INT) AS k,
           CAST((SELECT COUNT(*) FROM cand) AS BIGINT) AS n_candidates,
           CAST(COUNT(*) AS BIGINT) AS n_agree,
           CAST(CASE WHEN COUNT(*) = {_WRS_K} THEN 1 ELSE 0 END AS INT)
             AS merge_exact
    FROM glob_k g JOIN merged_k m
      ON m.doc_id = g.doc_id AND m.rk = g.rk
    """,
    tags=("llm", "sampling", "mergeable", "proof"),
)
def q345_weighted_sample_merge_proof(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Distributed-merge proof for the q339 weighted sampler: split
    the corpus into {_WRS_PARTS} disjoint parts, take each part's
    top-{_WRS_K} by A-ES key, merge the {_WRS_PARTS}x{_WRS_K}
    candidates and re-top — the result must equal the GLOBAL
    top-{_WRS_K} exactly (rank for rank), because a top-k by a
    per-item key is a mergeable aggregate: the global winner set is
    contained in the union of part winners. This is the property
    that lets the sampler run as per-executor partial top-ks + one
    small final merge at 100 TB (exactly what TakeOrdered does
    physically) and lets a streaming version keep top-k state that
    merges across shards — proved here as a catalog-visible count
    identity rather than assumed.

    Scale: the proof itself ranks within parts (partitioned window)
    and only the {_WRS_PARTS}x{_WRS_K} candidate set is ever ranked
    globally; the audited global ranking is the q339 path."""
    keyed = _wrs_keyed(spark, sf_dir)
    gk = keyed.select(
        "doc_id",
        "weight",
        (F.col("lnu").cast("double") / F.col("weight").cast("double")).alias(
            "key_"
        ),
        (F.col("doc_id") % _WRS_PARTS).alias("part"),
    ).persist()
    glob_k = gk.select(
        "doc_id",
        F.row_number()
        # global-window-ok: corpus-grain sample-key rank, top-50 consumed (the audited q339 path); 100 TB form = TakeOrdered
        .over(W.orderBy(F.desc("key_"), "doc_id"))
        .alias("rk"),
    ).filter(F.col("rk") <= _WRS_K)
    cand = gk.select(
        "doc_id",
        "key_",
        F.row_number()
        .over(W.partitionBy("part").orderBy(F.desc("key_"), "doc_id"))
        .alias("prk"),
    ).filter(F.col("prk") <= _WRS_K)
    merged_k = cand.select(
        "doc_id",
        F.row_number()
        # global-window-ok: 200-row candidate frame (4 parts x top-50)
        .over(W.orderBy(F.desc("key_"), "doc_id"))
        .alias("rk"),
    ).filter(F.col("rk") <= _WRS_K)
    ncand = cand.agg(F.count(F.lit(1)).cast("bigint").alias("n_candidates"))
    agree = (
        glob_k.join(merged_k, ["doc_id", "rk"])
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_agree"))
    )
    out = (
        agree.crossJoin(F.broadcast(ncand))
        .select(
            F.lit(_WRS_PARTS).cast("int").alias("n_parts"),
            F.lit(_WRS_K).cast("int").alias("k"),
            "n_candidates",
            "n_agree",
            F.when(F.col("n_agree") == _WRS_K, 1)
            .otherwise(0)
            .cast("int")
            .alias("merge_exact"),
        )
    )
    return out
