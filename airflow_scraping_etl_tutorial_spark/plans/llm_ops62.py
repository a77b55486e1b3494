"""LLM-ops wave 63: tokenizer coverage, keyspace forensics, and
recommender baselines —

- q429: OOV rate — each language's out-of-vocabulary token share
  against the corpus's top-16 vocabulary; the tokenizer-coverage
  audit that decides whether a fixed vocab is fair to every
  language before anyone trains with it.
- q430: keyspace holes — the largest gap in the order-key sequence,
  found WITHOUT a global sort (bucket-local gaps + a bucket-grain
  boundary stitch — the q354 decomposition pointed at key space);
  holes are deleted ranges, failed loads, or sharded id generators,
  and every one has a story.
- q431: popularity-baseline hit rate — train on the first half of
  the date range (top-5 brands), test on the second: the share of
  test orders containing any trained top brand; the baseline every
  recommender must beat, computed exactly.

Output-hardening doctrine (as waves 6-62): the vocab is a top-16
(freq DESC, token) selection; OOV/hit shares are single truncating
ppm divisions; the max gap's argmax tiebreaks to the SMALLEST key;
the time split is the integer (min+max+1)//2 midpoint (q388's).

Reference parity: the reference's id column gets q430's audit on
day one; q429/q431 are the coverage and baseline hygiene of any
model trained downstream of it.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q429 — OOV rate per language
# ---------------------------------------------------------------------------

_VOCAB_K = 16


@query(
    "q429_oov_rate",
    oracle=f"""
    WITH toks AS (
      SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
    ),
    vocab AS (
      SELECT tok FROM (
        SELECT tok, COUNT(*) AS c FROM toks GROUP BY tok
        ORDER BY c DESC, tok LIMIT {_VOCAB_K}
      )
    ),
    scored AS (
      SELECT t.lang,
             CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END AS oov
      FROM toks t LEFT JOIN vocab v ON v.tok = t.tok
    )
    SELECT lang,
           CAST(COUNT(*) AS BIGINT) AS n_tokens,
           CAST(SUM(oov) AS BIGINT) AS n_oov,
           CAST(SUM(oov) * 1000000 // COUNT(*) AS BIGINT) AS oov_ppm
    FROM scored GROUP BY lang ORDER BY lang
    """,
    tags=("llm", "tokenizer", "oov", "coverage"),
)
def q429_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-coverage audit: the corpus's top-{_VOCAB_K} tokens
    (frequency DESC, token tiebreak) stand in for a fixed vocabulary,
    and each language reports its token count and out-of-vocabulary
    share in truncating ppm. A vocab trained on the pooled corpus is
    dominated by the majority language; the per-lang OOV spread IS
    the fairness gap (the real-world version replaces top-16 with a
    32k BPE vocab — q140's merges — and the same two joins).

    Scale: tokenize explode (the shared retrieval pass), a global
    top-{_VOCAB_K} (TakeOrderedAndProject) broadcast back as the
    vocab, one left join collapsed to lang grain."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(F.split("text", " ")).alias("tok")
    ).persist()
    vocab = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "tok")
        .limit(_VOCAB_K)
        .select("tok", F.lit(1).alias("_v"))
    )
    out = (
        toks.join(F.broadcast(vocab), "tok", "left")
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
            F.sum(F.expr("CASE WHEN _v IS NULL THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("n_oov"),
        )
        .select(
            "lang",
            "n_tokens",
            "n_oov",
            F.expr("CAST(n_oov * 1000000 div n_tokens AS BIGINT)").alias(
                "oov_ppm"
            ),
        )
        .orderBy("lang")
    )
    return out


# ---------------------------------------------------------------------------
# q430 — keyspace holes
# ---------------------------------------------------------------------------

_KEY_BUCKET = 1024


@query(
    "q430_keyspace_holes",
    oracle=f"""
    WITH ks AS (
      SELECT DISTINCT o_orderkey AS k FROM orders
    ),
    bucketed AS (
      SELECT k, k // {_KEY_BUCKET} AS bk FROM ks
    ),
    local_gaps AS (
      SELECT bk, k,
             k - LAG(k) OVER (PARTITION BY bk ORDER BY k) AS gap,
             LAG(k) OVER (PARTITION BY bk ORDER BY k) AS gap_start
      FROM bucketed
    ),
    bstats AS (
      SELECT bk, CAST(MIN(k) AS BIGINT) AS bmin,
             CAST(MAX(k) AS BIGINT) AS bmax
      FROM bucketed GROUP BY bk
    ),
    cross_gaps AS (
      SELECT bmin - LAG(bmax) OVER (ORDER BY bk) AS gap,
             LAG(bmax) OVER (ORDER BY bk) AS gap_start
      FROM bstats
    ),
    all_gaps AS (
      SELECT gap, gap_start FROM local_gaps WHERE gap IS NOT NULL
      UNION ALL
      SELECT gap, gap_start FROM cross_gaps WHERE gap IS NOT NULL
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MIN(k) AS BIGINT) AS min_key,
             CAST(MAX(k) AS BIGINT) AS max_key
      FROM ks
    ),
    best AS (
      SELECT CAST(MAX(gap) AS BIGINT) AS largest_gap FROM all_gaps
    ),
    at_best AS (
      SELECT CAST(MIN(g.gap_start) AS BIGINT) AS gap_after_key
      FROM all_gaps g CROSS JOIN best b WHERE g.gap = b.largest_gap
    )
    SELECT s.n_keys, s.min_key, s.max_key,
           CAST(s.n_keys * 1000000 // (s.max_key - s.min_key + 1) AS BIGINT)
             AS density_ppm,
           b.largest_gap, a.gap_after_key
    FROM s CROSS JOIN best b CROSS JOIN at_best a
    """,
    tags=("llm", "quality", "keyspace", "gaps"),
)
def q430_keyspace_holes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyspace forensics without a global sort: order keys bucket by
    k // {_KEY_BUCKET}; gaps WITHIN a bucket come from bucket-LOCAL
    lags, gaps ACROSS buckets from a bucket-grain lag of (previous
    bucket max -> bucket min) — together they cover every adjacent
    pair exactly once (the q354 boundary-stitch decomposition on key
    space). Reported: key count, range, density ppm (1e6 = gapless),
    and the largest hole with the key it follows (smallest such key
    on ties). This fixture's generator emits a DENSE keyspace
    (density exactly 1e6, max gap 1 — the audit certifies it); a
    load that silently dropped a partition leaves a hole the width
    of that partition, and this is the audit that sees it.

    Scale: bucket-local windows (<= {_KEY_BUCKET} keys each) plus a
    bucket-grain stitch frame — never a row-grain global order."""
    orders = load(spark, sf_dir, "orders")
    ks = orders.select(F.col("o_orderkey").alias("k")).distinct().persist()
    bucketed = ks.select("k", F.expr(f"k div {_KEY_BUCKET}").alias("bk"))
    wb = W.partitionBy("bk").orderBy("k")
    local_gaps = bucketed.select(
        (F.col("k") - F.lag("k").over(wb)).alias("gap"),
        F.lag("k").over(wb).alias("gap_start"),
    ).filter(F.col("gap").isNotNull())
    bstats = bucketed.groupBy("bk").agg(
        F.min("k").cast("bigint").alias("bmin"),
        F.max("k").cast("bigint").alias("bmax"),
    )
    # global-window-ok: bucket-grain stitch frame, key-space/1024 rows
    wg = W.orderBy("bk")
    cross_gaps = bstats.select(
        (F.col("bmin") - F.lag("bmax").over(wg)).alias("gap"),
        F.lag("bmax").over(wg).alias("gap_start"),
    ).filter(F.col("gap").isNotNull())
    all_gaps = local_gaps.unionByName(cross_gaps).persist()
    s = ks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        F.min("k").cast("bigint").alias("min_key"),
        F.max("k").cast("bigint").alias("max_key"),
    )
    best = all_gaps.agg(F.max("gap").cast("bigint").alias("largest_gap"))
    at_best = (
        all_gaps.crossJoin(F.broadcast(best))
        .filter(F.col("gap") == F.col("largest_gap"))
        .agg(F.min("gap_start").cast("bigint").alias("gap_after_key"))
    )
    out = (
        s.crossJoin(F.broadcast(best))
        .crossJoin(F.broadcast(at_best))
        .select(
            "n_keys",
            "min_key",
            "max_key",
            F.expr(
                "CAST(n_keys * 1000000 div (max_key - min_key + 1)"
                " AS BIGINT)"
            ).alias("density_ppm"),
            "largest_gap",
            "gap_after_key",
        )
    )
    return out


# ---------------------------------------------------------------------------
# q431 — popularity-baseline hit rate
# ---------------------------------------------------------------------------

_TOP_BRANDS = 5


@query(
    "q431_popularity_baseline_hitrate",
    oracle=f"""
    WITH ob AS (
      SELECT l.l_orderkey AS o, p.p_brand AS b,
             DATEDIFF('day', DATE '1970-01-01', CAST(o2.o_orderdate AS DATE))
               AS day
      FROM lineitem l
      JOIN part p ON p.p_partkey = l.l_partkey
      JOIN orders o2 ON o2.o_orderkey = l.l_orderkey
    ),
    mid AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS m FROM ob),
    train_top AS (
      SELECT b FROM (
        SELECT ob.b, COUNT(*) AS c
        FROM ob CROSS JOIN mid WHERE ob.day < mid.m
        GROUP BY ob.b ORDER BY c DESC, ob.b LIMIT {_TOP_BRANDS}
      )
    ),
    test_orders AS (
      SELECT DISTINCT o FROM ob CROSS JOIN mid WHERE day >= mid.m
    ),
    hits AS (
      SELECT DISTINCT ob.o
      FROM ob CROSS JOIN mid
      JOIN train_top t ON t.b = ob.b
      WHERE ob.day >= mid.m
    )
    SELECT CAST({_TOP_BRANDS} AS INT) AS k,
           CAST((SELECT COUNT(*) FROM test_orders) AS BIGINT)
             AS n_test_orders,
           CAST((SELECT COUNT(*) FROM hits) AS BIGINT) AS n_hits,
           CAST((SELECT COUNT(*) FROM hits) * 1000000
                // (SELECT COUNT(*) FROM test_orders) AS BIGINT)
             AS hit_ppm
    """,
    tags=("llm", "recsys", "baseline", "evaluation"),
)
def q431_popularity_baseline_hitrate(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Recommender floor: the top-{_TOP_BRANDS} brands of the FIRST
    half of the date range (integer midpoint split, q388's) are
    "recommended" to every second-half order, and the hit rate is
    the share of test orders containing any of them — computed with
    a broadcast semi-join against the 5-row trained set. Any
    personalized recommender that cannot beat this number is adding
    complexity, not value; the eval harness (q332/q333's metrics)
    should always print it first.

    Scale: one basket scan, a global top-{_TOP_BRANDS}
    (TakeOrderedAndProject) broadcast back, distinct-order counts."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    p = load(spark, sf_dir, "part").select("p_partkey", "p_brand")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    ob = (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .select(
            F.col("l_orderkey").alias("o_"),
            F.col("p_brand").alias("b"),
            F.datediff(
                F.col("o_orderdate").cast("date"),
                F.lit("1970-01-01").cast("date"),
            )
            .cast("bigint")
            .alias("day"),
        )
        .persist()
    )
    mid = ob.agg(
        F.expr("CAST((MIN(day) + MAX(day) + 1) div 2 AS BIGINT)").alias("m")
    )
    train_top = (
        ob.crossJoin(F.broadcast(mid))
        .filter(F.col("day") < F.col("m"))
        .groupBy("b")
        .agg(F.count(F.lit(1)).alias("c"))
        .orderBy(F.desc("c"), "b")
        .limit(_TOP_BRANDS)
        .select("b")
    )
    test = ob.crossJoin(F.broadcast(mid)).filter(F.col("day") >= F.col("m"))
    n_test = test.select("o_").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_test_orders")
    )
    n_hits = (
        test.join(F.broadcast(train_top), "b", "left_semi")
        .select("o_")
        .distinct()
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    out = (
        n_test.crossJoin(F.broadcast(n_hits))
        .select(
            F.lit(_TOP_BRANDS).cast("int").alias("k"),
            "n_test_orders",
            "n_hits",
            F.expr(
                "CAST(n_hits * 1000000 div n_test_orders AS BIGINT)"
            ).alias("hit_ppm"),
        )
    )
    return out
