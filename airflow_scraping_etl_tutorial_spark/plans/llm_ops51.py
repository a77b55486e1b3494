"""LLM-ops wave 52: classic database operators — skyline,
range-partition planning, ABC classification —

- q396: Pareto skyline — the parts no other part beats on BOTH
  price and size (the classic skyline/maximal-vector operator),
  computed by the distributed shape: bucket-grain prefix minima +
  bucket-local refinement, never all-pairs domination tests.
- q397: range-partition split points — the exact 8-way split keys a
  RangePartitioner would want for orders.o_custkey (Spark samples;
  this computes them exactly from a key-bucket histogram), with the
  resulting partition sizes and skew.
- q398: ABC revenue classification — customers split into the
  classic A (first 80% of revenue), B (to 95%), C (rest) classes by
  exact descending-revenue prefix, via bucket cumulative + boundary-
  bucket-local ranking (the q267/q331 pattern pointed downhill).

Output-hardening doctrine (as waves 6-51): prices enter integer lanes
as ROUND(x*100) cents (integer ± 1 ulp doubles, never .5); all three
operators are pure integer selections — ranks are (i*n + k - 1)//k
ceilings, domination/ties are integer comparisons, shares are single
truncating ppm divisions; every windowed frame is bucket-grain or
bucket-local, with the bucket width as the documented scale knob.

Reference parity: the reference's table powers exactly these reviews
— which instruments dominate on two axes at once (q396), how to
shard the history table (q397), and which customers the account team
should actually call (q398).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q396 — Pareto skyline (minimize price, minimize size)
# ---------------------------------------------------------------------------

# $1000-wide price buckets: the scale knob — wider buckets mean fewer
# bucket-grain rows, narrower ones mean smaller bucket-local frames.
_SKY_BUCKET_C = 100_000


@query(
    "q396_pareto_skyline",
    oracle=f"""
    WITH pts AS (
      SELECT p_partkey,
             CAST(ROUND(p_retailprice * 100, 0) AS BIGINT) AS price_c,
             CAST(p_size AS BIGINT) AS size
      FROM part
    ),
    b AS (
      SELECT p_partkey, price_c, size, price_c // {_SKY_BUCKET_C} AS bk
      FROM pts
    ),
    price_grain AS (
      SELECT bk, price_c, CAST(MIN(size) AS BIGINT) AS msize
      FROM b GROUP BY bk, price_c
    ),
    with_lt AS (
      SELECT bk, price_c, msize,
             MIN(msize) OVER (PARTITION BY bk ORDER BY price_c
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND 1 PRECEDING) AS m_lt_bucket
      FROM price_grain
    ),
    bstats AS (
      SELECT bk, CAST(MIN(msize) AS BIGINT) AS bmin
      FROM price_grain GROUP BY bk
    ),
    bprefix AS (
      SELECT bk,
             MIN(bmin) OVER (ORDER BY bk
                             ROWS BETWEEN UNBOUNDED PRECEDING
                             AND 1 PRECEDING) AS pm_prev
      FROM bstats
    )
    SELECT p.p_partkey, p.price_c, p.size
    FROM b p
    JOIN with_lt w ON w.bk = p.bk AND w.price_c = p.price_c
    JOIN bprefix bp ON bp.bk = p.bk
    WHERE p.size = w.msize
      AND (w.m_lt_bucket IS NULL OR w.m_lt_bucket > p.size)
      AND (bp.pm_prev IS NULL OR bp.pm_prev > p.size)
    ORDER BY p.price_c, p.size, p.p_partkey
    """,
    tags=("llm", "operator", "skyline", "pareto"),
)
def q396_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skyline (maximal-vector) operator, minimizing (price, size):
    a part survives iff no other part is <= on both axes and < on at
    least one. Computed the distributed way: (1) collapse to
    (bucket, price)-grain minimum sizes, (2) a strict-prefix running
    MIN inside each $1000 price bucket (bucket-LOCAL window), (3) a
    strict-prefix running MIN over the bucket minima (bucket-GRAIN
    window, tens of rows), (4) one join back: survive iff own size
    equals the price-grain minimum (same-price strict-size rule —
    exact ties both survive) and beats both prefix minima. No
    all-pairs domination test anywhere; the same three-level sweep
    is how a 1000-executor skyline merges per-partition candidates.

    Scale: the only per-row work is a bucket id and one join back;
    windows run on (bucket, price)-grain and bucket-grain frames.
    The bucket width is the knob balancing the two frame sizes."""
    part = load(spark, sf_dir, "part")
    pts = part.select(
        "p_partkey",
        F.expr("CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)").alias(
            "price_c"
        ),
        F.col("p_size").cast("bigint").alias("size"),
        F.expr(
            f"CAST(ROUND(p_retailprice * 100, 0) AS BIGINT)"
            f" div {_SKY_BUCKET_C}"
        ).alias("bk"),
    ).persist()
    price_grain = pts.groupBy("bk", "price_c").agg(
        F.min("size").cast("bigint").alias("msize")
    )
    wb = (
        W.partitionBy("bk")
        .orderBy("price_c")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    with_lt = price_grain.select(
        "bk", "price_c", "msize", F.min("msize").over(wb).alias("m_lt_bucket")
    )
    bstats = price_grain.groupBy("bk").agg(
        F.min("msize").cast("bigint").alias("bmin")
    )
    # global-window-ok: bucket-grain frame (tens of rows)
    wg = W.orderBy("bk").rowsBetween(W.unboundedPreceding, -1)
    bprefix = bstats.select("bk", F.min("bmin").over(wg).alias("pm_prev"))
    out = (
        pts.join(with_lt, ["bk", "price_c"])
        .join(F.broadcast(bprefix), "bk")
        .filter(
            (F.col("size") == F.col("msize"))
            & (F.col("m_lt_bucket").isNull() | (F.col("m_lt_bucket") > F.col("size")))
            & (F.col("pm_prev").isNull() | (F.col("pm_prev") > F.col("size")))
        )
        .select("p_partkey", "price_c", "size")
        .orderBy("price_c", "size", "p_partkey")
    )
    return out


# ---------------------------------------------------------------------------
# q397 — range-partition split points
# ---------------------------------------------------------------------------

_N_PARTS = 8
_KEY_BUCKET = 1024  # key-space bucket width: the histogram resolution


@query(
    "q397_range_split_points",
    oracle=f"""
    WITH keyed AS (
      SELECT o_custkey AS k, o_custkey // {_KEY_BUCKET} AS bk FROM orders
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM keyed),
    kb AS (
      SELECT bk, CAST(COUNT(*) AS BIGINT) AS c FROM keyed GROUP BY bk
    ),
    cumb AS (
      SELECT bk, c,
             CAST(SUM(c) OVER (ORDER BY bk) AS BIGINT) AS cum,
             CAST(SUM(c) OVER (ORDER BY bk) - c AS BIGINT) AS cum_before
      FROM kb
    ),
    targets AS (
      SELECT i, (i * n1.n + {_N_PARTS} - 1) // {_N_PARTS} AS r
      FROM (SELECT UNNEST(RANGE(1, {_N_PARTS})) AS i) CROSS JOIN n1
    ),
    bucket_of AS (
      SELECT t.i, t.r, MIN(c.bk) AS bk
      FROM targets t JOIN cumb c ON c.cum >= t.r
      GROUP BY t.i, t.r
    ),
    keyrank AS (
      SELECT b.i, MIN(kc.k) AS split_key
      FROM bucket_of b
      JOIN cumb cb ON cb.bk = b.bk
      JOIN (
        SELECT bk, k, SUM(ck) OVER (PARTITION BY bk ORDER BY k) AS kcum
        FROM (SELECT k, bk, CAST(COUNT(*) AS BIGINT) AS ck FROM keyed
              GROUP BY k, bk)
      ) kc ON kc.bk = b.bk
      WHERE cb.cum_before + kc.kcum >= b.r
      GROUP BY b.i
    ),
    bounds AS (
      SELECT i, split_key FROM keyrank
    ),
    parts AS (
      SELECT p.pid,
             CAST(COUNT(*) AS BIGINT) AS n_rows
      FROM (
        SELECT k.k,
               COALESCE((SELECT MIN(i) FROM bounds b WHERE k.k <= b.split_key),
                        {_N_PARTS}) AS pid
        FROM keyed k
      ) p
      GROUP BY p.pid
    )
    SELECT p.pid AS partition_id,
           b.split_key AS upper_key,
           p.n_rows,
           CAST(p.n_rows * {_N_PARTS} * 1000000 // n1.n AS BIGINT)
             AS vs_ideal_ppm
    FROM parts p
    LEFT JOIN bounds b ON b.i = p.pid
    CROSS JOIN n1
    ORDER BY p.pid
    """,
    tags=("llm", "planner", "range-partition", "split-points"),
)
def q397_range_split_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact range-partition planning for orders.o_custkey into 8
    partitions: split key i is the smallest key whose cumulative row
    count reaches CEIL(i*n/8) — found by a key-space bucket histogram
    (width {_KEY_BUCKET}: the resolution knob), a bucket-grain
    cumulative, then a bucket-LOCAL key rank inside only the boundary
    buckets (the q267/q331 two-level rank, applied to partitioner
    planning — Spark's RangePartitioner samples to approximate
    exactly this). The output audits the plan it produces: each
    partition's row count and its size vs the ideal n/8 in ppm
    (skew a sampled partitioner would only discover at runtime).

    Scale: one scan to (key, bucket) grain; windows on bucket-grain
    and boundary-bucket-local frames; the per-row partition-id
    assignment is a <= comparison against 7 broadcast split keys."""
    orders = load(spark, sf_dir, "orders")
    keyed = orders.select(
        F.col("o_custkey").alias("k"),
        F.expr(f"o_custkey div {_KEY_BUCKET}").alias("bk"),
    ).persist()
    n1 = keyed.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    kb = keyed.groupBy("bk").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    # global-window-ok: bucket-grain frame (key-space / 1024 rows)
    wg = W.orderBy("bk")
    cumb = kb.select(
        "bk",
        F.sum("c").over(wg).cast("bigint").alias("cum"),
        (F.sum("c").over(wg) - F.col("c")).cast("bigint").alias("cum_before"),
    ).persist()
    targets = (
        spark.createDataFrame([(i,) for i in range(1, _N_PARTS)], "i int")
        .crossJoin(F.broadcast(n1))
        .select(
            "i",
            F.expr(f"(i * n + {_N_PARTS} - 1) div {_N_PARTS}").alias("r"),
        )
    )
    bucket_of = (
        F.broadcast(targets)
        .join(cumb, F.col("cum") >= F.col("r"))
        .groupBy("i", "r")
        .agg(F.min("bk").alias("bk"))
    )
    kgrain = keyed.groupBy("k", "bk").agg(
        F.count(F.lit(1)).cast("bigint").alias("ck")
    )
    # bucket-local rank: only boundary buckets survive the semi-join
    kcum = kgrain.join(
        F.broadcast(bucket_of.select("bk").distinct()), "bk", "left_semi"
    ).select(
        "bk",
        "k",
        F.sum("ck")
        .over(W.partitionBy("bk").orderBy("k"))
        .cast("bigint")
        .alias("kcum"),
    )
    keyrank = (
        F.broadcast(bucket_of)
        .join(cumb.select("bk", "cum_before"), "bk")
        .join(kcum, "bk")
        .filter(F.col("cum_before") + F.col("kcum") >= F.col("r"))
        .groupBy("i")
        .agg(F.min("k").alias("split_key"))
        .persist()
    )
    bounds = keyrank.select("i", "split_key")
    # per-row partition id: smallest i with k <= split_key_i. The 7-row
    # collect is PARTITIONER METADATA — exactly what RangePartitioner
    # ships to every task — not a data-plane pull (the q76 centroid
    # precedent for model-sized collects).
    # A when-chain, not SQL text built from the rows: with no split
    # rows (empty orders) the partition id is the constant _N_PARTS.
    pid = None
    for r in sorted(bounds.collect(), key=lambda r: r.i):
        hit = F.col("k") <= r.split_key
        pid = F.when(hit, r.i) if pid is None else pid.when(hit, r.i)
    pid = F.lit(_N_PARTS) if pid is None else pid.otherwise(_N_PARTS)
    parts = keyed.select(pid.alias("pid")).groupBy("pid").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows")
    )
    out = (
        parts.join(
            F.broadcast(bounds.select(F.col("i").alias("pid"), F.col("split_key"))),
            "pid",
            "left",
        )
        .crossJoin(F.broadcast(n1))
        .select(
            F.col("pid").alias("partition_id"),
            F.col("split_key").alias("upper_key"),
            "n_rows",
            F.expr(
                f"CAST(n_rows * {_N_PARTS} * 1000000 div n AS BIGINT)"
            ).alias("vs_ideal_ppm"),
        )
        .orderBy("partition_id")
    )
    return out


# ---------------------------------------------------------------------------
# q398 — ABC revenue classification
# ---------------------------------------------------------------------------


@query(
    "q398_abc_classification",
    oracle="""
    WITH cust AS (
      SELECT o_custkey AS k,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                  AS BIGINT) AS rev_u
      FROM orders GROUP BY o_custkey
    ),
    tot AS (
      SELECT CAST(SUM(rev_u) AS HUGEINT) AS t,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM cust
    ),
    ranked AS (
      SELECT k, rev_u,
             SUM(rev_u) OVER (ORDER BY rev_u DESC, k) AS cum
      FROM cust
    ),
    classed AS (
      SELECT k, rev_u,
             CASE WHEN (cum - rev_u) * 100 < t * 80 THEN 'A'
                  WHEN (cum - rev_u) * 100 < t * 95 THEN 'B'
                  ELSE 'C' END AS cls
      FROM ranked CROSS JOIN tot
    )
    SELECT cls,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(rev_u) AS BIGINT) AS revenue_u,
           CAST(CAST(SUM(rev_u) AS HUGEINT) * 1000000 // t.t AS BIGINT)
             AS revenue_share_ppm,
           CAST(COUNT(*) * 1000000 // t.nc AS BIGINT) AS customer_share_ppm
    FROM classed CROSS JOIN tot t
    GROUP BY cls, t.t, t.nc ORDER BY cls
    """,
    tags=("llm", "business", "abc", "pareto"),
)
def q398_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (80/15/5) customer classification: customers sorted by
    revenue DESC (key tiebreak) are class A while the revenue
    CUMULATED BEFORE them is under 80% of total, B under 95%, C
    after — the prefix rule that puts the customer straddling a
    boundary into the better class, stated as the integer
    cross-multiplication (cum - rev)*100 < t*80 (no percentage
    division anywhere). Revenue enters as exact micro-currency
    (the q01 DOUBLE -> DECIMAL(18,6) path). Output is the 3-row
    class summary: customer and revenue counts and shares.

    Scale: the descending cumulative here rides a customer-grain
    window; at 10^9 customers the same classes come from the q267
    two-level form — log2 revenue buckets cumulated bucket-grain,
    boundary buckets refined bucket-locally — which q397 demonstrates
    for the partitioner; the CLASS SUMMARY output is what makes the
    refinement exact (only boundary buckets need per-key ranks)."""
    orders = load(spark, sf_dir, "orders")
    cust = orders.groupBy(F.col("o_custkey").alias("k")).agg(
        F.expr(
            "CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000"
            " AS BIGINT)"
        ).alias("rev_u")
    ).persist()
    tot = cust.agg(
        F.expr("CAST(SUM(rev_u) AS DECIMAL(38,0))").alias("t"),
        F.count(F.lit(1)).cast("bigint").alias("nc"),
    )
    # global-window-ok: customer-grain descending cumulative — the
    # docstring's q267 two-level form is the 10^9-key plan; this
    # catalog entry keeps the single-frame form the oracle can replay
    wr = W.orderBy(F.desc("rev_u"), "k")
    ranked = cust.select("k", "rev_u", F.sum("rev_u").over(wr).alias("cum"))
    classed = ranked.crossJoin(F.broadcast(tot)).select(
        "rev_u",
        "t",
        "nc",
        F.expr(
            "CASE WHEN (cum - rev_u) * 100 < t * 80 THEN 'A'"
            " WHEN (cum - rev_u) * 100 < t * 95 THEN 'B'"
            " ELSE 'C' END"
        ).alias("cls"),
    )
    out = (
        classed.groupBy("cls", "t", "nc")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum("rev_u").cast("bigint").alias("revenue_u"),
        )
        .select(
            "cls",
            "n_customers",
            "revenue_u",
            F.expr(
                "CAST(CAST(revenue_u AS DECIMAL(38,0)) * 1000000 div t"
                " AS BIGINT)"
            ).alias("revenue_share_ppm"),
            F.expr("CAST(n_customers * 1000000 div nc AS BIGINT)").alias(
                "customer_share_ppm"
            ),
        )
        .orderBy("cls")
    )
    return out
