"""Relational coverage, wave 2: statistical aggregates, percentiles,
ordered collections, richer window frames, regex/LIKE predicates,
grouping sets, IN/correlated subqueries, salted skew join, sampling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.compare import money_sum
from ..operators.skew import salted_join
from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# Statistical aggregates
# ---------------------------------------------------------------------------


@query(
    "q26_salted_join_equivalence",
    oracle="""
    SELECT n.n_name AS nation_name, COUNT(*) AS n_rows,
           CAST(ROUND(SUM(CAST(c.c_acctbal AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY 1 ORDER BY 1
    """,
    tags=("join", "skew", "salting"),
)
def q26_salted_join_equivalence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted join (operators/skew.py) — result identical to the plain
    join, hot keys spread across 8 sub-keys. The oracle IS the plain
    join: equivalence is the correctness property of salting."""
    customer = load(spark, sf_dir, "customer")
    nation = load(spark, sf_dir, "nation")
    joined = salted_join(customer, nation, "c_nationkey", "n_nationkey", n_salts=8)
    return (
        joined.groupBy(F.col("n_name").alias("nation_name"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            money_sum(F.col("c_acctbal")).alias("total_bal"),
        )
        .orderBy("nation_name")
    )


@query(
    "q27_stats_aggregates",
    oracle="""
    WITH m AS (
      SELECT l_returnflag,
             COUNT(*) AS n,
             CAST(SUM(CAST(l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sx,
             CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(18,6))) AS DOUBLE) AS sxx,
             CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) AS sy,
             CAST(SUM(CAST(l_extendedprice * l_extendedprice AS DECIMAL(24,4)))
               AS DOUBLE) AS syy,
             CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(18,4)))
               AS DOUBLE) AS sxy,
             ROUND(MIN(l_extendedprice), 2) AS min_price,
             ROUND(MAX(l_extendedprice), 2) AS max_price
      FROM lineitem GROUP BY 1
    )
    SELECT l_returnflag,
           ROUND(SQRT((sxx - sx * sx / n) / (n - 1)), 6) AS qty_stddev,
           ROUND((sxx - sx * sx / n) / (n - 1), 6) AS qty_var,
           ROUND((sxy - sx * sy / n)
                 / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
             AS qty_price_corr,
           ROUND((sxy - sx * sy / n) / (n - 1), 4) AS qty_price_covar,
           min_price, max_price
    FROM m ORDER BY l_returnflag
    """,
    tags=("agg", "stats"),
)
def q27_stats_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """stddev/variance/correlation/covariance via exact decimal power
    sums (sum x, sum x^2, sum xy ... summed order-free in decimal, the
    statistics derived in identical double arithmetic on both sides).

    Spark's built-in stddev_samp/corr use a streaming one-pass update
    whose result depends on merge order — fine numerically, but not
    bit-reproducible across partitionings; power sums are. The classic
    cancellation concern with the textbook formula doesn't apply: the
    sums are EXACT decimals, so the subtraction is of identical values
    in every engine. One pass, partial+final aggregation, no extra
    shuffle — same plan shape as the built-ins."""
    li = load(spark, sf_dir, "lineitem")
    qty, price = F.col("l_quantity"), F.col("l_extendedprice")
    m = li.groupBy("l_returnflag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(qty.cast("decimal(18,6)")).cast("double").alias("sx"),
        F.sum((qty * qty).cast("decimal(18,6)")).cast("double").alias("sxx"),
        F.sum(price.cast("decimal(18,6)")).cast("double").alias("sy"),
        F.sum((price * price).cast("decimal(24,4)")).cast("double").alias("syy"),
        F.sum((qty * price).cast("decimal(18,4)")).cast("double").alias("sxy"),
        F.round(F.min(price), 2).alias("min_price"),
        F.round(F.max(price), 2).alias("max_price"),
    )
    n, sx, sxx = F.col("n"), F.col("sx"), F.col("sxx")
    sy, syy, sxy = F.col("sy"), F.col("syy"), F.col("sxy")
    var = (sxx - sx * sx / n) / (n - 1)
    covar = (sxy - sx * sy / n) / (n - 1)
    corr = (sxy - sx * sy / n) / F.sqrt((sxx - sx * sx / n) * (syy - sy * sy / n))
    return m.select(
        "l_returnflag",
        F.round(F.sqrt(var), 6).alias("qty_stddev"),
        F.round(var, 6).alias("qty_var"),
        F.round(corr, 6).alias("qty_price_corr"),
        F.round(covar, 4).alias("qty_price_covar"),
        "min_price",
        "max_price",
    ).orderBy("l_returnflag")


@query(
    "q28_percentiles_median",
    oracle="""
    SELECT o_orderstatus,
           ROUND(MEDIAN(o_totalprice), 4) AS median_price,
           ROUND(QUANTILE_CONT(o_totalprice, 0.25), 4) AS p25,
           ROUND(QUANTILE_CONT(o_totalprice, 0.95), 4) AS p95
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "percentile"),
)
def q28_percentiles_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentiles (continuous interpolation — Spark `percentile`
    == DuckDB `quantile_cont`). At 100 TB use approx_percentile (q29,
    t-digest sketch, no sort/materialization); the exact form exists
    because the oracle can verify it."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.round(F.expr("percentile(o_totalprice, 0.5)"), 4).alias("median_price"),
            F.round(F.expr("percentile(o_totalprice, 0.25)"), 4).alias("p25"),
            F.round(F.expr("percentile(o_totalprice, 0.95)"), 4).alias("p95"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q29_approx_aggregates",
    oracle="""
    SELECT CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS exact_parts,
           CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS exact_supps,
           1 AS parts_ok,
           1 AS supps_ok,
           1 AS median_ok,
           1 AS p25_ok,
           1 AS p95_ok
    FROM lineitem
    """,
    tags=("agg", "approx", "sketch"),
)
def q29_approx_aggregates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB forms: approx_count_distinct (HyperLogLog++) and
    approx_percentile (t-digest-style). Estimates are engine-specific,
    so the oracle is an ERROR-BOUND gate: Spark computes both the
    sketch estimate and the exact value in one aggregation and projects
    0/1 within-tolerance flags; DuckDB asserts the exact values and that
    every flag is 1. A broken sketch (or a tolerance regression) flips a
    flag and fails the hash compare. Tolerances are 4x the configured
    rsd for HLL (rsd is a standard deviation, 4 sigma ~ always) and the
    [p45, p55] / [p20, p30] / [p90, p99] exact-rank bands for the
    percentile sketch (default accuracy 1e4 => rank error 1e-4).
    Exact twins: q07 (count distinct), q28 (percentiles)."""
    li = load(spark, sf_dir, "lineitem")
    m = li.agg(
        F.approx_count_distinct("l_partkey").alias("a_parts"),
        F.approx_count_distinct("l_suppkey", rsd=0.01).alias("a_supps"),
        F.expr("approx_percentile(l_extendedprice, 0.5)").alias("a_med"),
        F.expr("approx_percentile(l_extendedprice, 0.25)").alias("a_p25"),
        F.expr("approx_percentile(l_extendedprice, 0.95)").alias("a_p95"),
        F.countDistinct("l_partkey").alias("exact_parts"),
        F.countDistinct("l_suppkey").alias("exact_supps"),
        F.expr("percentile(l_extendedprice, 0.45)").alias("e_p45"),
        F.expr("percentile(l_extendedprice, 0.55)").alias("e_p55"),
        F.expr("percentile(l_extendedprice, 0.20)").alias("e_p20"),
        F.expr("percentile(l_extendedprice, 0.30)").alias("e_p30"),
        F.expr("percentile(l_extendedprice, 0.90)").alias("e_p90"),
        F.expr("percentile(l_extendedprice, 0.99)").alias("e_p99"),
    )

    def within(est, lo, hi):
        return (F.col(est).between(F.col(lo), F.col(hi))).cast("int")

    rel_ok = lambda a, e, tol: (  # noqa: E731
        (F.abs(F.col(a) - F.col(e)) / F.col(e)) <= tol
    ).cast("int")
    return m.select(
        F.col("exact_parts").cast("bigint").alias("exact_parts"),
        F.col("exact_supps").cast("bigint").alias("exact_supps"),
        rel_ok("a_parts", "exact_parts", 0.20).alias("parts_ok"),
        rel_ok("a_supps", "exact_supps", 0.04).alias("supps_ok"),
        within("a_med", "e_p45", "e_p55").alias("median_ok"),
        within("a_p25", "e_p20", "e_p30").alias("p25_ok"),
        within("a_p95", "e_p90", "e_p99").alias("p95_ok"),
    )


@query(
    "q43_min_by_max_by_first_last",
    oracle="""
    SELECT o_orderstatus,
           MIN_BY(o_orderkey, o_totalprice) AS cheapest_order,
           MAX_BY(o_orderkey, o_totalprice) AS priciest_order,
           ROUND(MIN(o_totalprice), 2) AS min_price,
           ROUND(MAX(o_totalprice), 2) AS max_price
    FROM orders GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "min_by"),
)
def q43_min_by_max_by_first_last(spark: SparkSession, sf_dir: str) -> DataFrame:
    """min_by/max_by argmin-argmax aggregates (ties impossible here:
    totalprice is continuous; were they possible, wrap key in a struct
    with a tiebreak)."""
    o = load(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderstatus")
        .agg(
            F.expr("min_by(o_orderkey, o_totalprice)").alias("cheapest_order"),
            F.expr("max_by(o_orderkey, o_totalprice)").alias("priciest_order"),
            F.round(F.min("o_totalprice"), 2).alias("min_price"),
            F.round(F.max("o_totalprice"), 2).alias("max_price"),
        )
        .orderBy("o_orderstatus")
    )


@query(
    "q44_collect_list_sorted",
    oracle="""
    SELECT n_regionkey AS regionkey,
           ARRAY_TO_STRING(LIST(n_name ORDER BY n_name), ',') AS nations_csv,
           CAST(COUNT(*) AS BIGINT) AS n_nations
    FROM nation GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "collect"),
)
def q44_collect_list_sorted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """collect_list -> array_sort -> join to CSV: ordered collection
    aggregate projected as a scalar (engines hash arrays differently;
    strings compare exactly). collect_list order is nondeterministic in
    a distributed agg — ALWAYS array_sort before relying on it."""
    n = load(spark, sf_dir, "nation")
    return (
        n.groupBy(F.col("n_regionkey").alias("regionkey"))
        .agg(
            F.array_join(F.array_sort(F.collect_list("n_name")), ",").alias("nations_csv"),
            F.count(F.lit(1)).alias("n_nations"),
        )
        .orderBy("regionkey")
    )


# ---------------------------------------------------------------------------
# Window frames, wave 2
# ---------------------------------------------------------------------------


@query(
    "q45_window_range_frame",
    oracle="""
    WITH daily AS (
      SELECT CAST(o_orderdate AS DATE) AS d,
             CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
               AS revenue
      FROM orders GROUP BY 1
    )
    SELECT d, revenue,
           CAST(ROUND(SUM(CAST(revenue AS DECIMAL(18,2))) OVER (ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW), 2)
             AS DOUBLE) AS revenue_7d,
           CAST(COUNT(*) OVER (ORDER BY d
                 RANGE BETWEEN INTERVAL 6 DAY PRECEDING AND CURRENT ROW) AS BIGINT)
             AS days_present_7d
    FROM daily ORDER BY d
    """,
    tags=("window", "range_frame"),
)
def q45_window_range_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over calendar days (true 7-DAY window, robust to
    missing days — unlike the 7-ROW frame of q15)."""
    o = load(spark, sf_dir, "orders")
    daily = o.groupBy(F.col("o_orderdate").cast("date").alias("d")).agg(
        money_sum(F.col("o_totalprice")).alias("revenue")
    )
    daily = daily.withColumn("d_epoch", F.datediff("d", F.lit("1970-01-01").cast("date")))
    # global-window-ok: day-grain: reduced to rows-per-day by the groupBy (SCALE.md Windows)
    w = W.orderBy("d_epoch").rangeBetween(-6, 0)
    return (
        daily.select(
            "d",
            "revenue",
            F.round(F.sum(F.col("revenue").cast("decimal(18,2)")).over(w), 2)
            .cast("double")
            .alias("revenue_7d"),
            F.count(F.lit(1)).over(w).alias("days_present_7d"),
        )
        .orderBy("d")
    )


@query(
    "q46_window_first_last_nth",
    oracle="""
    WITH ranked AS (
      SELECT l_orderkey, l_linenumber, ROUND(l_extendedprice, 2) AS price,
             FIRST_VALUE(l_linenumber) OVER w AS first_line,
             LAST_VALUE(l_linenumber) OVER w AS last_line,
             NTH_VALUE(l_linenumber, 2) OVER w AS second_line
      FROM lineitem
      WINDOW w AS (PARTITION BY l_orderkey ORDER BY l_linenumber
                   ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    )
    SELECT * FROM ranked WHERE l_orderkey < 200
    ORDER BY l_orderkey, l_linenumber
    """,
    tags=("window", "first_last"),
)
def q46_window_first_last_nth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first_value / last_value / nth_value with an explicit unbounded
    frame (the default frame would make last_value = current row)."""
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") < 200)
    w = (
        W.partitionBy("l_orderkey")
        .orderBy("l_linenumber")
        .rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    )
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
            F.first("l_linenumber").over(w).alias("first_line"),
            F.last("l_linenumber").over(w).alias("last_line"),
            F.nth_value("l_linenumber", 2).over(w).alias("second_line"),
        )
        .orderBy("l_orderkey", "l_linenumber")
    )


# ---------------------------------------------------------------------------
# Predicates, wave 2: LIKE / regexp / IN / BETWEEN / null handling
# ---------------------------------------------------------------------------


@query(
    "q47_like_regexp_predicates",
    oracle="""
    SELECT p_partkey, p_name, p_brand,
           p_name LIKE '%part_1%' AS has_part_1,
           p_brand LIKE 'Brand#1_' AS brand_1x,
           REGEXP_MATCHES(p_type, '^(ECONOMY|PROMO)') AS is_econ_promo,
           REGEXP_EXTRACT(p_brand, '#([0-9]+)', 1) AS brand_num,
           p_size IN (1, 5, 9) AS size_in_set,
           p_size BETWEEN 10 AND 20 AS size_mid,
           CAST(p_retailprice IS NOT NULL AS BOOLEAN) AS price_present
    FROM part ORDER BY p_partkey
    """,
    tags=("filter", "regexp", "like"),
)
def q47_like_regexp_predicates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LIKE (with _ wildcard), RLIKE anchors, regexp_extract groups,
    IN-lists, BETWEEN, IS NOT NULL — the predicate family as projected
    booleans so every value is oracle-checked."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.col("p_name").like("%part_1%").alias("has_part_1"),
        F.col("p_brand").like("Brand#1_").alias("brand_1x"),
        F.col("p_type").rlike("^(ECONOMY|PROMO)").alias("is_econ_promo"),
        F.regexp_extract("p_brand", "#([0-9]+)", 1).alias("brand_num"),
        F.col("p_size").isin(1, 5, 9).alias("size_in_set"),
        F.col("p_size").between(10, 20).alias("size_mid"),
        F.col("p_retailprice").isNotNull().alias("price_present"),
    ).orderBy("p_partkey")


@query(
    "q48_grouping_sets_sql",
    oracle="""
    SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
           COALESCE(CAST(c_nationkey AS VARCHAR), 'ALL') AS nation,
           COUNT(*) AS n,
           ROUND(SUM(c_acctbal), 2) AS bal
    FROM customer
    GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
    ORDER BY 1, 2
    """,
    tags=("agg", "grouping_sets", "sql"),
)
def q48_grouping_sets_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS through the SQL surface (rollup/cube are
    the shorthands; this is the general form)."""
    load(spark, sf_dir, "customer").createOrReplaceTempView("customer")
    return spark.sql(
        """
        SELECT COALESCE(c_mktsegment, 'ALL') AS segment,
               COALESCE(CAST(c_nationkey AS STRING), 'ALL') AS nation,
               COUNT(*) AS n,
               ROUND(SUM(c_acctbal), 2) AS bal
        FROM customer
        GROUP BY GROUPING SETS ((c_mktsegment), (c_nationkey), ())
        ORDER BY 1, 2
        """
    )


@query(
    "q49_in_subquery_correlated",
    oracle="""
    SELECT s_suppkey, s_name
    FROM supplier
    WHERE s_nationkey IN (SELECT n_nationkey FROM nation WHERE n_regionkey = 2)
      AND s_acctbal > (SELECT AVG(s2.s_acctbal) FROM supplier s2)
    ORDER BY s_suppkey
    """,
    tags=("subquery", "in", "sql"),
)
def q49_in_subquery_correlated(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IN-subquery + scalar subquery through SQL (Catalyst rewrites IN
    to a left-semi join, the scalar to a broadcast). The region key is
    bound via NAMED PARAMETERIZED SQL (spark.sql args=...) — the
    engine-native, injection-safe analog of the reference's Airflow
    parameter templating (P11; Final_app.py templates the run date the
    string-interpolation way): the literal reaches Catalyst as a typed
    parameter node, is constant-folded, and still prunes/pushes down
    exactly like an inline literal."""
    load(spark, sf_dir, "supplier").createOrReplaceTempView("supplier")
    load(spark, sf_dir, "nation").createOrReplaceTempView("nation")
    return spark.sql(
        """
        SELECT s_suppkey, s_name
        FROM supplier
        WHERE s_nationkey IN (SELECT n_nationkey FROM nation
                              WHERE n_regionkey = :region)
          AND s_acctbal > (SELECT AVG(s2.s_acctbal) FROM supplier s2)
        ORDER BY s_suppkey
        """,
        args={"region": 2},
    )


@query(
    "q54_sample_deterministic",
    oracle="""
    SELECT o_orderkey, o_orderstatus FROM orders
    WHERE SUBSTR(MD5(CAST(o_orderkey AS VARCHAR)), 1, 1) IN ('0', '1')
    ORDER BY o_orderkey
    """,
    tags=("sample",),
)
def q54_sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic ~2/16 sample via md5-prefix gating on the key —
    membership depends only on the key value, never on partitioning,
    engine, or run (md5 is bit-identical in Spark and DuckDB, so the
    sampled set itself sits under the oracle hash gate; the stratified
    twin is q92). A 100 TB pipeline uses exactly this to carve stable
    held-out slices; the cheaper engine-internal form is
    pmod(xxhash64(key), k) = 0 — same plan shape, same scan-time
    filter, just not reproducible outside Spark."""
    o = load(spark, sf_dir, "orders")
    stable = o.filter(
        F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 1).isin("0", "1")
    )
    return stable.select("o_orderkey", "o_orderstatus").orderBy("o_orderkey")


@query(
    "q55_tpch_q3_shipping_priority",
    oracle="""
    SELECT l.l_orderkey,
           CAST(ROUND(SUM(CAST((l.l_extendedprice * (1 - l.l_discount))
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           CAST(o.o_orderdate AS DATE) AS order_date,
           o.o_orderpriority AS order_priority
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < DATE '1998-03-15'
      AND l.l_shipdate > DATE '1998-03-15'
    GROUP BY 1, 3, 4
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q55_tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: segment-filtered 3-way join, revenue agg, top-10.

    Scale: the customer filter (1/5 selectivity) is pushed to its scan,
    the filtered customer side broadcasts, and the top-10 runs as
    TakeOrderedAndProject — no global sort materialization. The unique
    l_orderkey tiebreak makes the LIMIT set deterministic."""
    c = load(spark, sf_dir, "customer").filter(F.col("c_mktsegment") == "BUILDING")
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderdate") < "1998-03-15")
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") > "1998-03-15")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy(
            "l_orderkey",
            F.col("o_orderdate").cast("date").alias("order_date"),
            F.col("o_orderpriority").alias("order_priority"),
        )
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("l_orderkey"))
        .limit(10)
        .select("l_orderkey", "revenue", "order_date", "order_priority")
    )


@query(
    "q56_tpch_q10_returned_items",
    oracle="""
    SELECT c.c_custkey, c.c_name,
           CAST(ROUND(SUM(CAST((l.l_extendedprice * (1 - l.l_discount))
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue,
           n.n_name AS nation_name
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n   ON c.c_nationkey = n.n_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= DATE '1999-01-01'
      AND o.o_orderdate < DATE '1999-07-01'
    GROUP BY 1, 2, 4
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
    tags=("join", "agg", "topk", "tpch"),
)
def q56_tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10 shape: who returned the most revenue last half-year.
    4-way join with a date-range fact filter; top-20 customers."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1999-01-01") & (F.col("o_orderdate") < "1999-07-01")
    )
    li = load(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation_name"))
        .agg(
            money_sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                "revenue"
            )
        )
        .orderBy(F.desc("revenue"), F.asc("c_custkey"))
        .limit(20)
        .select("c_custkey", "c_name", "revenue", "nation_name")
    )


@query(
    "q57_null_safe_semantics",
    oracle="""
    WITH t AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 3 = 0 THEN NULL ELSE o_orderstatus END AS maybe_status
      FROM orders WHERE o_orderkey < 300
    )
    SELECT a.o_orderkey AS key_a, b.o_orderkey AS key_b
    FROM t a JOIN t b
      ON a.maybe_status IS NOT DISTINCT FROM b.maybe_status
     AND a.o_orderkey < b.o_orderkey
     AND a.o_orderkey < 30
    ORDER BY key_a, key_b
    """,
    tags=("join", "null_safe"),
)
def q57_null_safe_semantics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    match each other — the semantics regular equi-joins silently drop.
    The nulls are manufactured (o_orderkey % 3) since fixtures are
    null-free; a real corpus is not."""
    t = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderkey") < 300)
        .select(
            "o_orderkey",
            F.when(F.col("o_orderkey") % 3 == 0, None)
            .otherwise(F.col("o_orderstatus"))
            .alias("maybe_status"),
        )
    )
    a, b = t.alias("a"), t.alias("b")
    return (
        a.join(
            b,
            F.col("a.maybe_status").eqNullSafe(F.col("b.maybe_status"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (F.col("a.o_orderkey") < 30),
        )
        .select(
            F.col("a.o_orderkey").alias("key_a"), F.col("b.o_orderkey").alias("key_b")
        )
        .orderBy("key_a", "key_b")
    )


@query(
    "q58_month_arithmetic",
    oracle="""
    SELECT o_orderkey,
           CAST(o_orderdate + INTERVAL 3 MONTH AS DATE) AS plus_3_months,
           CAST(DATE_TRUNC('month', o_orderdate) - INTERVAL 1 DAY AS DATE)
             AS prev_month_end,
           ROUND(CAST(DATE_DIFF('day', CAST(o_orderdate AS DATE), DATE '2000-01-01')
                 AS DOUBLE) / 30.4375, 2) AS approx_months_to_2000
    FROM orders WHERE o_orderkey < 500 ORDER BY o_orderkey
    """,
    tags=("functions", "date", "interval"),
)
def q58_month_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-aware month arithmetic: add_months handles month-length
    irregularities (Jan 31 + 1 month = Feb 28); months_between is
    deliberately avoided in the oracle compare because Spark and DuckDB
    define fractional months differently — the portable form divides
    day deltas by the mean month length."""
    o = load(spark, sf_dir, "orders").filter(F.col("o_orderkey") < 500)
    return o.select(
        "o_orderkey",
        F.add_months(F.col("o_orderdate").cast("date"), 3).alias("plus_3_months"),
        F.date_sub(F.date_trunc("month", "o_orderdate").cast("date"), 1).alias(
            "prev_month_end"
        ),
        F.round(
            F.datediff(
                F.lit("2000-01-01").cast("date"), F.col("o_orderdate").cast("date")
            ).cast("double")
            / 30.4375,
            2,
        ).alias("approx_months_to_2000"),
    ).orderBy("o_orderkey")


@query(
    "q59_bitwise_functions",
    oracle="""
    SELECT p_partkey,
           p_size & 12 AS size_and,
           p_size | 3 AS size_or,
           XOR(p_size, 5) AS size_xor,
           p_size << 2 AS size_shl,
           p_size >> 1 AS size_shr,
           CAST(BIT_COUNT(CAST(p_size AS BIGINT)) AS INTEGER) AS size_popcount
    FROM part ORDER BY p_partkey
    """,
    tags=("functions", "bitwise"),
)
def q59_bitwise_functions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bitwise family (&, |, xor, shifts, popcount) — the primitives the
    SimHash/LSH operators build on, exposed as a checked query."""
    p = load(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.col("p_size").bitwiseAND(12).alias("size_and"),
        F.col("p_size").bitwiseOR(3).alias("size_or"),
        F.col("p_size").bitwiseXOR(5).alias("size_xor"),
        F.shiftleft("p_size", 2).alias("size_shl"),
        F.shiftright("p_size", 1).alias("size_shr"),
        F.bit_count(F.col("p_size").cast("bigint")).alias("size_popcount"),
    ).orderBy("p_partkey")


@query(
    "q87_data_quality_gates",
    oracle="""
    WITH raw(check_name, n_raw) AS (
      SELECT 'fk(o_custkey->c_custkey)',
             (SELECT COUNT(*) FROM orders o
              WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
      UNION ALL
      SELECT 'fk(l_orderkey->o_orderkey)',
             (SELECT COUNT(*) FROM lineitem l
              WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
      UNION ALL
      SELECT 'unique(o_orderkey)',
             (SELECT COALESCE(SUM(n - 1), 0) FROM
               (SELECT COUNT(*) AS n FROM orders GROUP BY o_orderkey HAVING COUNT(*) > 1))
      UNION ALL
      SELECT 'not_null(o_orderkey,o_custkey)',
             (SELECT COUNT(*) FROM orders WHERE o_orderkey IS NULL OR o_custkey IS NULL)
      UNION ALL
      SELECT 'range(l_discount,[0.0,0.1])',
             (SELECT COUNT(*) FROM lineitem WHERE l_discount NOT BETWEEN 0.0 AND 0.1)
    )
    SELECT check_name,
           CAST(n_raw AS BIGINT) AS n_violations,
           CAST(n_raw = 0 AS INTEGER) AS passed
    FROM raw ORDER BY check_name
    """,
    tags=("validation", "quality"),
)
def q87_data_quality_gates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality gate suite (functions/validation.py) over the star
    schema: referential integrity (anti-joins), PK uniqueness, null and
    range gates — the engine-wide form of the reference's single arity
    check (P7). One report DataFrame; the driver routes on it the way
    run_daily_load routes on its per-day aggregate's verdicts."""
    from ..functions.validation import (
        check_not_null,
        check_range,
        check_referential,
        check_unique,
        run_checks,
    )

    orders = load(spark, sf_dir, "orders")
    customer = load(spark, sf_dir, "customer")
    lineitem = load(spark, sf_dir, "lineitem")
    report = run_checks(
        [
            check_referential(orders, "o_custkey", customer, "c_custkey"),
            check_referential(lineitem, "l_orderkey", orders, "o_orderkey"),
            check_unique(orders, ["o_orderkey"]),
            check_not_null(orders, ["o_orderkey", "o_custkey"]),
            check_range(lineitem, "l_discount", 0.0, 0.1),
        ]
    )
    return report.orderBy("check_name")


@query(
    "q88_mode_deterministic",
    oracle="""
    WITH counted AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS n
      FROM customer GROUP BY 1, 2
    ),
    ranked AS (
      SELECT c_nationkey, c_mktsegment, n,
             ROW_NUMBER() OVER (PARTITION BY c_nationkey
                                ORDER BY n DESC, c_mktsegment) AS rnk
      FROM counted
    )
    SELECT c_nationkey AS nationkey, c_mktsegment AS modal_segment, n AS n_in_mode
    FROM ranked WHERE rnk = 1 ORDER BY nationkey
    """,
    tags=("agg", "mode"),
)
def q88_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic MODE (most frequent value per group) via count +
    windowed argmax with a lexicographic tiebreak. Built this way
    instead of Spark's mode() because mode() leaves ties
    engine/partition-dependent — un-oracle-able by construction."""
    c = load(spark, sf_dir, "customer")
    counted = c.groupBy("c_nationkey", "c_mktsegment").agg(F.count(F.lit(1)).alias("n"))
    w = W.partitionBy("c_nationkey").orderBy(F.desc("n"), F.asc("c_mktsegment"))
    return (
        counted.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") == 1)
        .select(
            F.col("c_nationkey").alias("nationkey"),
            F.col("c_mktsegment").alias("modal_segment"),
            F.col("n").alias("n_in_mode"),
        )
        .orderBy("nationkey")
    )


@query(
    "q89_fuzzy_match_levenshtein",
    oracle="""
    WITH a AS (SELECT p_partkey, p_name FROM part WHERE p_partkey < 50),
         b AS (SELECT p_partkey, p_name FROM part WHERE p_partkey >= 50 AND p_partkey < 100)
    SELECT a.p_partkey AS key_a, b.p_partkey AS key_b,
           CAST(LEVENSHTEIN(a.p_name, b.p_name) AS INTEGER) AS edit_distance
    FROM a JOIN b ON LEVENSHTEIN(a.p_name, b.p_name) <= 3
    ORDER BY key_a, key_b
    """,
    tags=("llm", "fuzzy", "string"),
)
def q89_fuzzy_match_levenshtein(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy record matching on edit distance (levenshtein <= 3) over a
    bounded slice pair. All-pairs edit distance is O(n*m*len^2) — at
    scale the candidate set comes first (q68-style LSH blocking or a
    q64 normalized-fingerprint exact pass), and levenshtein verifies
    only candidates; the bounded slice here keeps the oracle honest."""
    p = load(spark, sf_dir, "part")
    a = p.filter(F.col("p_partkey") < 50).select(
        F.col("p_partkey").alias("key_a"), F.col("p_name").alias("name_a")
    )
    b = p.filter(F.col("p_partkey").between(50, 99)).select(
        F.col("p_partkey").alias("key_b"), F.col("p_name").alias("name_b")
    )
    dist = F.levenshtein("name_a", "name_b")
    return (
        a.join(b, dist <= 3)
        .select("key_a", "key_b", dist.alias("edit_distance"))
        .orderBy("key_a", "key_b")
    )


@query(
    "q99_tpch_q5_local_supplier_volume",
    oracle="""
    SELECT n.n_name AS nation,
           CAST(ROUND(SUM(CAST((l.l_extendedprice * (1 - l.l_discount))
             AS DECIMAL(18,6))), 2) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON l.l_suppkey = s.s_suppkey
                   AND c.c_nationkey = s.s_nationkey
    JOIN nation n   ON s.s_nationkey = n.n_nationkey
    JOIN region r   ON n.n_regionkey = r.r_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= DATE '1996-01-01'
      AND o.o_orderdate <  DATE '1997-01-01'
    GROUP BY 1
    ORDER BY revenue DESC, nation
    """,
    tags=("join", "agg", "tpch"),
)
def q99_tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5 shape (local supplier volume): 6-way star join where
    the customer-nation must equal the supplier-nation — the classic
    join-ordering stress test.

    Scale: region/nation/supplier/customer all broadcast (filtered
    region first, so the broadcast chain prunes early); lineitem joins
    orders sort-merge on the only fact-fact edge; the
    c_nationkey = s_nationkey equality rides the existing join keys as
    a post-join filter — no extra shuffle. Money aggregate uses the
    decimal-exact pattern (functions/compare.py)."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= "1996-01-01") & (F.col("o_orderdate") < "1997-01-01")
    )
    li = load(spark, sf_dir, "lineitem")
    s = load(spark, sf_dir, "supplier")
    n = load(spark, sf_dir, "nation")
    r = load(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    revenue = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(18,6)"
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (li.l_suppkey == s.s_suppkey) & (c.c_nationkey == s.s_nationkey),
        )
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .join(F.broadcast(r), n.n_regionkey == r.r_regionkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.round(F.sum(revenue), 2).cast("double").alias("revenue"))
        .orderBy(F.desc("revenue"), F.asc("nation"))
    )


@query(
    "q106_tpch_q18_large_volume_customer",
    oracle="""
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           CAST(o.o_orderdate AS DATE) AS o_orderdate,
           o.o_totalprice,
           SUM(l.l_quantity) AS order_qty
    FROM customer c
    JOIN orders o   ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON o.o_orderkey = l.l_orderkey
    WHERE o.o_orderkey IN (
      SELECT l_orderkey FROM lineitem
      GROUP BY l_orderkey HAVING SUM(l_quantity) > 300)
    GROUP BY 1, 2, 3, 4, 5
    ORDER BY o.o_totalprice DESC, o_orderdate, o.o_orderkey
    LIMIT 100
    """,
    tags=("join", "agg", "tpch", "topk"),
)
def q106_tpch_q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape (large-volume customer): orders whose lineitems
    sum past a quantity threshold, with customer detail, top-100 by
    order value.

    Scale: the HAVING pre-aggregation reduces lineitem map-side
    (partial sums) to one row per order BEFORE any join, and the
    surviving key set (~0.1% of orders) is broadcast — first into the
    orders scan, then (orders now qualified and tiny) into the customer
    scan — so neither fact table shuffles and no second lineitem scan
    exists (the classic IN-subquery form re-reads lineitem; the
    pre-aggregated order_qty IS the outer sum because the group key
    contains o_orderkey). Top-100 plans as TakeOrderedAndProject.
    l_quantity is integral-valued, so the double sum is exact and
    order-independent (no decimal detour needed)."""
    li = load(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("order_qty"))
        .filter(F.col("order_qty") > 300)
    )
    o = load(spark, sf_dir, "orders")
    c = load(spark, sf_dir, "customer")
    qualified = o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
    return (
        c.join(F.broadcast(qualified), qualified.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.col("o_orderdate").cast("date").alias("o_orderdate"),
            "o_totalprice",
            "order_qty",
        )
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(100)
    )


@query(
    "q107_retention_cohorts",
    oracle="""
    WITH first_seen AS (
      SELECT user_id, MIN(CAST(ts AS DATE)) AS first_day
      FROM events WHERE event_type = 'signup' GROUP BY 1
    ),
    activity AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    joined AS (
      SELECT f.user_id,
             CAST(DATE_TRUNC('week', f.first_day) AS DATE) AS cohort_week,
             (a.day - f.first_day) // 7 AS week_offset
      FROM activity a JOIN first_seen f
        ON a.user_id = f.user_id AND a.day >= f.first_day
    ),
    cohort_sizes AS (
      SELECT CAST(DATE_TRUNC('week', first_day) AS DATE) AS cohort_week,
             COUNT(DISTINCT user_id) AS cohort_size
      FROM first_seen GROUP BY 1
    )
    SELECT j.cohort_week,
           CAST(j.week_offset AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT j.user_id) AS BIGINT) AS n_active_users,
           CAST(s.cohort_size AS BIGINT) AS cohort_size,
           ROUND(CAST(COUNT(DISTINCT j.user_id) AS DOUBLE) / s.cohort_size, 6)
             AS retention
    FROM joined j JOIN cohort_sizes s ON j.cohort_week = s.cohort_week
    GROUP BY 1, 2, s.cohort_size
    ORDER BY 1, 2
    """,
    tags=("events", "window", "retention", "agg"),
)
def q107_retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention-cohort matrix over the events feed: users
    cohorted by signup week, activity bucketed by week offset from
    their first signup day, with per-cohort retention rates.

    Scale: the per-user first-signup aggregate and the distinct
    (user, day) activity set both reduce events map-side before any
    join; the join key is user_id (one shuffle of 16-byte rows, never
    raw events), and cohort sizes — one row per week — broadcast back
    onto the cohort matrix. Week offsets use integer day arithmetic
    (no float division: DuckDB // vs Spark floor differ on casts,
    both sides run floor over a non-negative int/7)."""
    e = load(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    first = (
        e.filter(F.col("event_type") == "signup")
        .groupBy("user_id")
        .agg(F.min(day).alias("first_day"))
    )
    activity = e.select("user_id", day.alias("day")).distinct()
    cohort_week = F.date_trunc("week", F.col("first_day")).cast("date")
    joined = (
        activity.join(first, "user_id")
        .filter(F.col("day") >= F.col("first_day"))
        .select(
            "user_id",
            cohort_week.alias("cohort_week"),
            F.floor(F.datediff("day", "first_day") / 7).cast("bigint").alias(
                "week_offset"
            ),
        )
    )
    sizes = first.groupBy(cohort_week.alias("cohort_week")).agg(
        F.count_distinct("user_id").alias("cohort_size")
    )
    return (
        joined.groupBy("cohort_week", "week_offset")
        .agg(F.count_distinct("user_id").alias("n_active_users"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "week_offset",
            F.col("n_active_users").cast("bigint").alias("n_active_users"),
            F.col("cohort_size").cast("bigint").alias("cohort_size"),
            F.round(
                F.col("n_active_users").cast("double") / F.col("cohort_size"), 6
            ).alias("retention"),
        )
        .orderBy("cohort_week", "week_offset")
    )


@query(
    "q108_funnel_conversion",
    oracle="""
    WITH m AS (
      SELECT user_id,
             MIN(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
             MIN(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
             MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
      FROM events GROUP BY 1
    )
    SELECT CAST(SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view,
           CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS BIGINT)
             AS n_view_then_click,
           CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_full_funnel,
           ROUND(CAST(SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END), 6)
             AS view_to_click,
           ROUND(CAST(SUM(CASE WHEN t_click > t_view AND t_purchase > t_click
                         THEN 1 ELSE 0 END) AS DOUBLE)
                 / SUM(CASE WHEN t_click > t_view THEN 1 ELSE 0 END), 6)
             AS click_to_purchase
    FROM m
    """,
    tags=("events", "funnel", "agg"),
)
def q108_funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel (view -> click -> purchase): per-user first
    timestamps per stage via conditional MIN aggregates, then strict
    ordering comparisons — the sessionless funnel every event pipeline
    computes. NULL semantics carry the funnel logic (a missing stage
    yields NULL, and NULL > x is NULL -> not counted), identical in
    both engines.

    Scale: one map-side-combined aggregate by user_id (three
    conditional mins travel as one 24-byte payload), one scalar
    reduce. Events never shuffle raw; no self-join — the naive form
    joins events to itself per funnel edge."""
    e = load(spark, sf_dir, "events")

    def first_ts(evt: str):
        return F.min(F.when(F.col("event_type") == evt, F.col("ts")))

    m = e.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_purchase"),
    )
    n_view = F.sum(F.when(F.col("t_view").isNotNull(), 1).otherwise(0))
    n_vc = F.sum(F.when(F.col("t_click") > F.col("t_view"), 1).otherwise(0))
    n_full = F.sum(
        F.when(
            (F.col("t_click") > F.col("t_view"))
            & (F.col("t_purchase") > F.col("t_click")),
            1,
        ).otherwise(0)
    )
    return m.agg(
        n_view.cast("bigint").alias("n_view"),
        n_vc.cast("bigint").alias("n_view_then_click"),
        n_full.cast("bigint").alias("n_full_funnel"),
        F.round(n_vc.cast("double") / n_view, 6).alias("view_to_click"),
        F.round(n_full.cast("double") / n_vc, 6).alias("click_to_purchase"),
    )


@query(
    "q110_histogram_fixed_width",
    oracle="""
    WITH b AS (
      SELECT LEAST(CAST(FLOOR(o_totalprice / 50000) AS BIGINT), 11) AS bucket_id,
             o_totalprice
      FROM orders
    )
    SELECT bucket_id,
           CAST(bucket_id * 50000.0 AS DOUBLE) AS bucket_lo,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS bucket_total,
           ROUND(MIN(o_totalprice), 2) AS bucket_min,
           ROUND(MAX(o_totalprice), 2) AS bucket_max
    FROM b GROUP BY 1 ORDER BY 1
    """,
    tags=("agg", "histogram"),
)
def q110_histogram_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order values (50k-wide buckets, last
    bucket open-ended): the distribution profile every data-quality /
    drift monitor computes. Bucket assignment is a map-only floor
    division (Spark F.floor == DuckDB explicit FLOOR — NOTE DuckDB's
    `//` does NOT floor when an operand is DOUBLE: it degrades to `/`
    and a later BIGINT CAST rounds, the NOTES.md float-quotient trap;
    FLOOR makes the result integral so the CAST is safe), then one
    map-side-combined aggregation over at most 12 groups; money totals
    use the decimal-exact sum pattern."""
    o = load(spark, sf_dir, "orders")
    bucket = F.least(F.floor(F.col("o_totalprice") / 50000).cast("bigint"), F.lit(11))
    return (
        o.select(bucket.alias("bucket_id"), "o_totalprice")
        .groupBy("bucket_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("bucket_total"),
            F.round(F.min("o_totalprice"), 2).alias("bucket_min"),
            F.round(F.max("o_totalprice"), 2).alias("bucket_max"),
        )
        .select(
            "bucket_id",
            (F.col("bucket_id") * 50000.0).alias("bucket_lo"),
            "n_orders",
            "bucket_total",
            "bucket_min",
            "bucket_max",
        )
        .orderBy("bucket_id")
    )


@query(
    "q111_tpch_q21_sole_returning_supplier",
    oracle="""
    WITH r_lines AS (
      SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem
      WHERE l_returnflag = 'R'
    ),
    all_lines AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem)
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM r_lines l1 JOIN supplier s ON l1.l_suppkey = s.s_suppkey
    WHERE EXISTS (SELECT 1 FROM all_lines l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM r_lines l3
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey)
    GROUP BY 1 ORDER BY numwait DESC, s_name LIMIT 10
    """,
    tags=("join", "semi", "anti", "tpch", "correlated"),
)
def q111_tpch_q21_sole_returning_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape (the fixtures lack commit/receipt dates, so
    'kept waiting' becomes 'sole returning supplier'): suppliers with
    a returned lineitem on a multi-supplier order where NO other
    supplier had a return — the classic correlated EXISTS + NOT
    EXISTS double self-join on the fact table, expressed as
    left-semi + left-anti joins.

    Scale: lineitem collapses to DISTINCT (orderkey, suppkey) pairs
    map-side BEFORE the self-joins (the only columns the correlation
    touches), so both semi and anti join 16-byte pairs equi-keyed on
    l_orderkey — the inequality on suppkey rides the equi-key as a
    join residual, never a cartesian. Supplier broadcasts; top-10
    plans as TakeOrderedAndProject."""
    li = load(spark, sf_dir, "lineitem")
    r_lines = (
        li.filter(F.col("l_returnflag") == "R")
        .select("l_orderkey", "l_suppkey")
        .distinct()
    )
    all_lines = li.select("l_orderkey", "l_suppkey").distinct()
    on_other = (F.col("l1.l_orderkey") == F.col("l2.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l2.l_suppkey")
    )
    on_other_r = (F.col("l1.l_orderkey") == F.col("l3.l_orderkey")) & (
        F.col("l1.l_suppkey") != F.col("l3.l_suppkey")
    )
    sole = (
        r_lines.alias("l1")
        .join(all_lines.alias("l2"), on_other, "left_semi")
        .alias("l1")
        .join(r_lines.alias("l3"), on_other_r, "left_anti")
    )
    s = load(spark, sf_dir, "supplier")
    return (
        sole.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.count(F.lit(1)).cast("bigint").alias("numwait"))
        .orderBy(F.desc("numwait"), F.asc("s_name"))
        .limit(10)
    )


@query(
    "q112_calendar_gap_detection",
    oracle="""
    WITH days AS (SELECT DISTINCT CAST(o_orderdate AS DATE) AS day FROM orders),
    bounds AS (SELECT MIN(day) AS lo, MAX(day) AS hi FROM days),
    spine AS (
      SELECT CAST(UNNEST(GENERATE_SERIES(CAST(lo AS TIMESTAMP),
                                         CAST(hi AS TIMESTAMP),
                                         INTERVAL 1 DAY)) AS DATE) AS day
      FROM bounds
    ),
    spine_m AS (
      SELECT CAST(DATE_TRUNC('month', day) AS DATE) AS month,
             COUNT(*) AS n_days
      FROM spine GROUP BY 1
    ),
    present_m AS (
      SELECT CAST(DATE_TRUNC('month', day) AS DATE) AS month,
             COUNT(*) AS n_present
      FROM days GROUP BY 1
    )
    SELECT s.month,
           CAST(s.n_days AS BIGINT) AS n_days,
           CAST(COALESCE(p.n_present, 0) AS BIGINT) AS n_present,
           CAST(s.n_days - COALESCE(p.n_present, 0) AS BIGINT) AS n_missing
    FROM spine_m s LEFT JOIN present_m p ON s.month = p.month
    ORDER BY 1
    """,
    tags=("date", "spine", "gap-detection"),
)
def q112_calendar_gap_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-spine gap detection: generate the full day spine between
    the first and last observed order dates (F.sequence over DATE — the
    generated dimension the reference's daily `investment_data` table
    needs to tell market-closed days from silently missed loads, its C2
    no-op-day semantics) and report per-month coverage: spine days,
    days with data, missing days.

    Scale: the observed-day set collapses map-side to DISTINCT dates
    (cardinality = days, independent of row count); the spine
    materializes from ONE aggregate row on the driver-free sequence
    expression; both monthly rollups shuffle only day-grain rows. At
    100 TB the whole query moves a few thousand dates."""
    o = load(spark, sf_dir, "orders")
    days = o.select(F.col("o_orderdate").cast("date").alias("day")).distinct()
    bounds = days.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
    spine = bounds.select(F.explode(F.sequence("lo", "hi")).alias("day"))
    month = lambda c: F.date_trunc("month", F.col(c)).cast("date")  # noqa: E731
    spine_m = spine.groupBy(month("day").alias("month")).agg(
        F.count(F.lit(1)).alias("n_days")
    )
    present_m = days.groupBy(month("day").alias("month")).agg(
        F.count(F.lit(1)).alias("n_present")
    )
    return (
        spine_m.join(present_m, "month", "left")
        .select(
            "month",
            F.col("n_days").cast("bigint").alias("n_days"),
            F.coalesce("n_present", F.lit(0)).cast("bigint").alias("n_present"),
            (F.col("n_days") - F.coalesce("n_present", F.lit(0)))
            .cast("bigint")
            .alias("n_missing"),
        )
        .orderBy("month")
    )


@query(
    "q113_window_ntile_percent_rank",
    oracle="""
    SELECT c_custkey,
           n_name AS nation,
           c_acctbal,
           NTILE(4) OVER w AS bal_quartile,
           ROUND(PERCENT_RANK() OVER w, 6) AS bal_pct_rank
    FROM customer JOIN nation ON c_nationkey = n_nationkey
    WINDOW w AS (PARTITION BY n_name ORDER BY c_acctbal, c_custkey)
    ORDER BY c_custkey
    """,
    tags=("window", "ntile", "rank"),
)
def q113_window_ntile_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Completes the ranking-window family: PERCENT_RANK (the one
    member q17's rank/dense_rank/cume_dist/ntile mix lacks) plus NTILE
    quartiles on a second grain (customers per nation; q17 ranks
    suppliers globally). The window orders by (value, key) so ties are
    broken identically in both engines — NTILE assigns by row position,
    so a non-unique ordering would be nondeterministic. PERCENT_RANK is
    the exact rational (rank-1)/(n-1), bit-identical cross-engine.

    Scale: one shuffle on the partition key; per-partition sort;
    nothing global. Same contract as every partitioned window: a
    nation's customers fit a task or the key needs sub-bucketing."""
    c = load(spark, sf_dir, "customer")
    n = load(spark, sf_dir, "nation")
    w = W.partitionBy("n_name").orderBy("c_acctbal", "c_custkey")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .select(
            "c_custkey",
            F.col("n_name").alias("nation"),
            "c_acctbal",
            F.ntile(4).over(w).alias("bal_quartile"),
            F.round(F.percent_rank().over(w), 6).alias("bal_pct_rank"),
        )
        .orderBy("c_custkey")
    )


@query(
    "q114_join_key_skew_diagnosis",
    oracle="""
    WITH g AS (SELECT o_custkey, COUNT(*) AS n FROM orders GROUP BY 1),
    m AS (SELECT MEDIAN(n) AS med FROM g)
    SELECT o_custkey,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(n / med, 6) AS ratio_vs_median
    FROM g, m
    ORDER BY n DESC, o_custkey LIMIT 10
    """,
    tags=("agg", "skew", "diagnosis"),
)
def q114_join_key_skew_diagnosis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnosis: per-key group sizes vs the median group
    size, top offenders first — the profiling step that decides whether
    a join needs `operators/skew.py::salted_join` (and how many salts:
    ceil(hot-key rows / target-partition rows)) before AQE's runtime
    skew split becomes the only line of defense.

    Scale: one map-side-combined count per key; the median reduces the
    KEY-cardinality table (not the fact table) and broadcasts back as a
    single row; top-10 plans as TakeOrderedAndProject."""
    o = load(spark, sf_dir, "orders")
    g = o.groupBy("o_custkey").agg(F.count(F.lit(1)).alias("n"))
    m = g.agg(F.expr("percentile(n, 0.5)").alias("med"))
    return (
        g.crossJoin(F.broadcast(m))
        .select(
            "o_custkey",
            F.col("n").cast("bigint").alias("n_orders"),
            F.round(F.col("n") / F.col("med"), 6).alias("ratio_vs_median"),
        )
        .orderBy(F.desc("n_orders"), F.asc("o_custkey"))
        .limit(10)
    )
