"""LLM-ops wave 16: capped budget allocation (water-filling),
leaderboard stability under resampling, mutual-information structure
of the event stream, dictionary-encoding storage planning, and
runtime-filter join pruning — the twelfth ring of curation/analytics
machinery around waves 1-15.

Output-hardening doctrine (as waves 6-15): BIGINT-cast integer
aggregates, sign-factored truncating division for every ppm ratio
(q253 doctrine), LN quantized to DECIMAL(18,6) per term before any
sum (q128/q244/q271 doctrine), and the wave-15 integer-threshold
Poisson weights for everything bootstrap-shaped.

Reference parity: the reference ingests one feed on one schedule
(dags/Final_app.py:79-149); at many-feed scale the scheduler must
split a crawl budget across feeds (q285), know whether its
"biggest feeds" list is signal or noise (q286), know when traffic
type is predictable from time of day (q287), and pick storage
encodings and join filters for the table it lands (q288, q289).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.text import tokens
from ..sources.tables import load
from .llm_ops14 import _pois_case
from .registry import query

# ---------------------------------------------------------------------------
# q285 — water-filling token budget allocation
# ---------------------------------------------------------------------------

_BUDGET = 1_000_000


@query(
    "q285_waterfill_token_allocation",
    oracle=f"""
    WITH a AS (
      SELECT source, CAST(SUM(LEN(STRING_SPLIT(text, ' '))) AS BIGINT) AS avail
      FROM documents GROUP BY source
    ),
    r AS (
      SELECT source, avail,
             ROW_NUMBER() OVER (ORDER BY avail, source) AS rk,
             SUM(avail) OVER (ORDER BY avail, source
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS s
      FROM a
    ),
    k AS (
      SELECT COUNT(*) AS n,
             COALESCE(MAX(CASE WHEN s + avail * (n0 - rk) <= {_BUDGET}
                          THEN rk END), 0) AS kstar,
             COALESCE(MAX(CASE WHEN s + avail * (n0 - rk) <= {_BUDGET}
                          THEN s END), 0) AS skstar
      FROM r CROSS JOIN (SELECT COUNT(*) AS n0 FROM a)
    ),
    th AS (
      SELECT n, kstar,
             CASE WHEN kstar >= n THEN NULL
                  ELSE ({_BUDGET} - skstar) // (n - kstar) END AS theta
      FROM k
    )
    SELECT a.source,
           a.avail AS available_tokens,
           CAST(CASE WHEN th.theta IS NULL THEN a.avail
                     ELSE LEAST(a.avail, th.theta) END AS BIGINT)
             AS allocated_tokens,
           CAST(CASE WHEN th.theta IS NOT NULL AND a.avail > th.theta
                     THEN 1 ELSE 0 END AS INT) AS capped
    FROM a CROSS JOIN th ORDER BY a.source
    """,
    tags=("llm", "mixture", "allocation", "planning"),
)
def q285_waterfill_token_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Water-filling allocation of a 1M-token budget across sources:
    every source gets min(available, θ) where the fill level θ is the
    unique threshold at which the budget is exhausted — the capped
    proportional allocation behind crawl budgets, per-feed sampling
    caps, and anti-domination mixture rules (q212 plans a UNIFORM
    target; this solves the CONSTRAINED one where small sources keep
    everything and the cap binds only the giants).

    The threshold comes from the sorted closed form, not iteration:
    with sources ascending by mass and prefix sums S_k, feasibility
    of level a_k (cost S_k + a_k·(n−k) ≤ T) is MONOTONE in k, so the
    largest feasible k fixes θ = (T − S_k) div (n−k) exactly —
    integer end to end, no floats, no loop. If the budget covers the
    corpus, θ is unbounded and every source is uncapped.

    Scale: sources collapse to one row each before the sort window
    (tens of rows — the q267/q281 bounded-window doctrine); the
    threshold is a 1-row broadcast back onto the per-source table."""
    docs = load(spark, sf_dir, "documents")
    a = (
        docs.select("source", F.size(tokens(F.col("text"))).alias("_t"))
        .groupBy("source")
        .agg(F.sum("_t").cast("bigint").alias("avail"))
    )
    # global-window-ok: source-grain: frame reduced to |sources| rows (tens)
    wr = W.orderBy("avail", "source")
    r = a.select(
        "source",
        "avail",
        F.row_number().over(wr).alias("rk"),
        F.sum("avail")
        .over(wr.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("s"),
    )
    n0 = a.agg(F.count(F.lit(1)).alias("n0"))
    feas = F.col("s") + F.col("avail") * (F.col("n0") - F.col("rk")) <= _BUDGET
    k = (
        r.crossJoin(F.broadcast(n0)).agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(F.max(F.when(feas, F.col("rk"))), F.lit(0)).alias("kstar"),
            F.coalesce(F.max(F.when(feas, F.col("s"))), F.lit(0)).alias("skstar"),
        )
    )
    th = k.select(
        "n",
        F.when(
            F.col("kstar") < F.col("n"),
            F.expr(f"({_BUDGET} - skstar) div (n - kstar)"),
        ).alias("theta"),
    )
    return (
        a.crossJoin(F.broadcast(th))
        .select(
            "source",
            F.col("avail").alias("available_tokens"),
            F.when(F.col("theta").isNull(), F.col("avail"))
            .otherwise(F.least(F.col("avail"), F.col("theta")))
            .cast("bigint")
            .alias("allocated_tokens"),
            F.when(
                F.col("theta").isNotNull() & (F.col("avail") > F.col("theta")), 1
            )
            .otherwise(0)
            .cast("int")
            .alias("capped"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q286 — leaderboard stability under Poisson resampling
# ---------------------------------------------------------------------------

_B = 32
_TOPK = 5


@query(
    "q286_ranking_stability_bootstrap",
    oracle=f"""
    WITH pt AS (
      SELECT b, source,
             {_pois_case("(CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)"
                         " || '_' || CAST(b AS VARCHAR)), 1, 8) AS BIGINT))")}
               AS w
      FROM documents CROSS JOIN (SELECT UNNEST(RANGE(0, {_B})) AS b)
    ),
    wc AS (
      SELECT b, source, SUM(w) AS n FROM pt GROUP BY b, source
    ),
    rk AS (
      SELECT b, source,
             ROW_NUMBER() OVER (PARTITION BY b
                                ORDER BY n DESC, source) AS rnk
      FROM wc
    )
    SELECT source,
           CAST(SUM(CASE WHEN rnk <= {_TOPK} THEN 1 ELSE 0 END) AS BIGINT)
             AS n_resamples_in_top{_TOPK},
           CAST(MIN(rnk) AS INT) AS best_rank,
           CAST(MAX(rnk) AS INT) AS worst_rank
    FROM rk GROUP BY source ORDER BY source
    """,
    tags=("audit", "bootstrap", "ranking", "stability"),
)
def q286_ranking_stability_bootstrap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Is the source leaderboard signal or noise? Under 32
    deterministic Poisson(1) resamples (the q279 weights), how often
    each source lands in the top-5 by document count, and the
    best/worst rank it ever takes. A source top-5 in all 32 resamples
    is a stable headline; one that drifts between rank 4 and 11 is a
    sampling artifact — the difference between re-negotiating an
    ingest contract and shrugging (q125 reports the point ranking;
    this prices its stability).

    Scale: the ×32 fan-out is map-side arithmetic into a
    (32 × sources)-group aggregate; ranking windows are partitioned
    per resample over source-count rows (tens each); everything
    downstream of the one corpus scan is bounded by 32·|sources|."""
    docs = load(spark, sf_dir, "documents")
    pt = docs.select(
        "source",
        F.explode(F.sequence(F.lit(0), F.lit(_B - 1))).alias("b"),
        "doc_id",
    ).select(
        "b",
        "source",
        F.expr(
            _pois_case(
                "CAST(CONV(SUBSTRING(MD5(CONCAT(CAST(doc_id AS STRING),"
                " '_', CAST(b AS STRING))), 1, 8), 16, 10) AS BIGINT)"
            )
        ).alias("w"),
    )
    wc = pt.groupBy("b", "source").agg(F.sum("w").alias("n"))
    rk = wc.select(
        "b",
        "source",
        F.row_number()
        .over(W.partitionBy("b").orderBy(F.desc("n"), "source"))
        .alias("rnk"),
    )
    return (
        rk.groupBy("source")
        .agg(
            F.sum(F.when(F.col("rnk") <= _TOPK, 1).otherwise(0))
            .cast("bigint")
            .alias(f"n_resamples_in_top{_TOPK}"),
            F.min("rnk").cast("int").alias("best_rank"),
            F.max("rnk").cast("int").alias("worst_rank"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q287 — mutual information of event type and hour of day
# ---------------------------------------------------------------------------


@query(
    "q287_type_hour_mutual_information",
    oracle="""
    WITH th AS (
      SELECT event_type, EXTRACT(HOUR FROM ts) AS hr, COUNT(*) AS n_th
      FROM events GROUP BY event_type, EXTRACT(HOUR FROM ts)
    ),
    mt AS (SELECT event_type, SUM(n_th) AS n_t FROM th GROUP BY event_type),
    mh AS (SELECT hr, SUM(n_th) AS n_h FROM th GROUP BY hr),
    tot AS (SELECT SUM(n_th) AS big_n FROM th),
    mi AS (
      SELECT SUM(th.n_th * CAST(LN(CAST(th.n_th * tot.big_n AS DOUBLE)
                                   / CAST(mt.n_t * mh.n_h AS DOUBLE))
                                AS DECIMAL(18,6))) AS s_mi
      FROM th JOIN mt USING (event_type) JOIN mh USING (hr), tot
    ),
    ht AS (
      SELECT SUM(n_t * CAST(LN(CAST(tot.big_n AS DOUBLE)
                               / CAST(n_t AS DOUBLE))
                            AS DECIMAL(18,6))) AS s_ht
      FROM mt, tot
    ),
    hh AS (
      SELECT SUM(n_h * CAST(LN(CAST(tot.big_n AS DOUBLE)
                               / CAST(n_h AS DOUBLE))
                            AS DECIMAL(18,6))) AS s_hh
      FROM mh, tot
    )
    SELECT CAST(tot.big_n AS BIGINT) AS n_events,
           ROUND(CAST(ht.s_ht AS DOUBLE) / tot.big_n, 6) AS h_type_nats,
           ROUND(CAST(hh.s_hh AS DOUBLE) / tot.big_n, 6) AS h_hour_nats,
           ROUND(CAST(mi.s_mi AS DOUBLE) / tot.big_n, 6) AS mi_nats
    FROM tot, mi, ht, hh
    """,
    tags=("streaming", "events", "entropy", "information"),
)
def q287_type_hour_mutual_information(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How much does time of day say about WHAT arrives? Mutual
    information I(type; hour) in nats beside the two marginal
    entropies — near zero means one autoscaling policy fits all
    hours; a large fraction of H(type) means the mix is
    time-predictable and per-hour routing/capacity splits pay for
    themselves (q180 draws the per-type diurnal curves; q254 scores
    day-of-week volume seasonality; this is the one-number
    type-vs-time dependence). Each LN is quantized to DECIMAL(18,6)
    before the integer-weighted decimal sum (q271 doctrine) so the
    result is order-independent and engine-exact; LN arguments are
    single double divisions of exact int64 products.

    Scale: ONE (type × hour)-grouped aggregate (≤ |types|·24 rows)
    feeds everything — marginals, total, and all three information
    terms are arithmetic over that tiny table, so the audit costs
    one map-side-combined pass regardless of stream size. The
    contingency table is persisted: its four consumers would
    otherwise re-run the events scan."""
    ev = load(spark, sf_dir, "events")
    th = (
        ev.select("event_type", F.hour("ts").alias("hr"))
        .groupBy("event_type", "hr")
        .agg(F.count(F.lit(1)).alias("n_th"))
        .persist()
    )
    mt = th.groupBy("event_type").agg(F.sum("n_th").alias("n_t"))
    mh = th.groupBy("hr").agg(F.sum("n_th").alias("n_h"))
    tot = th.agg(F.sum("n_th").alias("big_n"))
    mi = (
        th.join(F.broadcast(mt), "event_type")
        .join(F.broadcast(mh), "hr")
        .crossJoin(F.broadcast(tot))
        .agg(
            F.sum(
                F.col("n_th")
                * F.log(
                    (F.col("n_th") * F.col("big_n")).cast("double")
                    / (F.col("n_t") * F.col("n_h")).cast("double")
                ).cast("decimal(18,6)")
            ).alias("s_mi")
        )
    )
    ht = mt.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n_t")
            * F.log(
                F.col("big_n").cast("double") / F.col("n_t").cast("double")
            ).cast("decimal(18,6)")
        ).alias("s_ht")
    )
    hh = mh.crossJoin(F.broadcast(tot)).agg(
        F.sum(
            F.col("n_h")
            * F.log(
                F.col("big_n").cast("double") / F.col("n_h").cast("double")
            ).cast("decimal(18,6)")
        ).alias("s_hh")
    )
    out = (
        tot.crossJoin(F.broadcast(mi))
        .crossJoin(F.broadcast(ht))
        .crossJoin(F.broadcast(hh))
        .select(
            F.col("big_n").cast("bigint").alias("n_events"),
            F.round(F.col("s_ht").cast("double") / F.col("big_n"), 6).alias(
                "h_type_nats"
            ),
            F.round(F.col("s_hh").cast("double") / F.col("big_n"), 6).alias(
                "h_hour_nats"
            ),
            F.round(F.col("s_mi").cast("double") / F.col("big_n"), 6).alias(
                "mi_nats"
            ),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q288 — dictionary-encoding benefit audit
# ---------------------------------------------------------------------------

_DICT_CANDIDATES = (
    ("documents", "source"),
    ("documents", "lang"),
    ("orders", "o_orderstatus"),
    ("orders", "o_orderpriority"),
    ("customer", "c_mktsegment"),
    ("customer", "c_name"),
    ("events", "event_type"),
)


def _dict_oracle() -> str:
    parts = []
    for tbl, col in _DICT_CANDIDATES:
        parts.append(f"""
      SELECT '{tbl}' AS table_name, '{col}' AS column_name,
             CAST(SUM(c) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_distinct,
             CAST(SUM(c * LENGTH(v)) AS BIGINT) AS raw_bytes,
             CAST(SUM(LENGTH(v)) + 2 * SUM(c) AS BIGINT) AS dict_bytes,
             CAST(CASE
               WHEN SUM(c * LENGTH(v)) - (SUM(LENGTH(v)) + 2 * SUM(c)) >= 0
               THEN (1000000 * (SUM(c * LENGTH(v))
                                - (SUM(LENGTH(v)) + 2 * SUM(c))))
                    // SUM(c * LENGTH(v))
               ELSE -((1000000 * ((SUM(LENGTH(v)) + 2 * SUM(c))
                                  - SUM(c * LENGTH(v))))
                      // SUM(c * LENGTH(v)))
             END AS BIGINT) AS benefit_ppm
      FROM (SELECT {col} AS v, COUNT(*) AS c FROM {tbl} GROUP BY {col})""")
    return (
        "SELECT * FROM (" + " UNION ALL ".join(parts) + ")\n"
        "    ORDER BY table_name, column_name"
    )


@query(
    "q288_dictionary_encoding_benefit",
    oracle=_dict_oracle(),
    tags=("audit", "storage", "encoding", "planning"),
)
def q288_dictionary_encoding_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Storage planning for string columns: per candidate column, the
    bytes a dictionary encoding would store (one copy of each
    distinct value + a 2-byte code per row) against the raw
    byte mass, signed benefit in ppm. Multi-char low-cardinality
    columns (priority, segment, type, source) win big; the two
    deliberate counterexamples both lose — c_name because it is
    near-unique (the dictionary stores everything twice), and
    o_orderstatus because its values are ONE char (the 2-byte code
    costs more than the value it replaces) — which is why encoders
    must measure, not assume (q228 plans partition layout; this
    plans the encoding inside the files).

    Scale (r13 rewrite): ONE scan per TABLE, not per column — the
    multi-column tables aggregate all their candidate columns in a
    single pass via GROUPING SETS ((colA),(colB)) (Expand doubles rows
    map-side, the partial aggregation collapses them to distinct
    values per column before the one exchange), where the previous
    shape re-scanned the table once per candidate column (7 scans
    over 4 tables; at 100 TB the 3 redundant full-table scans ARE the
    bill). The second-level per-column aggregate runs over
    distinct-value counts only; the sign-factored truncating division
    (q253 doctrine) keeps the signed ppm exact on both engines.
    Output is identical to the per-column form — the oracle is
    unchanged."""
    by_table: dict[str, list[str]] = {}
    for tbl, col in _DICT_CANDIDATES:
        by_table.setdefault(tbl, []).append(col)

    raw = F.sum(F.col("c") * F.length("v"))
    dictb = F.sum(F.length("v")) + 2 * F.sum("c")
    ppm_pos = (
        "(1000000 * (SUM(c * LENGTH(v)) - (SUM(LENGTH(v)) + 2 * SUM(c))))"
        " div SUM(c * LENGTH(v))"
    )
    ppm_neg = (
        "(1000000 * ((SUM(LENGTH(v)) + 2 * SUM(c)) - SUM(c * LENGTH(v))))"
        " div SUM(c * LENGTH(v))"
    )

    rows = []
    for tbl, cols in by_table.items():
        t = load(spark, sf_dir, tbl)
        if len(cols) == 1:
            g = (
                t.groupBy(F.col(cols[0]).alias("v"))
                .agg(F.count(F.lit(1)).alias("c"))
                .select(F.lit(cols[0]).alias("column_name"), "v", "c")
            )
        else:
            t.createOrReplaceTempView(f"_dict_{tbl}")
            sets = ", ".join(f"({c})" for c in cols)
            branches = " ".join(
                f"WHEN GROUPING({c}) = 0 THEN '{c}'" for c in cols
            )
            vals = " ".join(f"WHEN GROUPING({c}) = 0 THEN {c}" for c in cols)
            g = spark.sql(
                f"""
                SELECT CASE {branches} END AS column_name,
                       CASE {vals} END AS v,
                       COUNT(*) AS c
                FROM _dict_{tbl}
                GROUP BY GROUPING SETS ({sets})
                """
            )
            # The view is resolved into g's analyzed plan at the
            # spark.sql call above; drop it immediately so nothing
            # session-global leaks into the shared bench/correctness
            # session (ADVICE r13).
            spark.catalog.dropTempView(f"_dict_{tbl}")
        rows.append(
            g.groupBy("column_name")
            .agg(
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_distinct"),
                raw.cast("bigint").alias("raw_bytes"),
                dictb.cast("bigint").alias("dict_bytes"),
                F.when(raw - dictb >= 0, F.expr(ppm_pos))
                .otherwise(-F.expr(ppm_neg))
                .cast("bigint")
                .alias("benefit_ppm"),
            )
            .select(
                F.lit(tbl).alias("table_name"),
                "column_name",
                "n_rows",
                "n_distinct",
                "raw_bytes",
                "dict_bytes",
                "benefit_ppm",
            )
        )
    out = rows[0]
    for r in rows[1:]:
        out = out.unionByName(r)
    return out.orderBy("table_name", "column_name")


# ---------------------------------------------------------------------------
# q289 — runtime-filter (DPP/Bloom) join pruning benefit
# ---------------------------------------------------------------------------


@query(
    "q289_runtime_filter_benefit",
    oracle="""
    WITH f AS (
      SELECT o_orderkey FROM orders
      WHERE o_orderdate >= DATE '1996-01-01'
        AND o_orderdate <  DATE '1996-04-01'
    ),
    m AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_matching
      FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM f)
    ),
    t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_lineitems FROM lineitem),
    nf AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_filtered_orders FROM f)
    SELECT t.n_lineitems, nf.n_filtered_orders, m.n_matching
             AS n_matching_lineitems,
           CAST((1000000 * (t.n_lineitems - m.n_matching))
                // t.n_lineitems AS BIGINT) AS skippable_ppm
    FROM t, nf, m
    """,
    tags=("audit", "join", "pruning", "planning"),
)
def q289_runtime_filter_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What a runtime filter is worth: for a one-quarter order
    window, the fraction of lineitem rows (ppm) a dynamically-built
    key filter would let the scan SKIP before the join — the number
    that decides whether Bloom-filter join pushdown / dynamic
    partition pruning earns its build cost on this key (q219
    diagnoses key skew, q227 join cardinality; this prices the
    PRUNING). 999,000+ ppm skippable means the probe side is almost
    entirely wasted IO without the filter.

    Scale: the filtered key set is a dimension-sized semi-join
    (8-byte keys, broadcastable at a quarter's selectivity); the
    probe side never shuffles — a LEFT SEMI count per side of the
    ratio. In production the same measurement comes free from
    `spark.sql.optimizer.runtime.bloomFilter.enabled` metrics; this
    query is the engine-independent oracle of that benefit."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    f = o.filter(
        (F.col("o_orderdate") >= "1996-01-01")
        & (F.col("o_orderdate") < "1996-04-01")
    ).select("o_orderkey")
    m = (
        li.join(
            F.broadcast(f), li["l_orderkey"] == f["o_orderkey"], "left_semi"
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_matching_lineitems"))
    )
    t = li.agg(F.count(F.lit(1)).cast("bigint").alias("n_lineitems"))
    nf = f.agg(F.count(F.lit(1)).cast("bigint").alias("n_filtered_orders"))
    return (
        t.crossJoin(F.broadcast(nf))
        .crossJoin(F.broadcast(m))
        .select(
            "n_lineitems",
            "n_filtered_orders",
            "n_matching_lineitems",
            F.expr(
                "CAST((1000000 * (n_lineitems - n_matching_lineitems))"
                " div n_lineitems AS BIGINT)"
            ).alias("skippable_ppm"),
        )
    )
