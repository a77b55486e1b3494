"""LLM-ops wave 14: merge-proof audits for distributed sketches,
entity-resolution blocking quality, graph mixing structure, forecast
backtesting, and conversion attribution — the tenth ring of
curation/analytics machinery around waves 1-13.

Output-hardening doctrine (as waves 6-13): BIGINT-cast integer
aggregates, sign-factored truncating division for every ppm ratio
(DuckDB `//` floors, Spark `div` truncates — identical only on
nonnegative operands, the q253 doctrine), identical-IEEE float
expressions on both sides where a float is unavoidable (q98
doctrine), and DECIMAL(38,0) intermediates wherever an int64 product
could overflow at scale.

Reference parity: the reference's single daily table
(dags/Final_app.py:79-149) becomes, at corpus scale, a table whose
summaries must be DISTRIBUTED — this wave proves the two sketch
merges the engine relies on (moments q275, histograms q278) are
exact under any partitioning, prices the candidate-generation
economics of record linkage over its key column (q274), and audits
the mixing structure of the near-dup graph every dedup pass builds
(q273).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates, minhash_signature_table
from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q273 — near-dup graph degree assortativity
# ---------------------------------------------------------------------------


@query(
    "q273_dup_graph_assortativity",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
    deg AS (
      SELECT doc_id, COUNT(*) AS d FROM (
        SELECT a AS doc_id FROM e UNION ALL SELECT b AS doc_id FROM e
      ) GROUP BY doc_id
    ),
    de AS (
      SELECT da.d AS x, db.d AS y
      FROM e JOIN deg da ON e.a = da.doc_id JOIN deg db ON e.b = db.doc_id
      UNION ALL
      SELECT db.d AS x, da.d AS y
      FROM e JOIN deg da ON e.a = da.doc_id JOIN deg db ON e.b = db.doc_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS m,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM de
    )
    SELECT CAST((SELECT COUNT(*) FROM deg) AS BIGINT) AS n_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS n_edges,
           CAST(CASE WHEN m * sxx - sx * sx = 0 THEN 0
                     WHEN m * sxy - sx * sx >= 0
                     THEN (1000000 * (m * sxy - sx * sx))
                          // (m * sxx - sx * sx)
                     ELSE -((1000000 * (sx * sx - m * sxy))
                            // (m * sxx - sx * sx))
                END AS BIGINT) AS assortativity_ppm
    FROM s
    """,
    tags=("llm", "dedup", "graph", "assortativity"),
)
def q273_dup_graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity of the verified near-dup graph: the
    Pearson correlation of endpoint degrees over directed edge
    orientations, in ppm. Positive = hub documents duplicate other
    hubs (boilerplate families — transitive clustering (q90) merges
    them cheaply); negative = hubs attach to leaves (star/template
    structure, where greedy pair-dropping (q186) over-removes leaves
    and the keep-policy choice (q272) decides what survives).
    Completes the graph family: degree (q160), triangles (q201),
    PageRank (q226), components (q250), k-core (q259), link
    prediction (q257) — this is the MIXING statistic over the same
    edge set.

    ENTIRELY integer arithmetic: with both orientations present the
    x/y marginals coincide, so r = (MΣxy−(Σx)²)/(MΣxx−(Σx)²) — a
    ratio of exact BIGINTs, scaled to ppm by truncating division on
    sign-factored operands (q253 doctrine). int64 bound: Σxy ≤
    M·max_deg² — safe through ~10^9 edges of max degree ~10^4;
    beyond that the sums move to DECIMAL(38,0) unchanged.

    Scale: edges come from the bucketed LSH self-join (q68 economics,
    never O(n²)); degree is one count over 8-byte ids; the two
    degree joins shuffle ids only; the final reduce is a four-
    accumulator scalar. The edge set feeds the degree count AND both
    joins, so it is localCheckpointed once (8-byte pairs; disk-backed
    lineage truncation — round-12 eviction-hardening, the
    q226/q250/q331 doctrine: with full lineage an eviction multiplies
    minhash recomputes across the three consumers)."""
    docs = load(spark, sf_dir, "documents")
    sig = minhash_signature_table(docs).persist()
    e = (
        minhash_near_duplicates(docs, jaccard_threshold=0.5, signatures=sig)
        .select(F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b"))
        .localCheckpoint(eager=True)
    )
    sig.unpersist()
    deg = (
        e.select(F.col("a").alias("doc_id"))
        .unionAll(e.select(F.col("b").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("d"))
    )
    da = deg.select(F.col("doc_id").alias("a"), F.col("d").alias("dx"))
    db = deg.select(F.col("doc_id").alias("b"), F.col("d").alias("dy"))
    ed = e.join(da, "a").join(db, "b")
    de = ed.select(F.col("dx").alias("x"), F.col("dy").alias("y")).unionAll(
        ed.select(F.col("dy").alias("x"), F.col("dx").alias("y"))
    )
    s = de.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = F.col("m") * F.col("sxy") - F.col("sx") * F.col("sx")
    den = F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx")
    r_ppm = (
        F.when(den == 0, F.lit(0))
        .when(
            num >= 0,
            F.expr("(1000000 * (m * sxy - sx * sx)) div (m * sxx - sx * sx)"),
        )
        .otherwise(
            -F.expr("(1000000 * (sx * sx - m * sxy)) div (m * sxx - sx * sx)")
        )
    )
    out = (
        s.crossJoin(F.broadcast(deg.agg(F.count(F.lit(1)).alias("n_nodes"))))
        .crossJoin(F.broadcast(e.agg(F.count(F.lit(1)).alias("n_edges"))))
        .select(
            F.col("n_nodes").cast("bigint").alias("n_nodes"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            r_ppm.cast("bigint").alias("assortativity_ppm"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q274 — entity-resolution blocking-key quality audit
# ---------------------------------------------------------------------------

_BLOCK_SCHEMES_SQL = """
      SELECT nm, 'prefix12' AS scheme, SUBSTR(nm, 1, 12) AS bkey FROM v
      UNION ALL
      SELECT nm, 'suffix3', SUBSTR(nm, LENGTH(nm) - 2, 3) FROM v
      UNION ALL
      SELECT nm, 'length', CAST(LENGTH(nm) AS VARCHAR) FROM v
"""


@query(
    "q274_blocking_key_quality",
    oracle=f"""
    WITH v AS (SELECT DISTINCT c_name AS nm FROM customer),
    keyed AS ({_BLOCK_SCHEMES_SQL}),
    blocks AS (
      SELECT scheme, bkey, COUNT(*) AS n
      FROM keyed GROUP BY scheme, bkey
    ),
    cand AS (
      SELECT scheme,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(n * (n - 1) // 2) AS BIGINT) AS n_candidate_pairs
      FROM blocks GROUP BY scheme
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nv FROM v
    ),
    sig AS (
      SELECT nm, nm AS sig FROM v
      UNION ALL
      SELECT nm,
             SUBSTR(nm, 1, CAST(i AS INTEGER) - 1)
               || SUBSTR(nm, CAST(i AS INTEGER) + 1,
                         LENGTH(nm) - CAST(i AS INTEGER)) AS sig
      FROM (SELECT nm, UNNEST(RANGE(1, LENGTH(nm) + 1)) AS i FROM v)
    ),
    truth AS (
      SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.nm < b.nm
      WHERE LEVENSHTEIN(a.nm, b.nm) = 1
    ),
    caught AS (
      SELECT k.scheme,
             CAST(COUNT(*) AS BIGINT) AS n_truth_pairs,
             CAST(SUM(CASE WHEN ka.bkey = kb.bkey THEN 1 ELSE 0 END)
                  AS BIGINT) AS n_caught
      FROM (SELECT DISTINCT scheme FROM keyed) k
      CROSS JOIN truth t
      JOIN keyed ka ON ka.scheme = k.scheme AND ka.nm = t.name_a
      JOIN keyed kb ON kb.scheme = k.scheme AND kb.nm = t.name_b
      GROUP BY k.scheme
    )
    SELECT cand.scheme,
           cand.n_blocks,
           cand.n_candidate_pairs,
           CAST((CAST(1000000 AS HUGEINT)
                 * (nv * (nv - 1) // 2 - n_candidate_pairs))
                // (nv * (nv - 1) // 2) AS BIGINT) AS reduction_ppm,
           caught.n_truth_pairs,
           caught.n_caught,
           CAST(CASE WHEN n_truth_pairs = 0 THEN 1000000
                     ELSE (1000000 * n_caught) // n_truth_pairs
                END AS BIGINT) AS recall_ppm
    FROM cand JOIN caught USING (scheme) CROSS JOIN tot
    ORDER BY cand.scheme
    """,
    tags=("llm", "dedup", "blocking", "entity-resolution"),
)
def q274_blocking_key_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocking-key quality for record linkage over customer names:
    per blocking scheme (12-char prefix, 3-char suffix, raw length),
    the two numbers every ER pipeline trades off — REDUCTION RATIO
    (candidate pairs avoided vs all-pairs, ppm) and PAIRS
    COMPLETENESS (recall of true edit-distance-1 pairs whose members
    share a block, ppm). The truth set is the deletion-neighborhood
    join's exact-recall output (q268); q139/q124 USE blocking keys —
    this is the audit that picks one.

    Scale: candidate counts come from block-SIZE aggregates
    (Σ n·(n−1)/2), never from materializing pairs; recall comes from
    key-equality checks on the (small) truth pairs — so the audit's
    cost is one groupBy per scheme plus the q268 machinery, even
    when the candidate space is quadratic. The all-pairs ppm
    numerator is computed in DECIMAL(38,0)/HUGEINT (10^6 · n²/2
    overflows int64 past ~1.4M names); truncating division on
    nonnegative operands (q253 doctrine)."""
    cust = (
        load(spark, sf_dir, "customer")
        .select(F.col("c_name").alias("nm"))
        .distinct()
    )
    keyed = cust.select(
        "nm",
        F.expr(
            "stack(3,"
            " 'prefix12', substring(nm, 1, 12),"
            " 'suffix3',  substring(nm, length(nm) - 2, 3),"
            " 'length',   cast(length(nm) AS string)"
            ") AS (scheme, bkey)"
        ),
    )
    blocks = keyed.groupBy("scheme", "bkey").agg(F.count(F.lit(1)).alias("n"))
    cand = blocks.groupBy("scheme").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        F.sum(F.expr("n * (n - 1) div 2")).cast("bigint").alias("n_candidate_pairs"),
    )
    nv = cust.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))

    # truth: exact-recall ed-1 pairs via deletion signatures (q268)
    dels = cust.select(
        "nm", F.explode(F.sequence(F.lit(1), F.length("nm"))).alias("i")
    ).select(
        "nm",
        F.expr(
            "concat(substring(nm, 1, i - 1),"
            " substring(nm, i + 1, length(nm) - i))"
        ).alias("sig"),
    )
    sig = cust.select("nm", F.col("nm").alias("sig")).unionByName(dels)
    truth = (
        sig.alias("a")
        .join(
            sig.alias("b"),
            (F.col("a.sig") == F.col("b.sig")) & (F.col("a.nm") < F.col("b.nm")),
        )
        .select(F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b"))
        .distinct()
        .filter(F.levenshtein("name_a", "name_b") == 1)
    )
    ka = keyed.select(
        "scheme",
        F.col("nm").alias("name_a"),
        F.col("bkey").alias("bkey_a"),
    )
    kb = keyed.select(
        "scheme",
        F.col("nm").alias("name_b"),
        F.col("bkey").alias("bkey_b"),
    )
    caught = (
        truth.join(ka, "name_a")
        .join(kb, ["scheme", "name_b"])
        .groupBy("scheme")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_truth_pairs"),
            F.sum(
                F.when(F.col("bkey_a") == F.col("bkey_b"), 1).otherwise(0)
            )
            .cast("bigint")
            .alias("n_caught"),
        )
    )
    return (
        cand.join(caught, "scheme")
        .crossJoin(F.broadcast(nv))
        .select(
            "scheme",
            "n_blocks",
            "n_candidate_pairs",
            F.expr(
                "CAST((CAST(1000000 AS DECIMAL(38,0))"
                " * (nv * (nv - 1) div 2 - n_candidate_pairs))"
                " div (nv * (nv - 1) div 2) AS BIGINT)"
            ).alias("reduction_ppm"),
            "n_truth_pairs",
            "n_caught",
            F.expr(
                "CAST(CASE WHEN n_truth_pairs = 0 THEN 1000000"
                " ELSE (1000000 * n_caught) div n_truth_pairs"
                " END AS BIGINT)"
            ).alias("recall_ppm"),
        )
        .orderBy("scheme")
    )


# ---------------------------------------------------------------------------
# q275 — mergeable-moments audit (shard-merged == direct)
# ---------------------------------------------------------------------------


@query(
    "q275_mergeable_moments_audit",
    oracle="""
    WITH base AS (
      SELECT o_orderkey % 16 AS shard,
             CAST(FLOOR(o_totalprice) AS BIGINT) AS d
      FROM orders
    ),
    per AS (
      SELECT shard, COUNT(*) AS n, SUM(d) AS s, SUM(d * d) AS ss
      FROM base GROUP BY shard
    ),
    merged AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_shards,
             CAST(SUM(n) AS BIGINT) AS merged_n,
             CAST(SUM(s) AS BIGINT) AS merged_sum,
             CAST(SUM(ss) AS BIGINT) AS merged_sumsq
      FROM per
    ),
    direct AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS direct_n,
             CAST(SUM(d) AS BIGINT) AS direct_sum,
             CAST(SUM(d * d) AS BIGINT) AS direct_sumsq
      FROM base
    )
    SELECT n_shards, direct_n, merged_n, direct_sum, merged_sum,
           direct_sumsq, merged_sumsq,
           CAST((CASE WHEN merged_n = direct_n THEN 0 ELSE 1 END)
                + (CASE WHEN merged_sum = direct_sum THEN 0 ELSE 1 END)
                + (CASE WHEN merged_sumsq = direct_sumsq THEN 0 ELSE 1 END)
                AS BIGINT) AS n_mismatch
    FROM merged CROSS JOIN direct
    """,
    tags=("audit", "sketch", "moments", "merge"),
)
def q275_mergeable_moments_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge proof for the (n, Σx, Σx²) moments sketch: per-shard
    moments over a 16-way key shard, MERGED by summation, must equal
    the DIRECT single-pass moments — the algebraic identity that
    makes mean/variance/stddev map-side combinable, stated as data.
    With IEEE doubles this audit FAILS (float sums are
    order-dependent); it holds here because the measure is an exact
    integer (FLOOR of the price — both engines floor the same
    double). This is the proof obligation behind every distributed
    AVG/STDDEV the engine ships (q27, q190, q234).

    Scale: both paths are map-side-combined aggregates; the merge
    path's shuffle carries 16 rows. int64 bound: Σd² ≤ n·(6·10^5)²
    — safe through ~2.5·10^7 orders per shard; past that the sums
    move to DECIMAL(38,0) unchanged (q266 escape hatch)."""
    o = load(spark, sf_dir, "orders")
    base = o.select(
        (F.col("o_orderkey") % 16).alias("shard"),
        F.floor("o_totalprice").cast("bigint").alias("d"),
    )
    per = base.groupBy("shard").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("d").alias("s"),
        F.sum(F.col("d") * F.col("d")).alias("ss"),
    )
    merged = per.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards"),
        F.sum("n").cast("bigint").alias("merged_n"),
        F.sum("s").cast("bigint").alias("merged_sum"),
        F.sum("ss").cast("bigint").alias("merged_sumsq"),
    )
    direct = base.agg(
        F.count(F.lit(1)).cast("bigint").alias("direct_n"),
        F.sum("d").cast("bigint").alias("direct_sum"),
        F.sum(F.col("d") * F.col("d")).cast("bigint").alias("direct_sumsq"),
    )
    return merged.crossJoin(F.broadcast(direct)).select(
        "n_shards",
        "direct_n",
        "merged_n",
        "direct_sum",
        "merged_sum",
        "direct_sumsq",
        "merged_sumsq",
        (
            F.when(F.col("merged_n") == F.col("direct_n"), 0).otherwise(1)
            + F.when(F.col("merged_sum") == F.col("direct_sum"), 0).otherwise(1)
            + F.when(F.col("merged_sumsq") == F.col("direct_sumsq"), 0).otherwise(
                1
            )
        )
        .cast("bigint")
        .alias("n_mismatch"),
    )


# ---------------------------------------------------------------------------
# q276 — naive-forecast backtest (persistence baseline MAE)
# ---------------------------------------------------------------------------


@query(
    "q276_naive_forecast_backtest",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    p AS (
      SELECT event_type, y,
             LAG(y) OVER (PARTITION BY event_type ORDER BY day) AS yhat
      FROM d
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(COUNT(yhat) AS BIGINT) AS n_preds,
           CAST(COALESCE(SUM(ABS(y - yhat)), 0) AS BIGINT) AS total_abs_err,
           CAST(CASE WHEN COUNT(yhat) = 0 THEN 0
                     ELSE (1000000 * SUM(ABS(y - yhat))) // COUNT(yhat)
                END AS BIGINT) AS mae_ppm
    FROM p GROUP BY event_type ORDER BY event_type
    """,
    tags=("streaming", "events", "forecast", "backtest"),
)
def q276_naive_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Persistence-forecast backtest per feed: predict today's event
    count with yesterday's observed count and report the mean
    absolute error in millionths of an event — the baseline every
    capacity forecast must beat before it earns compute (q253 fits
    the trend; q240 flags bursts; this prices PREDICTABILITY).
    ENTIRELY integer: counts are ints, |y − ŷ| is an int, and the
    MAE is a 10^6-scaled truncating division of nonnegative ints
    (q253 doctrine).

    Scale: days pre-aggregate map-side (events collapse to
    O(feeds × days) rows before any window); the LAG window is
    partitioned per feed over that daily table — never over raw
    events."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    w = W.partitionBy("event_type").orderBy("day")
    p = d.select(
        "event_type", "y", F.lag("y").over(w).alias("yhat")
    )
    err = F.abs(F.col("y") - F.col("yhat"))
    return (
        p.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.count("yhat").cast("bigint").alias("n_preds"),
            F.coalesce(F.sum(err), F.lit(0)).cast("bigint").alias("total_abs_err"),
            F.expr(
                "CAST(CASE WHEN count(yhat) = 0 THEN 0"
                " ELSE (1000000 * sum(abs(y - yhat))) div count(yhat)"
                " END AS BIGINT)"
            ).alias("mae_ppm"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q277 — conversion touch attribution (first- vs last-touch)
# ---------------------------------------------------------------------------


@query(
    "q277_touch_attribution",
    oracle="""
    WITH t AS (
      SELECT event_type, value,
             LAST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                        IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS last_touch,
             FIRST_VALUE(CASE WHEN event_type <> 'purchase' THEN event_type END
                         IGNORE NULLS)
               OVER (PARTITION BY user_id ORDER BY ts, event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS first_touch
      FROM events WHERE value IS NOT NULL
    ),
    conv AS (
      SELECT last_touch, first_touch,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM t
      WHERE event_type = 'purchase' AND last_touch IS NOT NULL
    )
    SELECT policy, touch_type,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           CAST(SUM(cents) AS BIGINT) AS attributed_cents
    FROM (
      SELECT 'first_touch' AS policy, first_touch AS touch_type, cents
      FROM conv
      UNION ALL
      SELECT 'last_touch', last_touch, cents FROM conv
    )
    GROUP BY policy, touch_type ORDER BY policy, touch_type
    """,
    tags=("events", "attribution", "window", "funnel"),
)
def q277_touch_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion attribution under the two canonical policies:
    each purchase's value is credited to the user's most recent
    preceding non-purchase event type (LAST-touch) and to the
    earliest one (FIRST-touch); the per-type totals quantify how
    much the policy choice alone moves budget between channels
    (q108 measures the funnel's shape; q200 the entry point; this
    allocates the MONEY). Purchases with no preceding non-purchase
    touch are excluded under both policies (identically on both
    engines); cents come from FLOOR(value·100) — one identical-IEEE
    product then an exact floor (q98 doctrine); value IS NOT NULL is
    filtered on both sides (q247 doctrine).

    Scale: one user-partitioned window pass computes BOTH touch
    columns; both policies then aggregate from the SAME conversion
    rows via a 2-way stack — the events table is read and shuffled
    once, and the aggregate input is |purchases| rows, not
    |events|."""
    ev = load(spark, sf_dir, "events").filter(F.col("value").isNotNull())
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, -1)
    )
    touch = F.when(F.col("event_type") != "purchase", F.col("event_type"))
    t = ev.select(
        "event_type",
        "value",
        F.last(touch, ignorenulls=True).over(w).alias("last_touch"),
        F.first(touch, ignorenulls=True).over(w).alias("first_touch"),
    )
    conv = t.filter(
        (F.col("event_type") == "purchase") & F.col("last_touch").isNotNull()
    ).select(
        "last_touch",
        "first_touch",
        F.floor(F.col("value") * 100).cast("bigint").alias("cents"),
    )
    return (
        conv.select(
            F.expr(
                "stack(2,"
                " 'first_touch', first_touch,"
                " 'last_touch',  last_touch"
                ") AS (policy, touch_type)"
            ),
            "cents",
        )
        .groupBy("policy", "touch_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_conversions"),
            F.sum("cents").cast("bigint").alias("attributed_cents"),
        )
        .orderBy("policy", "touch_type")
    )


# ---------------------------------------------------------------------------
# q278 — histogram merge audit (shard-merged == direct)
# ---------------------------------------------------------------------------


@query(
    "q278_histogram_merge_audit",
    oracle="""
    WITH s AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi
      FROM orders
    ),
    base AS (
      SELECT o_orderkey % 8 AS shard,
             LEAST(255, CAST(FLOOR((o_totalprice - lo)
                                   / ((hi - lo) / 256.0)) AS INTEGER)) AS bin
      FROM orders CROSS JOIN s
    ),
    per AS (
      SELECT shard, bin, COUNT(*) AS cnt FROM base GROUP BY shard, bin
    ),
    merged AS (
      SELECT bin, SUM(cnt) AS cnt FROM per GROUP BY bin
    ),
    direct AS (
      SELECT bin, COUNT(*) AS cnt FROM base GROUP BY bin
    )
    SELECT CAST((SELECT COUNT(*) FROM direct) AS BIGINT) AS n_bins_used,
           CAST((SELECT SUM(cnt) FROM direct) AS BIGINT) AS n_rows,
           CAST((SELECT COUNT(DISTINCT shard) FROM per) AS BIGINT) AS n_shards,
           CAST((SELECT COUNT(*)
                 FROM merged m FULL OUTER JOIN direct d USING (bin)
                 WHERE m.cnt IS DISTINCT FROM d.cnt) AS BIGINT) AS n_mismatch
    """,
    tags=("audit", "sketch", "histogram", "merge"),
)
def q278_histogram_merge_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge proof for the 256-bin histogram sketch (q267's
    estimator): 8 per-shard histograms, merged by per-bin summation,
    must equal the directly-computed global histogram — the property
    that lets every executor build its partition's histogram
    independently and a single reduce assemble the corpus summary.
    Bin edges are fixed by the broadcast global (lo, hi), and the
    bin index is the same IEEE subtract-divide-floor on both engines
    (q98 doctrine), so counts are exact integers and the mismatch
    count must be zero.

    Scale: both paths are map-side-combined aggregates over ≤
    8·256 and 256 groups; the audit's own compare is a 256-row full
    outer join. The 1-row stats broadcast to every shard — no
    second pass over the fact table to agree on edges."""
    o = load(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_totalprice").alias("lo"), F.max("o_totalprice").alias("hi")
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(256.0)
    base = o.crossJoin(F.broadcast(s)).select(
        (F.col("o_orderkey") % 8).alias("shard"),
        F.least(
            F.lit(255),
            F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
        ).alias("bin"),
    )
    per = base.groupBy("shard", "bin").agg(F.count(F.lit(1)).alias("cnt"))
    merged = per.groupBy("bin").agg(F.sum("cnt").alias("m_cnt"))
    direct = base.groupBy("bin").agg(F.count(F.lit(1)).alias("d_cnt"))
    cmpd = merged.join(direct, "bin", "full_outer")
    mism = cmpd.agg(
        F.sum(
            F.when(
                ~F.col("m_cnt").eqNullSafe(F.col("d_cnt")), 1
            ).otherwise(0)
        )
        .cast("bigint")
        .alias("n_mismatch")
    )
    stats = direct.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bins_used"),
        F.sum("d_cnt").cast("bigint").alias("n_rows"),
    )
    shards = per.select("shard").distinct().agg(
        F.count(F.lit(1)).cast("bigint").alias("n_shards")
    )
    return (
        stats.crossJoin(F.broadcast(shards))
        .crossJoin(F.broadcast(mism))
        .select("n_bins_used", "n_rows", "n_shards", "n_mismatch")
    )
