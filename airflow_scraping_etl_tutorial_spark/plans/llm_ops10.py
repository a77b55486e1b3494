"""LLM-ops wave 11 (promoted into the driver contract in round 7): market-data
candles, behavioral streaks, embedding-truncation audits, graph
components, session depth, and operational SLA percentiles — the
seventh ring of curation/analytics machinery around waves 1-10.

Output-hardening doctrine (as waves 6-10): BIGINT-cast integer
aggregates, exact integer-rank selection instead of interpolated
percentiles, raw stored doubles only (never derived-float
accumulation), min_by/max_by with a unique tiebreak for first/last
selection, and LEAST/MIN label arithmetic for graph iteration —
q248/q250/q252 are INTEGER-ONLY; q247/q249 emit raw data values and
integer overlaps.

Reference parity: the reference scrapes a daily MARKET feed (TWSE
investment flows — dags/Final_app.py:26-36) and stores one row per
day; q247's OHLC candles are exactly the aggregate a market pipeline
builds when the feed is intraday, q248/q251 profile the user activity
its events table implies, and q252 is the operational-SLA readout of
the orders its TPC-H twin tracks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..functions.compare import det_round
from ..sources.tables import load
from .llm_ops import _sql_cosine, _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q247 — daily OHLC candles
# ---------------------------------------------------------------------------


@query(
    "q247_ohlc_daily_candles",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, value, event_id
      FROM events WHERE value IS NOT NULL
    )
    SELECT event_type, day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           MIN_BY(value, event_id) AS open_value,
           MAX(value) AS high_value,
           MIN(value) AS low_value,
           MAX_BY(value, event_id) AS close_value
    FROM d GROUP BY event_type, day ORDER BY event_type, day
    """,
    tags=("streaming", "events", "ohlc", "finance"),
)
def q247_ohlc_daily_candles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC candlesticks per event type — the aggregate a market
    pipeline builds from an intraday feed (the reference's TWSE flow
    table IS the one-row-per-day form of this; dags/Final_app.py:26-36).
    open/close are min_by/max_by on the unique event_id (never a
    timestamp that could tie), high/low are plain MIN/MAX, and every
    output is a RAW stored value — no derived-float arithmetic exists
    to diverge. One map-side-combined aggregate over (type × day);
    at 100 TB this is the canonical pre-aggregation that makes every
    downstream chart O(days), and min_by/max_by combine per-partition
    partials exactly like MIN/MAX. Both sides filter value IS NOT NULL
    first: when value is NULL at the extremal event_id, DuckDB's
    MIN_BY/MAX_BY skip the NULL-arg row while Spark's return the NULL
    — the filter removes the divergence class entirely (round-6
    ADVICE; fixtures are null-free, so results are unchanged)."""
    ev = load(spark, sf_dir, "events")
    d = ev.filter(F.col("value").isNotNull()).select(
        "event_type", F.to_date("ts").alias("day"), "value", "event_id"
    )
    return (
        d.groupBy("event_type", "day")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.min_by("value", "event_id").alias("open_value"),
            F.max("value").alias("high_value"),
            F.min("value").alias("low_value"),
            F.max_by("value", "event_id").alias("close_value"),
        )
        .orderBy("event_type", "day")
    )


# ---------------------------------------------------------------------------
# q248 — activity streaks (gaps and islands)
# ---------------------------------------------------------------------------


@query(
    "q248_activity_streaks",
    oracle="""
    WITH ud AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
    g AS (
      SELECT user_id, day,
             DATE_DIFF('day', DATE '2024-01-01', day)
               - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day) AS grp
      FROM ud
    ),
    s AS (SELECT user_id, grp, COUNT(*) AS len FROM g GROUP BY user_id, grp),
    mx AS (SELECT user_id, MAX(len) AS max_streak FROM s GROUP BY user_id)
    SELECT CAST(max_streak AS BIGINT) AS streak_days,
           CAST(COUNT(*) AS BIGINT) AS n_users
    FROM mx GROUP BY max_streak ORDER BY streak_days
    """,
    tags=("streaming", "events", "streaks", "islands"),
)
def q248_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user, histogrammed —
    the gaps-and-islands shape (day-number minus row-number is
    constant within an island) that powers engagement/retention
    scoring, done entirely in integer arithmetic: dates become day
    offsets from a fixed anchor, islands are integer group keys, and
    the histogram collapses to at most max-streak rows. One user-keyed
    shuffle (shared with every other per-user window in the family);
    the distinct (user, day) collapse happens map-side first."""
    ev = load(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    w = W.partitionBy("user_id").orderBy("day")
    g = ud.select(
        "user_id",
        (F.datediff(F.col("day"), F.lit("2024-01-01")) - F.row_number().over(w)).alias(
            "grp"
        ),
    )
    s = g.groupBy("user_id", "grp").agg(F.count(F.lit(1)).alias("len"))
    mx = s.groupBy("user_id").agg(F.max("len").alias("max_streak"))
    return (
        mx.groupBy("max_streak")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            F.col("max_streak").cast("bigint").alias("streak_days"),
            F.col("n_users").cast("bigint").alias("n_users"),
        )
        .orderBy("streak_days")
    )


# ---------------------------------------------------------------------------
# q249 — Matryoshka truncation audit (16-dim vs 64-dim recall@10)
# ---------------------------------------------------------------------------

_MRL_QUERIES = (0, 1, 2, 3, 4)
_MRL_DIM = 16


@query(
    "q249_matryoshka_truncation_audit",
    oracle=f"""
    WITH q AS (
      SELECT vec_id AS qid, embedding AS qe FROM embeddings
      WHERE vec_id IN {_MRL_QUERIES!r}
    ),
    fr AS (
      SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY {_sql_cosine('e.embedding', 'q.qe', 64)} DESC, e.vec_id)
               AS rn
      FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    tr AS (
      SELECT q.qid, e.vec_id,
             ROW_NUMBER() OVER (
               PARTITION BY q.qid
               ORDER BY {_sql_cosine('e.embedding', 'q.qe', _MRL_DIM)} DESC,
                        e.vec_id) AS rn
      FROM embeddings e JOIN q ON e.vec_id <> q.qid
    ),
    f10 AS (SELECT qid, vec_id FROM fr WHERE rn <= 10),
    t10 AS (SELECT qid, vec_id FROM tr WHERE rn <= 10)
    SELECT f.qid AS query_id,
           CAST(COUNT(t.vec_id) AS BIGINT) AS n_common_at_10
    FROM f10 f
    LEFT JOIN t10 t ON t.qid = f.qid AND t.vec_id = f.vec_id
    GROUP BY f.qid ORDER BY f.qid
    """,
    tags=("llm", "similarity", "matryoshka", "audit"),
)
def q249_matryoshka_truncation_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: for each of five fixed query
    vectors, how many of the exact top-10 cosine neighbors at the full
    64 dims survive when vectors are truncated to their first 16
    components — the measurement behind the modern
    store-short-rerank-long retrieval layout (truncate for the scan,
    full-dim only for the survivors). Both rankings use the exact
    left-associated dot fold (bit-identical doubles, q71 doctrine)
    with a vec_id tiebreak; the overlap is an integer LEFT-JOIN count.

    Scale: the query side (5 vectors) broadcasts; the corpus streams
    through two map-stage scores per row (16-dim costs a quarter of
    the full fold) and per-query top-10 selection is partial-top-k.
    A low n_common_at_10 kills the truncation plan BEFORE a 100 TB
    index is built at the short width."""
    from ..operators.similarity import cosine

    emb = load(spark, sf_dir, "embeddings")
    q = (
        emb.filter(F.col("vec_id").isin(*_MRL_QUERIES))
        .select(F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
    )
    j = emb.join(F.broadcast(q), emb.vec_id != F.col("qid")).select(
        "qid", "vec_id", "embedding", "qe"
    )
    wf = W.partitionBy("qid").orderBy(
        F.desc(cosine(F.col("embedding"), F.col("qe"))), "vec_id"
    )
    wt = W.partitionBy("qid").orderBy(
        F.desc(
            cosine(
                F.slice(F.col("embedding"), 1, _MRL_DIM),
                F.slice(F.col("qe"), 1, _MRL_DIM),
            )
        ),
        "vec_id",
    )
    f10 = (
        j.select("qid", "vec_id", F.row_number().over(wf).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("qid", "vec_id")
    )
    t10 = (
        j.select("qid", "vec_id", F.row_number().over(wt).alias("rn"))
        .filter(F.col("rn") <= 10)
        .select("qid", F.col("vec_id").alias("tvec"))
    )
    return (
        f10.join(
            t10,
            (f10.qid == t10.qid) & (f10.vec_id == t10.tvec),
            "left",
        )
        .groupBy(f10.qid.alias("query_id"))
        .agg(F.count(t10.tvec).cast("bigint").alias("n_common_at_10"))
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q250 — connected components by min-label propagation
# ---------------------------------------------------------------------------


def _sql_minlabel_iter(prev: str, out: str) -> str:
    """One min-label iteration: every node takes the minimum of its own
    label and its neighbors' labels — pure integer MIN/LEAST, so the
    iteration is bit-exact under any partitioning (the q226 fixed-point
    argument, with MIN instead of fixed-point sums)."""
    return f"""
    {out} AS (
      SELECT l.node, LEAST(l.lbl, MIN(p.lbl)) AS lbl
      FROM {prev} l
      JOIN e ON e.d = l.node
      JOIN {prev} p ON p.node = e.s
      GROUP BY l.node, l.lbl
    )"""


@query(
    "q250_connected_components_minlabel",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
      UNION ALL
      SELECT doc_id_b AS s, doc_id_a AS d FROM pairs
    ),
    l0 AS (SELECT DISTINCT s AS node, s AS lbl FROM e),
    {_sql_minlabel_iter("l0", "l1")},
    {_sql_minlabel_iter("l1", "l2")}
    SELECT CAST(lbl AS BIGINT) AS component,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM l2 GROUP BY lbl ORDER BY n_docs DESC, component LIMIT 20
    """,
    tags=("llm", "graph", "components", "dedup"),
)
def q250_connected_components_minlabel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over the verified near-duplicate graph by
    two unrolled min-label propagation rounds — the oracle-replayable
    fixed-iteration core of q90's converge-to-fixpoint operator
    (operators/cluster.py iterates with a driver-side convergence
    scalar; this entry freezes the iteration count so DuckDB can
    replay it value-for-value). Labels are doc_ids, propagation is
    MIN over neighbors — integer, associative, bit-exact under any
    shuffle. Round 1 fuses to a single LEAST/MIN aggregate (identity
    labels need no join, and its output doubles as the node list);
    round 2 is one id-keyed join + one MIN (self-loop edges fold each
    node's own round-1 label into the neighbor MIN, so no second
    label join); only (node, label) pairs move. At 100 TB this
    is the large-star/small-star economics:
    rounds are O(diameter), and dup-graph diameters are tiny because
    near-dup clusters are cliques-ish."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates, minhash_signature_table

    # sym is localCheckpointed (disk-backed, lineage-TRUNCATED) rather
    # than persist()ed: it is read by two downstream consumers, and
    # with full lineage retained a memory-pressure eviction turns those
    # reads into full minhash-pipeline recomputes (the round-11
    # driver-box signature). Checkpointed, the degraded mode is a
    # local-disk re-read — linear, not multiplicative
    # (operators/cluster.py doctrine).
    sig = minhash_signature_table(docs).persist()
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5, signatures=sig)
    sym = pairs.select(
        F.col("doc_id_a").alias("s"), F.col("doc_id_b").alias("d")
    ).unionAll(
        pairs.select(F.col("doc_id_b").alias("s"), F.col("doc_id_a").alias("d"))
    ).localCheckpoint(eager=True)
    # lineage is truncated: the signature cache can be dropped now
    sig.unpersist()
    # round 1 fused: labels start as the identity, so
    # l1(u) = LEAST(u, MIN(neighbors)) is ONE aggregate — no label
    # join, no separate node-list distinct (l1 IS the node list)
    # lbl1 is NOT checkpointed any more: at sf0.1 the eager
    # barrier cost more than recomputing the aggregate — interleaved
    # A/B clean-rep minimums 1.617 s (checkpoint) vs 1.437 s (plain)
    # vs 1.682 s (persist) at sf0.1/32 cores.
    lbl1 = sym.groupBy(F.col("d").alias("node")).agg(
        F.least(F.min("s"), F.col("d")).alias("lbl")
    )
    # round 2 with the self-loop trick: appending (u, u) edges folds
    # each node's own l1 into the neighbor MIN, so the round is ONE
    # join + ONE aggregate instead of two joins + LEAST
    e2 = sym.unionByName(
        lbl1.select(F.col("node").alias("s"), F.col("node").alias("d"))
    )
    lbl = (
        e2.join(
            lbl1.select(F.col("node").alias("s"), F.col("lbl").alias("nl")), "s"
        )
        .groupBy(F.col("d").alias("node"))
        .agg(F.min("nl").alias("lbl"))
    )
    return (
        lbl.groupBy("lbl")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .select(
            F.col("lbl").cast("bigint").alias("component"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
        )
        .orderBy(F.desc("n_docs"), "component")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q251 — session depth profile
# ---------------------------------------------------------------------------


@query(
    "q251_session_depth_profile",
    oracle="""
    WITH ordered AS (
      SELECT user_id, ts, event_id,
             LAG(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_ts
      FROM events
    ),
    flagged AS (
      SELECT user_id, ts, event_id,
             CASE WHEN prev_ts IS NULL
                       OR ts - prev_ts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END
               AS new_session
      FROM ordered
    ),
    sessions AS (
      SELECT user_id,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                    ROWS UNBOUNDED PRECEDING) AS session_id
      FROM flagged
    ),
    per_session AS (
      SELECT user_id, session_id, COUNT(*) AS depth
      FROM sessions GROUP BY 1, 2
    ),
    tot AS (SELECT COUNT(*) AS n FROM per_session)
    SELECT CAST(p.depth AS BIGINT) AS session_depth,
           CAST(COUNT(*) AS BIGINT) AS n_sessions,
           (CAST(FLOOR((CAST(COUNT(*) AS DOUBLE) / CAST(t.n AS DOUBLE)) * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT) / CAST(1000000 AS DOUBLE)) AS share
    FROM per_session p CROSS JOIN tot t
    GROUP BY p.depth, t.n ORDER BY session_depth
    """,
    tags=("streaming", "session", "bounce", "profile"),
)
def q251_session_depth_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session depth histogram over the q82 sessionization (30-minute
    gap): how many sessions contain 1, 2, ... events — depth 1 IS the
    bounce rate, and the tail shape sizes per-session state for the
    streaming form (streaming/events.py::session_counts). Same single
    user-keyed shuffle as q82 (lag → gap flag → running-sum ids); the
    histogram and its single share division collapse the result to
    max-depth rows."""
    e = load(spark, sf_dir, "events")
    w_order = W.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = e.select(
        "user_id",
        "ts",
        "event_id",
        F.when(
            F.lag("ts").over(w_order).isNull()
            | (
                F.unix_micros("ts") - F.unix_micros(F.lag("ts").over(w_order))
                >= 30 * 60 * 1_000_000
            ),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sessions = flagged.select(
        "user_id",
        F.sum("new_session")
        .over(w_order.rowsBetween(W.unboundedPreceding, W.currentRow))
        .alias("session_id"),
    )
    per_session = sessions.groupBy("user_id", "session_id").agg(
        F.count(F.lit(1)).alias("depth")
    )
    tot = per_session.agg(F.count(F.lit(1)).alias("n"))
    return (
        per_session.crossJoin(F.broadcast(tot))
        .groupBy("depth", "n")
        .agg(F.count(F.lit(1)).alias("n_sessions"))
        .select(
            F.col("depth").cast("bigint").alias("session_depth"),
            F.col("n_sessions").cast("bigint").alias("n_sessions"),
            det_round(
                F.col("n_sessions").cast("double") / F.col("n").cast("double"), 6
            ).alias("share"),
        )
        .orderBy("session_depth")
    )


# ---------------------------------------------------------------------------
# q252 — shipping SLA percentiles (exact integer-rank selection)
# ---------------------------------------------------------------------------


@query(
    "q252_shipping_sla_percentiles",
    oracle="""
    WITH d AS (
      SELECT o.o_orderpriority AS priority,
             DATE_DIFF('day', o.o_orderdate, l.l_shipdate) AS delay,
             l.l_orderkey, l.l_linenumber
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    r AS (
      SELECT priority, delay,
             ROW_NUMBER() OVER (PARTITION BY priority
                                ORDER BY delay, l_orderkey, l_linenumber) AS rn,
             COUNT(*) OVER (PARTITION BY priority) AS n
      FROM d
    )
    SELECT priority,
           CAST(MIN(n) AS BIGINT) AS n_lineitems,
           CAST(MIN(CASE WHEN rn = (n * 50 + 99) // 100 THEN delay END)
                AS BIGINT) AS p50_days,
           CAST(MIN(CASE WHEN rn = (n * 90 + 99) // 100 THEN delay END)
                AS BIGINT) AS p90_days,
           CAST(MIN(CASE WHEN rn = (n * 99 + 99) // 100 THEN delay END)
                AS BIGINT) AS p99_days
    FROM r GROUP BY priority ORDER BY priority
    """,
    tags=("relational", "percentile", "sla", "operations"),
)
def q252_shipping_sla_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shipping SLA readout: p50/p90/p99 order-to-ship delay in days
    per order priority, each percentile an EXACT data value selected
    by nearest-rank (ceil(n*p/100), integer arithmetic, unique
    line-key tiebreak) — no interpolation, no floating accumulation
    (the q234 selection doctrine applied to the reference's order
    domain). The percentile the ops dashboard quotes is therefore
    reproducible to the day on any engine. One fact-fact join on the
    order key (the l_orderkey bridge every TPC-H plan here shares) and
    one priority-keyed window; five output rows."""
    li = load(spark, sf_dir, "lineitem")
    orders = load(spark, sf_dir, "orders")
    d = li.join(orders, li.l_orderkey == orders.o_orderkey).select(
        F.col("o_orderpriority").alias("priority"),
        F.datediff("l_shipdate", "o_orderdate").alias("delay"),
        "l_orderkey",
        "l_linenumber",
    )
    w = W.partitionBy("priority").orderBy("delay", "l_orderkey", "l_linenumber")
    wn = W.partitionBy("priority")
    r = d.select(
        "priority",
        "delay",
        F.row_number().over(w).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pick(p: int):
        return F.min(
            F.when(
                F.col("rn") == F.expr(f"(n * {p} + 99) div 100"), F.col("delay")
            )
        ).cast("bigint")

    return (
        r.groupBy("priority")
        .agg(
            F.min("n").cast("bigint").alias("n_lineitems"),
            pick(50).alias("p50_days"),
            pick(90).alias("p90_days"),
            pick(99).alias("p99_days"),
        )
        .orderBy("priority")
    )


# ---------------------------------------------------------------------------
# q253 — per-feed volume trend (integer OLS slope)
# ---------------------------------------------------------------------------


@query(
    "q253_volume_trend_slope",
    oracle="""
    WITH d AS (
      SELECT event_type,
             DATE_DIFF('day', DATE '2024-01-01', CAST(ts AS DATE)) AS x,
             COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    s AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM d GROUP BY event_type
    )
    SELECT event_type,
           n AS n_days,
           sy AS total_events,
           CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0
                     WHEN n * sxy - sx * sy >= 0
                     THEN (1000000 * (n * sxy - sx * sy))
                          // (n * sxx - sx * sx)
                     ELSE -((1000000 * (sx * sy - n * sxy))
                            // (n * sxx - sx * sx))
                END AS BIGINT) AS slope_ppm
    FROM s ORDER BY event_type
    """,
    tags=("streaming", "events", "trend", "regression"),
)
def q253_volume_trend_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-feed volume trend: the ordinary-least-squares slope of
    daily event count against day index, in events-per-day
    parts-per-million — the grow-or-decay number a capacity plan and
    a crawl scheduler both key on (q240 finds single-day bursts; this
    finds sustained drift). ENTIRELY integer arithmetic: the OLS
    closed form (n·Σxy − ΣxΣy)/(n·Σx² − (Σx)²) is a ratio of exact
    BIGINTs, scaled to ppm by truncating division on made-nonnegative
    operands (DuckDB `//` floors, Spark `div` truncates — identical
    only for nonnegative operands, so the sign is factored out
    first). Days pre-aggregate map-side; the regression is a
    five-accumulator aggregate per feed."""
    ev = load(spark, sf_dir, "events")
    d = (
        ev.select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
        )
        .groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    s = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = (
        F.when(den == 0, F.lit(0))
        .when(num >= 0, F.expr("(1000000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)"))
        .otherwise(
            -F.expr("(1000000 * (sx * sy - n * sxy)) div (n * sxx - sx * sx)")
        )
    )
    return s.select(
        "event_type",
        F.col("n").alias("n_days"),
        F.col("sy").alias("total_events"),
        slope.cast("bigint").alias("slope_ppm"),
    ).orderBy("event_type")


# ---------------------------------------------------------------------------
# q254 — day-of-week seasonality strength (eta-squared)
# ---------------------------------------------------------------------------


@query(
    "q254_dow_seasonality_strength",
    oracle="""
    WITH d AS (
      SELECT event_type, CAST(ts AS DATE) AS day, COUNT(*) AS y
      FROM events GROUP BY event_type, CAST(ts AS DATE)
    ),
    dw AS (
      SELECT event_type, y,
             CAST((EXTRACT(ISODOW FROM day) % 7) + 1 AS INTEGER) AS dow
      FROM d
    ),
    g AS (
      SELECT event_type, dow,
             CAST(COUNT(*) AS BIGINT) AS n_g,
             CAST(SUM(y) AS BIGINT) AS s_g
      FROM dw GROUP BY event_type, dow
    ),
    t AS (
      SELECT event_type,
             CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(y * y) AS BIGINT) AS syy
      FROM dw GROUP BY event_type
    ),
    b AS (
      SELECT event_type,
             SUM(CAST(CAST(s_g * s_g AS DOUBLE) / CAST(n_g AS DOUBLE)
                      AS DECIMAL(18,6))) AS sb
      FROM g GROUP BY event_type
    )
    SELECT t.event_type,
           t.n AS n_days,
           (CAST(FLOOR(
              ((CAST(b.sb AS DOUBLE)
                - (CAST(t.sy * t.sy AS DOUBLE) / CAST(t.n AS DOUBLE)))
               / (CAST(t.syy AS DOUBLE)
                  - (CAST(t.sy * t.sy AS DOUBLE) / CAST(t.n AS DOUBLE))))
              * CAST(1000000 AS DOUBLE) + 0.5) AS BIGINT)
             / CAST(1000000 AS DOUBLE)) AS eta_squared
    FROM t JOIN b ON b.event_type = t.event_type
    ORDER BY t.event_type
    """,
    tags=("streaming", "events", "seasonality", "anova"),
)
def q254_dow_seasonality_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """How weekly is each feed? Eta-squared (one-way ANOVA variance
    explained) of daily volumes grouped by day-of-week: 1.0 = a
    perfectly repeating weekly pattern, 0 = no weekday structure —
    the decision input for whether capacity planning (q180) needs a
    DOW dimension and whether q240's decay baseline should be
    per-weekday. Numerics: within-group sums are exact BIGINTs; the
    seven per-DOW S²/n terms take ONE double division each, are
    quantized to DECIMAL(18,6) and summed exactly (q85 doctrine —
    a bare 7-term double sum would be order-dependent); the final
    eta² assembles with an identical IEEE association on both
    engines and rounds via the floor-on-integers form (no engine
    ROUND). DOW uses the proven ISODOW mapping (q58 family)."""
    from ..functions.compare import det_round

    ev = load(spark, sf_dir, "events")
    d = (
        ev.select("event_type", F.to_date("ts").alias("day"))
        .groupBy("event_type", "day")
        .agg(F.count(F.lit(1)).alias("y"))
    )
    dw = d.select("event_type", "y", F.dayofweek("day").alias("dow"))
    g = dw.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g"),
        F.sum("y").cast("bigint").alias("s_g"),
    )
    t = dw.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    term = (
        (F.col("s_g") * F.col("s_g")).cast("double") / F.col("n_g").cast("double")
    ).cast("decimal(18,6)")
    b = g.select("event_type", term.alias("_t")).groupBy("event_type").agg(
        F.sum("_t").alias("sb")
    )
    gm = (F.col("sy") * F.col("sy")).cast("double") / F.col("n").cast("double")
    eta = (F.col("sb").cast("double") - gm) / (F.col("syy").cast("double") - gm)
    return (
        t.join(b, "event_type")
        .select(
            "event_type",
            F.col("n").alias("n_days"),
            det_round(eta, 6).alias("eta_squared"),
        )
        .orderBy("event_type")
    )


# ---------------------------------------------------------------------------
# q255 — top event paths (user-journey trigrams)
# ---------------------------------------------------------------------------


@query(
    "q255_top_event_paths",
    oracle="""
    WITH o AS (
      SELECT user_id, event_type,
             LAG(event_type, 2) OVER w AS t1,
             LAG(event_type, 1) OVER w AS t2
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
    )
    SELECT t1, t2, event_type AS t3,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences
    FROM o WHERE t1 IS NOT NULL
    GROUP BY t1, t2, event_type
    ORDER BY n_occurrences DESC, t1, t2, t3 LIMIT 20
    """,
    tags=("streaming", "events", "paths", "journey"),
)
def q255_top_event_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User-journey path mining: the most frequent three-step event
    sequences across all users (consecutive by event_id within a
    user) — the sequential generalization of q217's one-step Markov
    matrix, and the raw material for funnel DISCOVERY (q108 measures
    a funnel you already know; this surfaces the paths users actually
    take). Two LAGs over the one user-keyed shuffle the session
    family shares, an integer count, TakeOrderedAndProject top-20
    with full lexicographic tiebreak. At 100 TB the trigram space is
    |event_types|^3-bounded regardless of row count."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("event_id")
    o = ev.select(
        F.lag("event_type", 2).over(w).alias("t1"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.col("event_type").alias("t3"),
    )
    return (
        o.filter(F.col("t1").isNotNull())
        .groupBy("t1", "t2", "t3")
        .agg(F.count(F.lit(1)).alias("n_occurrences"))
        .orderBy(F.desc("n_occurrences"), "t1", "t2", "t3")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q256 — k-anonymity / l-diversity audit
# ---------------------------------------------------------------------------


@query(
    "q256_k_anonymity_audit",
    oracle="""
    WITH cls AS (
      SELECT c_nationkey, c_mktsegment, COUNT(*) AS sz
      FROM customer GROUP BY c_nationkey, c_mktsegment
    ),
    sens AS (
      SELECT c.c_nationkey, c.c_mktsegment,
             COUNT(DISTINCT o.o_orderpriority) AS ldiv
      FROM customer c LEFT JOIN orders o ON o.o_custkey = c.c_custkey
      GROUP BY c.c_nationkey, c.c_mktsegment
    )
    SELECT CAST(cls.sz AS BIGINT) AS class_size,
           CAST(COUNT(*) AS BIGINT) AS n_classes,
           CAST(SUM(cls.sz) AS BIGINT) AS n_customers,
           CAST(MIN(s.ldiv) AS BIGINT) AS min_l_diversity
    FROM cls
    JOIN sens s ON s.c_nationkey = cls.c_nationkey
               AND s.c_mktsegment = cls.c_mktsegment
    GROUP BY cls.sz ORDER BY class_size
    """,
    tags=("relational", "privacy", "k-anonymity", "audit"),
)
def q256_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Privacy-risk audit before a data release: treat (nation,
    market segment) as the quasi-identifier, histogram the
    equivalence-class sizes (k-anonymity: a class of size 1 is a
    re-identifiable individual), and report the minimum l-diversity
    of a sensitive attribute (order priority) within classes of each
    size — small-k AND low-l classes are the rows a release must
    generalize or suppress. Complements q100 (PII redaction removes
    direct identifiers; this measures the INDIRECT identification
    risk redaction cannot touch). Two QI-keyed aggregates and one
    integer histogram; at 100 TB the class table is |QI-combinations|-
    sized and every output is an exact integer."""
    c = load(spark, sf_dir, "customer")
    o = load(spark, sf_dir, "orders")
    cls = c.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).alias("sz")
    )
    sens = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_nationkey", "c_mktsegment")
        .agg(F.count_distinct("o_orderpriority").alias("ldiv"))
    )
    return (
        cls.join(sens, ["c_nationkey", "c_mktsegment"])
        .groupBy("sz")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_classes"),
            F.sum("sz").cast("bigint").alias("n_customers"),
            F.min("ldiv").cast("bigint").alias("min_l_diversity"),
        )
        .select(
            F.col("sz").cast("bigint").alias("class_size"),
            "n_classes",
            "n_customers",
            "min_l_diversity",
        )
        .orderBy("class_size")
    )


# ---------------------------------------------------------------------------
# q257 — Adamic-Adar link prediction over the order-brand bipartite graph
# ---------------------------------------------------------------------------


@query(
    "q257_adamic_adar_brand_links",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey AS okey, p.p_brand AS brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    deg AS (SELECT okey, COUNT(*) AS d FROM ob GROUP BY okey),
    w AS (
      SELECT okey,
             CAST(1.0 / LN(CAST(d AS DOUBLE)) AS DECIMAL(18,6)) AS wt
      FROM deg WHERE d >= 2
    ),
    pr AS (
      SELECT a.brand AS brand_a, b.brand AS brand_b,
             CAST(COUNT(*) AS BIGINT) AS n_shared,
             CAST(SUM(w.wt) AS DECIMAL(28,6)) AS aa_dec
      FROM ob a
      JOIN ob b ON b.okey = a.okey AND a.brand < b.brand
      JOIN w ON w.okey = a.okey
      GROUP BY a.brand, b.brand
    )
    SELECT brand_a, brand_b, n_shared,
           CAST(aa_dec AS DOUBLE) AS adamic_adar
    FROM pr
    ORDER BY adamic_adar DESC, brand_a, brand_b LIMIT 20
    """,
    tags=("relational", "graph", "link-prediction", "affinity"),
)
def q257_adamic_adar_brand_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the order-brand bipartite graph:
    brand pairs scored by Σ 1/ln(deg(order)) over their shared
    orders — shared SMALL baskets are strong evidence of affinity,
    shared mega-baskets are weak (the inverse-log damping q164's raw
    co-count lacks), which is the standard link-prediction upgrade
    for a co-occurrence recommender. Completes the graph-analytics
    family: degree (q160), PageRank (q226), triangles (q201),
    components (q250), link prediction (here).

    Numerics: each order's weight takes ONE libm call (LN of an
    integer-valued double) quantized to DECIMAL(18,6) (q128
    doctrine); per-pair scores are exact decimal sums, so the output
    double is tie-free at scale 6 and ordering cannot diverge.
    Scale: pairs come from the per-order self-join whose quadratic
    term is bounded by brands-per-order (≤ |brands|), the same
    economics as q164; weights ride a broadcast-sized (order, wt)
    table only for orders with ≥ 2 brands. part scales with SF, so
    the li-part join carries no forced broadcast hint (r13) — AQE
    decides at runtime."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select(F.col("l_orderkey").alias("okey"), F.col("p_brand").alias("brand"))
        .distinct()
        .persist()
    )
    deg = ob.groupBy("okey").agg(F.count(F.lit(1)).alias("d"))
    w = deg.filter(F.col("d") >= 2).select(
        "okey",
        (F.lit(1.0) / F.log(F.col("d").cast("double")))
        .cast("decimal(18,6)")
        .alias("wt"),
    )
    a = ob.select("okey", F.col("brand").alias("brand_a"))
    b = ob.select("okey", F.col("brand").alias("brand_b"))
    pr = (
        a.join(b, "okey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .join(w, "okey")
        .groupBy("brand_a", "brand_b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_shared"),
            F.sum("wt").cast("decimal(28,6)").alias("aa_dec"),
        )
    )

    out = (
        pr.select(
            "brand_a",
            "brand_b",
            "n_shared",
            F.col("aa_dec").cast("double").alias("adamic_adar"),
        )
        .orderBy(F.desc("adamic_adar"), "brand_a", "brand_b")
        .limit(20)
    )
    return out
