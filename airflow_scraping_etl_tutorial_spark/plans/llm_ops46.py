"""LLM-ops wave 47: release-privacy grouping audits, cache economics,
and graph attack tolerance —

- q381: l-diversity + t-closeness audit — per quasi-identifier group
  (lang, length width-class) of the documents table, the count of
  distinct sensitive values (source) and the total-variation distance
  between the group's sensitive distribution and the corpus's, in
  exact ppm; the two checks a privacy review runs after k-anonymity
  (q!kanon) passes, because a k-anonymous group with one source is
  still a disclosure.
- q382: TTL cache hit curve — for TTLs 1m/10m/1h/1d, the hit ratio a
  per-user lookup cache would achieve replaying the event stream
  (an event hits iff the same user appeared within TTL); prices the
  staleness-vs-hit-rate tradeoff from the inter-arrival gaps alone.
- q383: greedy hub-removal robustness — remove the top-3 degree hubs
  of the near-dup graph one at a time (degrees recomputed after each
  removal) and report surviving edges/nodes per step; the
  attack-tolerance curve that says whether dedup connectivity hangs
  on a few template hubs.

Output-hardening doctrine (as waves 6-46): TV distance is the sum of
per-cell truncating ppm gaps halved LAST (one documented truncation
order, identical in both engines); TTL hits are pure integer gap
comparisons on unix_micros/EPOCH_US; hub picks are ORDER BY degree
DESC, id LIMIT 1 selections (the q372 unrolled-greedy pattern) and
survival ratios are single truncating ppm divisions.

Reference parity: the reference publishes a daily institutional-
investor table; q381 is the grouping-disclosure audit such a release
needs, and q382 prices the cache its API front-end would put in
front of the table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q381 — l-diversity + t-closeness audit
# ---------------------------------------------------------------------------


@query(
    "q381_ldiversity_tcloseness",
    oracle="""
    WITH d AS (
      SELECT lang,
             CAST(LENGTH(BIN(GREATEST(n_chars, 1))) AS INT) AS wclass,
             source
      FROM documents
    ),
    groups AS (
      SELECT lang, wclass, CAST(COUNT(*) AS BIGINT) AS n_g
      FROM d GROUP BY lang, wclass
    ),
    sources AS (
      SELECT source, CAST(COUNT(*) AS BIGINT) AS c_s FROM d GROUP BY source
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    cells AS (
      SELECT lang, wclass, source, CAST(COUNT(*) AS BIGINT) AS c_gs
      FROM d GROUP BY lang, wclass, source
    ),
    grid AS (
      SELECT g.lang, g.wclass, g.n_g, s.source, s.c_s,
             COALESCE(c.c_gs, 0) AS c_gs
      FROM groups g
      CROSS JOIN sources s
      LEFT JOIN cells c ON c.lang = g.lang AND c.wclass = g.wclass
                        AND c.source = s.source
    ),
    scored AS (
      SELECT lang, wclass, n_g,
             CAST(SUM(CASE WHEN c_gs > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS l_diversity,
             CAST(SUM(ABS(c_gs * 1000000 // n_g
                          - c_s * 1000000 // n1.n)) AS BIGINT) AS tv2
      FROM grid CROSS JOIN n1
      GROUP BY lang, wclass, n_g
    )
    SELECT lang, wclass, CAST(n_g AS BIGINT) AS n_docs, l_diversity,
           CAST(tv2 // 2 AS BIGINT) AS tv_ppm,
           CAST(CASE WHEN l_diversity < 3 THEN 1 ELSE 0 END AS INT)
             AS violates_l3
    FROM scored ORDER BY lang, wclass
    """,
    tags=("llm", "privacy", "l-diversity", "t-closeness"),
)
def q381_ldiversity_tcloseness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouping-disclosure audit past k-anonymity: per quasi-identifier
    group (lang, length width-class), the l-diversity (distinct
    sensitive `source` values actually present) and the t-closeness
    total-variation distance TV(group ‖ corpus) over the source
    distribution, in exact ppm — TV is half the L1 gap, computed as
    per-source truncating ppm differences summed THEN halved (one
    documented truncation order, engine-identical). A group can be
    k-anonymous and still leak: l = 1 means every member shares the
    sensitive value; large TV means the group's mix differs enough
    from the corpus to classify members. Zero cells come from the
    groups x sources grid, not from the data.

    Scale: three map-side-combinable aggregates to (group),
    (source), (group x source) grains plus a |groups| x |sources|
    grid join — nothing returns to row grain."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "lang",
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
        .cast("int")
        .alias("wclass"),
        "source",
    ).persist()
    groups = d.groupBy("lang", "wclass").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_g")
    )
    sources = d.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_s")
    )
    n1 = d.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    cells = d.groupBy("lang", "wclass", "source").agg(
        F.count(F.lit(1)).cast("bigint").alias("c_gs")
    )
    grid = (
        groups.crossJoin(F.broadcast(sources))
        .join(cells, ["lang", "wclass", "source"], "left")
        .select(
            "lang",
            "wclass",
            "n_g",
            "c_s",
            F.coalesce(F.col("c_gs"), F.lit(0)).cast("bigint").alias("c_gs"),
        )
    )
    scored = (
        grid.crossJoin(F.broadcast(n1))
        .groupBy("lang", "wclass", "n_g")
        .agg(
            F.sum(F.expr("CASE WHEN c_gs > 0 THEN 1 ELSE 0 END"))
            .cast("bigint")
            .alias("l_diversity"),
            F.sum(
                F.expr("ABS(c_gs * 1000000 div n_g - c_s * 1000000 div n)")
            )
            .cast("bigint")
            .alias("tv2"),
        )
    )
    out = scored.select(
        "lang",
        "wclass",
        F.col("n_g").cast("bigint").alias("n_docs"),
        "l_diversity",
        F.expr("CAST(tv2 div 2 AS BIGINT)").alias("tv_ppm"),
        F.expr(
            "CAST(CASE WHEN l_diversity < 3 THEN 1 ELSE 0 END AS INT)"
        ).alias("violates_l3"),
    ).orderBy("lang", "wclass")
    return out


# ---------------------------------------------------------------------------
# q382 — TTL cache hit curve
# ---------------------------------------------------------------------------

# (label, TTL in microseconds) — import-time constants shared by both
# engines; 1 minute / 10 minutes / 1 hour / 1 day.
TTLS_US: tuple[tuple[str, int], ...] = (
    ("1m", 60_000_000),
    ("10m", 600_000_000),
    ("1h", 3_600_000_000),
    ("1d", 86_400_000_000),
)

_TTL_VALUES = ", ".join(f"('{lbl}', {us})" for lbl, us in TTLS_US)


@query(
    "q382_ttl_cache_hit_curve",
    oracle=f"""
    WITH gaps AS (
      SELECT CAST(EPOCH_US(ts) AS BIGINT)
               - LAG(CAST(EPOCH_US(ts) AS BIGINT))
                 OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap
      FROM events
    ),
    n1 AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(CASE WHEN gap IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_users
      FROM gaps
    ),
    ttls(ttl, ttl_us) AS (VALUES {_TTL_VALUES})
    SELECT t.ttl, CAST(t.ttl_us AS BIGINT) AS ttl_us, n1.n AS n_lookups,
           n1.n_users,
           CAST(SUM(CASE WHEN g.gap IS NOT NULL AND g.gap <= t.ttl_us
                         THEN 1 ELSE 0 END) AS BIGINT) AS hits,
           CAST(SUM(CASE WHEN g.gap IS NOT NULL AND g.gap <= t.ttl_us
                         THEN 1 ELSE 0 END) * 1000000 // n1.n AS BIGINT)
             AS hit_ppm
    FROM ttls t CROSS JOIN gaps g CROSS JOIN n1
    GROUP BY t.ttl, t.ttl_us, n1.n, n1.n_users
    ORDER BY ttl_us
    """,
    tags=("llm", "systems", "cache", "ttl"),
)
def q382_ttl_cache_hit_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TTL cache sizing from inter-arrival gaps: replaying the event
    stream against a per-user lookup cache with TTL t, an event is a
    HIT iff the same user's previous event is within t — so the whole
    hit curve falls out of the user-partitioned LAG gaps, one scan,
    no cache simulation state. Reported per TTL (1m/10m/1h/1d,
    import-time microsecond constants shared by both engines): hits
    and the truncating hit ppm, beside the distinct-user count (the
    compulsory-miss floor: first sight of a user can never hit). The
    monotone curve is exactly what picks a TTL for the API front-end
    cache over a slowly-changing daily table.

    Scale: ONE user-partitioned window (the q82 sessionization
    shuffle), then a 4-row TTL grid against gap-grain aggregates —
    the CROSS JOIN is 4 x gaps collapsed by map-side combine, and at
    real scale the gaps frame would be pre-aggregated to a gap
    histogram first (same identity, smaller grid)."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = events.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias(
            "gap"
        )
    ).persist()
    n1 = gaps.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CASE WHEN gap IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_users"),
    )
    ttls = spark.createDataFrame(list(TTLS_US), "ttl string, ttl_us long")
    out = (
        F.broadcast(ttls)
        .crossJoin(gaps)
        .crossJoin(F.broadcast(n1))
        .groupBy("ttl", "ttl_us", "n", "n_users")
        .agg(
            F.sum(
                F.expr(
                    "CASE WHEN gap IS NOT NULL AND gap <= ttl_us"
                    " THEN 1 ELSE 0 END"
                )
            )
            .cast("bigint")
            .alias("hits")
        )
        .select(
            "ttl",
            F.col("ttl_us").cast("bigint").alias("ttl_us"),
            F.col("n").alias("n_lookups"),
            "n_users",
            "hits",
            F.expr("CAST(hits * 1000000 div n AS BIGINT)").alias("hit_ppm"),
        )
        .orderBy("ttl_us")
    )
    return out


# ---------------------------------------------------------------------------
# q383 — greedy hub-removal robustness
# ---------------------------------------------------------------------------


def _sql_hub_round(prev_e: str, hub: str, out_e: str) -> str:
    """One greedy attack round: pick the max-degree node (id tiebreak)
    of the CURRENT edge set, then drop its incident edges."""
    return f"""
    {hub} AS (
      SELECT node FROM (
        SELECT a AS node FROM {prev_e} UNION ALL SELECT b FROM {prev_e}
      ) GROUP BY node ORDER BY COUNT(*) DESC, node LIMIT 1
    ),
    {out_e} AS (
      SELECT e.a, e.b FROM {prev_e} e
      WHERE e.a NOT IN (SELECT node FROM {hub})
        AND e.b NOT IN (SELECT node FROM {hub})
    )"""


@query(
    "q383_hub_removal_robustness",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e0 AS (SELECT doc_id_a AS a, doc_id_b AS b FROM pairs),
    {_sql_hub_round("e0", "h1", "e1")},
    {_sql_hub_round("e1", "h2", "e2")},
    {_sql_hub_round("e2", "h3", "e3")},
    m0 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM e0),
    steps AS (
      SELECT 0 AS k, CAST(NULL AS BIGINT) AS removed_id,
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM
                (SELECT a AS node FROM e0 UNION ALL SELECT b FROM e0))
               AS n_nodes
      UNION ALL
      SELECT 1, (SELECT CAST(node AS BIGINT) FROM h1),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e1),
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM
                (SELECT a AS node FROM e1 UNION ALL SELECT b FROM e1))
      UNION ALL
      SELECT 2, (SELECT CAST(node AS BIGINT) FROM h2),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e2),
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM
                (SELECT a AS node FROM e2 UNION ALL SELECT b FROM e2))
      UNION ALL
      SELECT 3, (SELECT CAST(node AS BIGINT) FROM h3),
             (SELECT CAST(COUNT(*) AS BIGINT) FROM e3),
             (SELECT CAST(COUNT(DISTINCT node) AS BIGINT) FROM
                (SELECT a AS node FROM e3 UNION ALL SELECT b FROM e3))
    )
    SELECT s.k, s.removed_id, s.n_edges, s.n_nodes,
           CAST(CASE WHEN m0.m = 0 THEN 1000000
                ELSE s.n_edges * 1000000 // m0.m END AS BIGINT)
             AS edge_survival_ppm
    FROM steps s CROSS JOIN m0 ORDER BY s.k
    """,
    tags=("llm", "graph", "robustness", "dedup"),
)
def q383_hub_removal_robustness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Attack-tolerance curve of the near-dup graph: greedily remove
    the highest-degree node (degrees RECOMPUTED on the surviving
    edges each round — the true greedy attack, not a static top-3),
    three unrolled rounds, reporting per step the removed hub, the
    surviving edge/node counts and the edge-survival ppm. A steep
    curve means connectivity hangs on a few template hubs (removing
    them shatters q250's components — dedup clusters were an
    artifact); a flat curve means near-dup structure is broad. Hub
    picks are ORDER BY degree DESC, id LIMIT 1 (the q372 unrolled-
    greedy pattern); the ratio is one truncating ppm division.

    Scale: each round is a degree aggregate, a 1-row top-1, and a
    broadcast anti-filter over the edge list — O(k·E) with k = 3,
    nothing quadratic."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates

    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5)
    e = pairs.select(
        F.col("doc_id_a").alias("a"), F.col("doc_id_b").alias("b")
    ).localCheckpoint()  # truncate the minhash lineage once for all rounds

    def stat(edges: DataFrame, k: int, hub: DataFrame | None) -> DataFrame:
        nodes = edges.select(F.col("a").alias("node")).unionAll(
            edges.select(F.col("b").alias("node"))
        )
        row = edges.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_edges")
        ).crossJoin(
            nodes.agg(
                F.countDistinct("node").cast("bigint").alias("n_nodes")
            )
        )
        # 1-row aggregate (hub has <= 1 row, so MIN is the hub itself;
        # NULL if the edge set depleted) — keeps the step row alive even
        # when the graph runs out, matching the oracle's scalar subquery.
        rid = (
            F.broadcast(
                hub.agg(
                    F.min(F.col("node").cast("bigint")).alias("removed_id")
                )
            )
            if hub is not None
            else None
        )
        row = row.crossJoin(rid) if rid is not None else row.select(
            F.lit(None).cast("bigint").alias("removed_id"), "*"
        )
        return row.select(
            F.lit(k).cast("int").alias("k"),
            "removed_id",
            "n_edges",
            "n_nodes",
        )

    cur = e
    steps = [stat(cur, 0, None)]
    for k in (1, 2, 3):
        nodes = cur.select(F.col("a").alias("node")).unionAll(
            cur.select(F.col("b").alias("node"))
        )
        hub = (
            nodes.groupBy("node")
            .agg(F.count(F.lit(1)).alias("deg"))
            .orderBy(F.desc("deg"), "node")
            .limit(1)
            .select("node")
        )
        nxt = (
            cur.join(
                F.broadcast(hub.select(F.col("node").alias("a"))), "a", "left_anti"
            )
            .join(
                F.broadcast(hub.select(F.col("node").alias("b"))), "b", "left_anti"
            )
            # truncate lineage per round (cluster.py doctrine): without
            # this the 3 unrolled rounds nest the whole minhash pipeline
            # per stat() consumer and the plan TREE (and planning time)
            # explodes combinatorially — observed as a 113k-line plan
            # string before this checkpoint
            .localCheckpoint()
        )
        steps.append(stat(nxt, k, hub))
        cur = nxt
    m0 = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    stacked = steps[0]
    for s in steps[1:]:
        stacked = stacked.unionByName(s)
    out = (
        stacked.crossJoin(F.broadcast(m0))
        .select(
            "k",
            "removed_id",
            "n_edges",
            "n_nodes",
            F.expr(
                "CAST(CASE WHEN m = 0 THEN 1000000"
                " ELSE n_edges * 1000000 div m END AS BIGINT)"
            ).alias("edge_survival_ppm"),
        )
        .orderBy("k")
    )
    return out
