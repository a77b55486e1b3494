"""LLM-ops wave 8 (promoted into the driver contract in round 7): mergeable
cardinality/frequency sketches, behavioral-sequence analytics, skew
and drift audits, and incremental-maintenance patterns — the fourth
ring of curation machinery around waves 1-7.

Output-hardening doctrine (applied from birth): integer aggregates
CAST to BIGINT in the oracle (never HUGEINT output); ratios are single
deterministic double divisions of exact integers or exact decimals,
ROUND(..., 6); integer division uses `div` / `//` on nonnegative
integers only; no POW (x*x instead); cross-engine-divergent functions
(byte-based vs codepoint-based levenshtein) operate on printable-ASCII
normalized inputs only.

Reference parity: the reference's DAG monitors one feed a day and
alerts on contract violations (dags/Final_app.py:79-149,
dags/insert_data.py:20-104); these entries generalize that posture to
corpus-scale monitoring: sketch-based cardinality/frequency contracts,
funnel/retention behavior of the event stream, physical-layout skew
audits, and incremental re-aggregation of a growing fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates
from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q215 — HyperLogLog distinct-cardinality sketch audit
# ---------------------------------------------------------------------------

# Raw-HLL bias constant for m=256 registers, times 2^30 so the harmonic
# denominator stays in exact integer arithmetic (see below). A shared
# Python-computed literal: both engines parse the same decimal literal
# to the same IEEE double.
# The HLL machinery lives in operators/sketches.py; re-exported here
# under the names the catalog entries and tests use.
from ..operators.sketches import (  # noqa: E402
    HLL_M as _HLL_M,
    HLL_NUM as _HLL_NUM,
    SQL_HLL_EST as _SQL_HLL_EST,
    hll_estimate_agg,
    hll_registers,
    hll_register_max,
)


@query(
    "q215_hll_distinct_audit",
    oracle=f"""
    WITH tok AS (
      SELECT DISTINCT tok FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      ) t
    ),
    h AS (
      SELECT CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) AS hv FROM tok
    ),
    r AS (
      SELECT hv % {_HLL_M} AS bucket,
             CASE WHEN hv // {_HLL_M} = 0 THEN 53
                  ELSE 52 - LENGTH(BIN(hv // {_HLL_M})) + 1 END AS rho
      FROM h
    ),
    regs AS (
      SELECT bucket, MAX(rho) AS reg, COUNT(*) AS n FROM r GROUP BY bucket
    )
    SELECT CAST(SUM(n) AS BIGINT) AS n_distinct_tokens,
           CAST(COUNT(*) AS BIGINT) AS n_buckets_used,
           CAST(MAX(reg) AS BIGINT) AS max_register,
           ROUND({_SQL_HLL_EST}, 4) AS hll_estimate,
           ROUND(({_SQL_HLL_EST} - SUM(n)) / SUM(n), 6) AS rel_error
    FROM regs
    """,
    tags=("llm", "sketch", "cardinality", "audit"),
)
def q215_hll_distinct_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog over the corpus vocabulary: 256
    registers keyed by the low byte of each distinct token's 60-bit
    md5 hash, register = max leading-zero rank of the remaining 52
    bits, raw-HLL estimate vs the exact distinct count. This is THE
    mergeable-cardinality pattern for 100 TB ingest monitoring: per-
    partition register vectors merge by elementwise MAX (one 256-byte
    state per stream), where an exact COUNT(DISTINCT) costs a full
    shuffle of the key universe. The estimate's harmonic denominator
    is computed in EXACT integer arithmetic — each register
    contributes 2^(30-reg) and empty buckets 2^30, so both engines
    divide the same shared double literal by the same BIGINT and every
    output is bit-deterministic (no engine HLL involved: Spark's
    approx_count_distinct and DuckDB's approx_count_distinct use
    different sketches, so the audit re-derives the sketch from md5).
    Flajolet's small-range correction applies below 2.5m: linear
    counting m*ln(m/V) over the V empty buckets, the LN output
    quantized to DECIMAL(18,6) before the multiply (q199 doctrine) so
    a last-ulp libm difference cannot flip the rounded output.

    Generalizes the reference's daily row-count contract
    (dags/insert_data.py:96-104) to a cardinality contract.

    Scale: the only wide op is the distinct on token hashes (map-side
    combined); registers are a 256-row aggregate. rel_error ~ 1.04/16
    ≈ 6.5% by theory."""
    docs = load(spark, sf_dir, "documents")
    regs = hll_registers(docs.select(F.explode(F.split("text", " ")).alias("tok")))
    e = hll_estimate_agg()
    return regs.agg(
        F.sum("n").cast("bigint").alias("n_distinct_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_buckets_used"),
        F.max("reg").cast("bigint").alias("max_register"),
        F.round(e, 4).alias("hll_estimate"),
        F.round((e - F.sum("n")) / F.sum("n"), 6).alias("rel_error"),
    )


# ---------------------------------------------------------------------------
# q216 — count-min sketch heavy-hitter audit
# ---------------------------------------------------------------------------

from ..operators.sketches import CM_D as _CM_D  # noqa: E402
from ..operators.sketches import CM_W as _CM_W  # noqa: E402
from ..operators.sketches import cm_hash  # noqa: E402


def _cm_hash_sql(d: int) -> str:
    return (
        f"CAST('0x' || SUBSTR(MD5(tok || ':cm{d}'), 1, 15) AS BIGINT)"
        f" % {_CM_W}"
    )


@query(
    "q216_countmin_heavy_hitters",
    oracle=f"""
    WITH cnts AS (
      SELECT tok, COUNT(*) AS c FROM (
        SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      ) t GROUP BY tok
    ),
    cm AS (
      SELECT tok, c,
             {_cm_hash_sql(0)} AS h0, {_cm_hash_sql(1)} AS h1,
             {_cm_hash_sql(2)} AS h2, {_cm_hash_sql(3)} AS h3
      FROM cnts
    ),
    c0 AS (SELECT h0 AS k, CAST(SUM(c) AS BIGINT) AS v FROM cm GROUP BY h0),
    c1 AS (SELECT h1 AS k, CAST(SUM(c) AS BIGINT) AS v FROM cm GROUP BY h1),
    c2 AS (SELECT h2 AS k, CAST(SUM(c) AS BIGINT) AS v FROM cm GROUP BY h2),
    c3 AS (SELECT h3 AS k, CAST(SUM(c) AS BIGINT) AS v FROM cm GROUP BY h3),
    top AS (SELECT * FROM cm ORDER BY c DESC, tok LIMIT 20)
    SELECT t.tok AS token,
           CAST(t.c AS BIGINT) AS exact_count,
           LEAST(c0.v, c1.v, c2.v, c3.v) AS cm_estimate,
           LEAST(c0.v, c1.v, c2.v, c3.v) - CAST(t.c AS BIGINT)
             AS overestimate
    FROM top t
    JOIN c0 ON c0.k = t.h0 JOIN c1 ON c1.k = t.h1
    JOIN c2 ON c2.k = t.h2 JOIN c3 ON c3.k = t.h3
    ORDER BY exact_count DESC, token
    """,
    tags=("llm", "sketch", "frequency", "audit"),
)
def q216_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch audit: a 4x64 counter matrix over md5-derived
    token hashes, point estimates (min over the 4 rows) for the 20
    true heavy hitters vs their exact counts, overestimate reported
    per token. The CM sketch is the streaming-frequency workhorse at
    100 TB — counters merge by elementwise +, the matrix is 4*64*8 B
    of state, and the estimate NEVER undercounts (overestimate >= 0 is
    a structural invariant the test asserts). Deliberately undersized
    (w=64 << vocabulary) so collisions are visible and the audit shows
    real error. Everything is integer arithmetic; both engines agree
    bit-for-bit.

    Scale: ONE token-count aggregate (map-side combined, persisted)
    feeds the 4 counter rows (64-row aggregates) and
    the exact top-20 (TakeOrdered) — without the persist the text scan
    and token shuffle run 5x; the counter tables broadcast to the
    probe join."""
    docs = load(spark, sf_dir, "documents")
    cnts = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )

    cm = cnts.select(
        "tok",
        "c",
        *[cm_hash(d).alias(f"h{d}") for d in range(_CM_D)],
    ).persist()
    counters = [
        cm.groupBy(F.col(f"h{d}").alias("k")).agg(
            F.sum("c").cast("bigint").alias(f"v{d}")
        )
        for d in range(_CM_D)
    ]
    top = cm.orderBy(F.col("c").desc(), "tok").limit(20)
    probe = top
    for d in range(_CM_D):
        probe = probe.join(
            F.broadcast(counters[d]), probe[f"h{d}"] == counters[d]["k"]
        ).drop("k")
    est = F.least("v0", "v1", "v2", "v3")
    out = probe.select(
        F.col("tok").alias("token"),
        F.col("c").cast("bigint").alias("exact_count"),
        est.alias("cm_estimate"),
        (est - F.col("c").cast("bigint")).alias("overestimate"),
    ).orderBy(F.col("exact_count").desc(), "token")
    return out


# ---------------------------------------------------------------------------
# q217 — event-type Markov transition matrix
# ---------------------------------------------------------------------------


@query(
    "q217_event_markov_transitions",
    oracle="""
    WITH nxt AS (
      SELECT event_type AS from_type,
             LEAD(event_type) OVER (PARTITION BY user_id
                                    ORDER BY ts, event_id) AS to_type
      FROM events
    ),
    pairs AS (
      SELECT from_type, to_type, COUNT(*) AS n
      FROM nxt WHERE to_type IS NOT NULL GROUP BY from_type, to_type
    ),
    tot AS (SELECT from_type, SUM(n) AS t FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type,
           CAST(p.n AS BIGINT) AS n_transitions,
           ROUND(CAST(p.n AS DOUBLE) / t.t, 6) AS prob
    FROM pairs p JOIN tot t ON t.from_type = p.from_type
    ORDER BY p.from_type, p.to_type
    """,
    tags=("llm", "events", "markov", "behavior"),
)
def q217_event_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix of the per-user event
    stream: P(next event type | current event type), estimated from
    consecutive event pairs ordered by (ts, event_id). The behavioral
    fingerprint behind bot detection and session simulation — a
    transition row drifting between snapshots is the event-stream
    analogue of q199's PSI. One user-keyed shuffle for the LEAD window
    (the same key q82's sessionization shuffles on), then a 25-row
    aggregate; the probability is a single deterministic double
    division of exact integers.

    Scale: the window carries (user_id, ts, event_id, event_type) —
    raw payloads (value/props) are pruned before the shuffle. The
    row-normalizer is a window over the 25-row pair aggregate (a join
    against a separately-derived totals table would recompute the
    whole event lineage a second time)."""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    nxt = ev.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = nxt.groupBy("from_type", "to_type").agg(F.count(F.lit(1)).alias("n"))
    wt = W.partitionBy("from_type")
    return (
        pairs.select(
            "from_type",
            "to_type",
            F.col("n").cast("bigint").alias("n_transitions"),
            F.round(
                F.col("n").cast("double") / F.sum("n").over(wt), 6
            ).alias("prob"),
        )
        .orderBy("from_type", "to_type")
    )


# ---------------------------------------------------------------------------
# q218 — edit-distance verification of MinHash candidates
# ---------------------------------------------------------------------------

# Spark's levenshtein counts Unicode codepoints; DuckDB's counts bytes
# (verified: they disagree on CJK text). Both sides therefore compare
# printable-ASCII projections, where codepoint == byte.
_ASCII_HEAD_SQL = "SUBSTR(REGEXP_REPLACE({col}, '[^ -~]', '', 'g'), 1, 120)"


@query(
    "q218_edit_distance_verify",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.3)}
    SELECT p.doc_id_a, p.doc_id_b, p.jaccard,
           CAST(LEVENSHTEIN({_ASCII_HEAD_SQL.format(col="da.text")},
                            {_ASCII_HEAD_SQL.format(col="db.text")})
                AS BIGINT) AS edit_distance,
           ROUND(CAST(LEVENSHTEIN({_ASCII_HEAD_SQL.format(col="da.text")},
                                  {_ASCII_HEAD_SQL.format(col="db.text")})
                      AS DOUBLE)
                 / GREATEST(LENGTH({_ASCII_HEAD_SQL.format(col="da.text")}),
                            LENGTH({_ASCII_HEAD_SQL.format(col="db.text")}), 1),
                 6) AS norm_edit
    FROM pairs p
    JOIN documents da ON da.doc_id = p.doc_id_a
    JOIN documents db ON db.doc_id = p.doc_id_b
    ORDER BY p.doc_id_a, p.doc_id_b
    """,
    tags=("llm", "dedup", "editdistance", "verify"),
)
def q218_edit_distance_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-opinion verification of MinHash near-dup candidates with
    character-level edit distance: candidates from the q68 LSH pipeline
    (jaccard >= 0.3) re-scored with Levenshtein on 120-char printable-
    ASCII prefixes. Shingle Jaccard is order-insensitive (bag of
    3-grams) while edit distance is order-sensitive, so pairs that are
    token-similar but differently arranged separate here — the cheap
    tiebreaker before a human look. Levenshtein is O(len^2) per pair,
    which is exactly why it runs ONLY on the LSH-bounded candidate set
    (never all-pairs) and on bounded prefixes; the two dimension joins
    hydrate text for candidate ids only.

    Both engines see identical ASCII inputs (Spark's levenshtein is
    codepoint-based, DuckDB's byte-based; on printable ASCII they
    coincide — property-tested in tests/test_staged_wave8.py)."""
    docs = load(spark, sf_dir, "documents")
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.3)

    def ascii_head(col):
        return F.substring(F.regexp_replace(col, "[^ -~]", ""), 1, 120)

    da = docs.select(
        F.col("doc_id").alias("doc_id_a"), ascii_head(F.col("text")).alias("ta")
    )
    db = docs.select(
        F.col("doc_id").alias("doc_id_b"), ascii_head(F.col("text")).alias("tb")
    )
    lev = F.levenshtein("ta", "tb")
    return (
        pairs.join(da, "doc_id_a")
        .join(db, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            "jaccard",
            lev.cast("bigint").alias("edit_distance"),
            F.round(
                lev.cast("double")
                / F.greatest(F.length("ta"), F.length("tb"), F.lit(1)),
                6,
            ).alias("norm_edit"),
        )
        .orderBy("doc_id_a", "doc_id_b")
    )


# ---------------------------------------------------------------------------
# q219 — join-key skew audit
# ---------------------------------------------------------------------------

_SKEW_EDGES = (
    ("events.user_id", "events", "user_id"),
    ("lineitem.l_orderkey", "lineitem", "l_orderkey"),
    ("lineitem.l_partkey", "lineitem", "l_partkey"),
    ("lineitem.l_suppkey", "lineitem", "l_suppkey"),
    ("orders.o_custkey", "orders", "o_custkey"),
)


def _skew_edge_sql(edge: str, table: str, col: str) -> str:
    return f"""
    SELECT '{edge}' AS edge,
           t.total, t.n_keys, k.top_key, k.top_cnt,
           ROUND(CAST(k.top_cnt AS DOUBLE) / t.total, 6) AS top_share,
           ROUND(CAST(k.top_cnt * t.n_keys AS DOUBLE) / t.total, 6)
             AS skew_factor
    FROM (SELECT CAST(SUM(cnt) AS BIGINT) AS total,
                 CAST(COUNT(*) AS BIGINT) AS n_keys
          FROM (SELECT {col}, COUNT(*) AS cnt FROM {table} GROUP BY {col})) t
    CROSS JOIN (SELECT {col} AS top_key, CAST(COUNT(*) AS BIGINT) AS top_cnt
                FROM {table} GROUP BY {col}
                ORDER BY COUNT(*) DESC, {col} LIMIT 1) k
    """


@query(
    "q219_join_key_skew_audit",
    oracle="\nUNION ALL\n".join(_skew_edge_sql(*e) for e in _SKEW_EDGES)
    + "\nORDER BY edge",
    tags=("relational", "skew", "planning", "audit"),
)
def q219_join_key_skew_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-join-edge skew audit over the star schema's hot keys: total
    rows, distinct keys, the heaviest key and its count, its share of
    the table, and skew_factor = top_cnt / mean_cnt (top key load
    relative to a perfectly uniform key). This is the planning input
    for every skew mitigation the engine ships — skew_factor >> 1 on a
    shuffle key is the signal to salt (operators/skew.py), raise AQE's
    skew-join threshold, or broadcast the other side. Run before the
    big join, not after it times out.

    Scale: each edge is ONE per-key count aggregate (map-side
    combined, the same shuffle the downstream join would perform at
    audit size), persisted so the totals rollup
    and the TakeOrdered(1) top key both read it without re-scanning
    the fact table (AQE does not exchange-reuse across these two
    consumers — measured)."""
    frames = []
    for edge, table, col in _SKEW_EDGES:
        t = load(spark, sf_dir, table)
        counts = (
            t.groupBy(F.col(col).alias("top_key"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("top_cnt"))
            .persist()
        )
        tot = counts.agg(
            F.sum("top_cnt").cast("bigint").alias("total"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
        )
        top = counts.orderBy(F.col("top_cnt").desc(), "top_key").limit(1)
        frames.append(
            tot.crossJoin(top).select(
                F.lit(edge).alias("edge"),
                "total",
                "n_keys",
                "top_key",
                "top_cnt",
                F.round(F.col("top_cnt").cast("double") / F.col("total"), 6).alias(
                    "top_share"
                ),
                F.round(
                    (F.col("top_cnt") * F.col("n_keys")).cast("double")
                    / F.col("total"),
                    6,
                ).alias("skew_factor"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# q220 — embedding cohort centroid drift
# ---------------------------------------------------------------------------


@query(
    "q220_embedding_cohort_drift",
    oracle="""
    WITH g AS (
      SELECT CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR)
                  || ':emb'), 1, 2) AS INTEGER) < 128
                  THEN 'a' ELSE 'b' END AS cohort,
             embedding
      FROM embeddings
    ),
    pe AS (
      SELECT cohort, u.i AS dim, CAST(embedding[u.i] AS DOUBLE) AS val
      FROM g, (SELECT UNNEST(RANGE(1, 65)) AS i) u
    ),
    sums AS (
      SELECT dim,
             CAST(SUM(CASE WHEN cohort = 'a'
                  THEN CAST(val AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS sa,
             CAST(SUM(CASE WHEN cohort = 'b'
                  THEN CAST(val AS DECIMAL(18,6)) END) AS DECIMAL(18,6)) AS sb
      FROM pe GROUP BY dim
    ),
    mass AS (
      SELECT SUM(sa * sb) AS dot, SUM(sa * sa) AS aa, SUM(sb * sb) AS bb
      FROM sums
    ),
    n AS (
      SELECT CAST(SUM(CASE WHEN cohort = 'a' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_a,
             CAST(SUM(CASE WHEN cohort = 'b' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_b
      FROM g
    )
    SELECT n.n_a, n.n_b,
           ROUND(CAST(m.dot AS DOUBLE)
                 / SQRT(CAST(m.aa AS DOUBLE) * CAST(m.bb AS DOUBLE)), 6)
             AS centroid_cosine
    FROM mass m CROSS JOIN n
    """,
    tags=("llm", "embeddings", "drift", "audit"),
)
def q220_embedding_cohort_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space drift between two md5-split cohorts: cosine
    similarity of the cohort mean vectors — the model-upgrade /
    re-embedding regression check (cosine near 1 on an A/B null split
    is the calibration; production compares old-model vs new-model
    embeddings of the same docs). Division-free centroid trick (q151):
    cosine(sum_a/n_a, sum_b/n_b) == cosine(sum_a, sum_b), so only
    exact per-dim decimal SUMS are computed — no mean division, and
    the dot/norm products stay in exact decimal until three final
    deterministic double ops (q109/q163 doctrine).

    Scale: one posexplode + one (cohort, dim)-keyed aggregate — 128
    output rows regardless of corpus size; the 64-row product
    aggregate is driver-trivial but stays in the plan."""
    emb = load(spark, sf_dir, "embeddings")
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":emb"))), 1, 2
        ),
        16,
        10,
    ).cast("int")
    g = emb.select(
        F.when(gate < 128, "a").otherwise("b").alias("cohort"), "embedding"
    )
    pe = g.select(
        "cohort", F.posexplode("embedding").alias("dim0", "valf")
    ).select("cohort", (F.col("dim0") + 1).alias("dim"), F.col("valf").cast("double").alias("val"))
    sums = pe.groupBy("dim").agg(
        F.sum(F.when(F.col("cohort") == "a", F.col("val").cast("decimal(18,6)")))
        .cast("decimal(18,6)")
        .alias("sa"),
        F.sum(F.when(F.col("cohort") == "b", F.col("val").cast("decimal(18,6)")))
        .cast("decimal(18,6)")
        .alias("sb"),
    )
    mass = sums.agg(
        F.sum(F.col("sa") * F.col("sb")).alias("dot"),
        F.sum(F.col("sa") * F.col("sa")).alias("aa"),
        F.sum(F.col("sb") * F.col("sb")).alias("bb"),
    )
    n = g.agg(
        F.sum(F.when(F.col("cohort") == "a", 1).otherwise(0))
        .cast("bigint")
        .alias("n_a"),
        F.sum(F.when(F.col("cohort") == "b", 1).otherwise(0))
        .cast("bigint")
        .alias("n_b"),
    )
    return mass.crossJoin(F.broadcast(n)).select(
        "n_a",
        "n_b",
        F.round(
            F.col("dot").cast("double")
            / F.sqrt(F.col("aa").cast("double") * F.col("bb").cast("double")),
            6,
        ).alias("centroid_cosine"),
    )


# ---------------------------------------------------------------------------
# q221 — incremental snapshot delta (IVM pattern)
# ---------------------------------------------------------------------------


@query(
    "q221_incremental_snapshot_delta",
    oracle="""
    WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders),
    agg AS (
      SELECT STRFTIME(o_orderdate, '%Y-%m') AS o_month,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) <= mx.d - 730
                 THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS old_dec,
             SUM(CASE WHEN CAST(o_orderdate AS DATE) <= mx.d - 365
                 THEN CAST(o_totalprice AS DECIMAL(18,6)) END) AS new_dec
      FROM orders CROSS JOIN mx
      WHERE CAST(o_orderdate AS DATE) <= mx.d - 365
      GROUP BY o_month
    )
    SELECT o_month,
           CAST(ROUND(COALESCE(old_dec, 0), 2) AS DOUBLE) AS rev_old,
           CAST(ROUND(COALESCE(new_dec, 0), 2) AS DOUBLE) AS rev_new,
           CAST(ROUND(COALESCE(new_dec, 0) - COALESCE(old_dec, 0), 2)
                AS DOUBLE) AS rev_delta
    FROM agg
    WHERE COALESCE(new_dec, 0) <> COALESCE(old_dec, 0)
    ORDER BY o_month
    """,
    tags=("relational", "incremental", "ivm", "audit"),
)
def q221_incremental_snapshot_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-view-maintenance audit: monthly revenue under two
    corpus-relative snapshot cutoffs (max date - 730 days vs - 365
    days), reporting only the months whose aggregate CHANGED between
    snapshots. Because SUM is an abelian-group aggregate, the delta
    equals the aggregate of just the newly arrived rows — exactly the
    rows in (cutoff_old, cutoff_new] — which is the 100 TB refresh
    strategy: re-aggregate only the new day partitions and MERGE the
    partials (operators/rollup.py's idempotent daily load is the
    executable form; this entry is its audit view). Money stays in
    exact decimal until the final rounded cast (functions/compare.py
    doctrine), so old/new/delta are all order-independent.

    Scale: one scan, one month-keyed aggregate; the month list the
    delta touches is bounded by the refresh window, not corpus size."""
    o = load(spark, sf_dir, "orders")
    mx = o.agg(F.max(F.col("o_orderdate").cast("date")).alias("d"))
    dated = o.crossJoin(F.broadcast(mx)).filter(
        F.col("o_orderdate").cast("date") <= F.date_sub(F.col("d"), 365)
    )
    dec = F.col("o_totalprice").cast("decimal(18,6)")
    agg = dated.groupBy(
        F.date_format("o_orderdate", "yyyy-MM").alias("o_month")
    ).agg(
        F.sum(
            F.when(
                F.col("o_orderdate").cast("date") <= F.date_sub(F.col("d"), 730), dec
            )
        ).alias("old_dec"),
        F.sum(
            F.when(
                F.col("o_orderdate").cast("date") <= F.date_sub(F.col("d"), 365), dec
            )
        ).alias("new_dec"),
    )
    zero = F.lit(0).cast("decimal(18,6)")
    old_c = F.coalesce(F.col("old_dec"), zero)
    new_c = F.coalesce(F.col("new_dec"), zero)
    return (
        agg.filter(new_c != old_c)
        .select(
            "o_month",
            F.round(old_c, 2).cast("double").alias("rev_old"),
            F.round(new_c, 2).cast("double").alias("rev_new"),
            F.round(new_c - old_c, 2).cast("double").alias("rev_delta"),
        )
        .orderBy("o_month")
    )


# ---------------------------------------------------------------------------
# q222 — time-to-conversion survival curve
# ---------------------------------------------------------------------------


@query(
    "q222_time_to_conversion",
    oracle="""
    WITH s AS (
      SELECT user_id, MIN(CASE WHEN event_type = 'signup' THEN ts END) AS s_ts
      FROM events GROUP BY user_id
    ),
    conv AS (
      SELECT s.user_id, s.s_ts, MIN(e.ts) AS p_ts
      FROM s JOIN events e
        ON e.user_id = s.user_id AND e.event_type = 'purchase'
           AND e.ts >= s.s_ts
      WHERE s.s_ts IS NOT NULL
      GROUP BY s.user_id, s.s_ts
    ),
    tot AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_signup FROM s
      WHERE s_ts IS NOT NULL
    ),
    wk AS (
      SELECT (CAST(p_ts AS DATE) - CAST(s_ts AS DATE)) // 7 AS week_bucket,
             COUNT(*) AS n FROM conv GROUP BY week_bucket
    )
    SELECT CAST(week_bucket AS BIGINT) AS week_bucket,
           CAST(n AS BIGINT) AS n_converted,
           CAST(SUM(n) OVER (ORDER BY week_bucket
                             ROWS UNBOUNDED PRECEDING) AS BIGINT)
             AS cum_converted,
           ROUND(CAST(SUM(n) OVER (ORDER BY week_bucket
                                   ROWS UNBOUNDED PRECEDING) AS DOUBLE)
                 / t.n_signup, 6) AS conversion_cdf
    FROM wk CROSS JOIN tot t
    ORDER BY week_bucket
    """,
    tags=("llm", "events", "survival", "behavior"),
)
def q222_time_to_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-conversion curve: for each signed-up user, days from
    first signup to first subsequent purchase, bucketed into weeks,
    with the cumulative conversion CDF over ALL signed-up users (users
    who never purchase are the censored tail — in the denominator,
    never in a bucket). The product-analytics survival view that
    q108's stage funnel doesn't give: not just HOW MANY convert but
    HOW FAST. Integer day arithmetic and `// 7` floor-bucketing on
    nonnegative gaps keep both engines bit-identical; the CDF is one
    deterministic division per bucket.

    Scale: one user-keyed aggregate for signups, one semi-join-shaped
    aggregate for first purchases (only purchase events join), then a
    bucket-count aggregate; the window runs over ~tens of buckets."""
    ev = load(spark, sf_dir, "events")
    s = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "signup", F.col("ts"))).alias("s_ts")
    )
    signed = s.filter(F.col("s_ts").isNotNull())
    conv = (
        ev.filter(F.col("event_type") == "purchase")
        .join(F.broadcast(signed), "user_id")
        .filter(F.col("ts") >= F.col("s_ts"))
        .groupBy("user_id", "s_ts")
        .agg(F.min("ts").alias("p_ts"))
    )
    wk = conv.select(
        F.expr(
            "CAST(datediff(CAST(p_ts AS DATE), CAST(s_ts AS DATE)) div 7 AS BIGINT)"
        ).alias("week_bucket")
    ).groupBy("week_bucket").agg(F.count(F.lit(1)).alias("n"))
    tot = signed.agg(F.count(F.lit(1)).cast("bigint").alias("n_signup"))
    # global-window-ok: week-bucket grain: frame reduced to tens of rows by the groupBy above
    w = W.orderBy("week_bucket").rowsBetween(W.unboundedPreceding, 0)
    return (
        wk.crossJoin(F.broadcast(tot))
        .select(
            F.col("week_bucket").cast("bigint").alias("week_bucket"),
            F.col("n").cast("bigint").alias("n_converted"),
            F.sum("n").over(w).cast("bigint").alias("cum_converted"),
            F.round(
                F.sum("n").over(w).cast("double") / F.col("n_signup"), 6
            ).alias("conversion_cdf"),
        )
        .orderBy("week_bucket")
    )


# ---------------------------------------------------------------------------
# q223 — association-rule confidence / lift
# ---------------------------------------------------------------------------


@query(
    "q223_assoc_rule_lift",
    oracle="""
    WITH ob AS (
      SELECT DISTINCT l.l_orderkey, p.p_brand
      FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    ),
    nb AS (SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY p_brand),
    nn AS (SELECT CAST(COUNT(DISTINCT l_orderkey) AS BIGINT) AS n_orders
           FROM ob),
    pr AS (
      SELECT a.p_brand AS brand_a, b.p_brand AS brand_b, COUNT(*) AS n_ab
      FROM ob a JOIN ob b
        ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
      GROUP BY 1, 2
    )
    SELECT pr.brand_a, pr.brand_b,
           CAST(pr.n_ab AS BIGINT) AS n_ab,
           ROUND(CAST(pr.n_ab AS DOUBLE) / na.n, 6) AS conf_a_to_b,
           ROUND(CAST(pr.n_ab AS DOUBLE) / nb2.n, 6) AS conf_b_to_a,
           ROUND(CAST(pr.n_ab * nn.n_orders AS DOUBLE) / (na.n * nb2.n), 6)
             AS lift
    FROM pr
    JOIN nb na ON na.p_brand = pr.brand_a
    JOIN nb nb2 ON nb2.p_brand = pr.brand_b
    CROSS JOIN nn
    ORDER BY lift DESC, n_ab DESC, brand_a, brand_b
    LIMIT 20
    """,
    tags=("relational", "basket", "association", "affinity"),
)
def q223_assoc_rule_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over q164's brand baskets, graded: support
    (co-occurrence count), directional confidence P(b|a) and P(a|b),
    and lift = P(ab)/(P(a)P(b)) — the Apriori metrics that turn raw
    pair counts into recommendations (lift > 1 = genuinely
    complementary, not just individually popular). Every metric is a
    single deterministic double division of exact BIGINT products;
    ranking is on the rounded lift with count+name tiebreaks.

    Scale: the distinct (order, brand) projection collapses lineitem
    before the self-join; the pair space is bounded by sum of
    per-order basket-size squared — the same bucket-cost shape as LSH
    banding, and the reason baskets (not raw lineitems) self-join.
    Brand counts broadcast to the pair table."""
    li = load(spark, sf_dir, "lineitem")
    part = load(spark, sf_dir, "part")
    ob = (
        li.join(part, li.l_partkey == part.p_partkey)
        .select("l_orderkey", "p_brand")
        .distinct()
    )
    nb = ob.groupBy("p_brand").agg(F.count(F.lit(1)).alias("n"))
    nn = ob.agg(F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"))
    a = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_a"))
    b = ob.select(F.col("l_orderkey"), F.col("p_brand").alias("brand_b"))
    pr = (
        a.join(b, "l_orderkey")
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count(F.lit(1)).alias("n_ab"))
    )
    na = nb.select(F.col("p_brand").alias("brand_a"), F.col("n").alias("na"))
    nb2 = nb.select(F.col("p_brand").alias("brand_b"), F.col("n").alias("nbv"))
    return (
        pr.join(F.broadcast(na), "brand_a")
        .join(F.broadcast(nb2), "brand_b")
        .crossJoin(F.broadcast(nn))
        .select(
            "brand_a",
            "brand_b",
            F.col("n_ab").cast("bigint").alias("n_ab"),
            F.round(F.col("n_ab").cast("double") / F.col("na"), 6).alias(
                "conf_a_to_b"
            ),
            F.round(F.col("n_ab").cast("double") / F.col("nbv"), 6).alias(
                "conf_b_to_a"
            ),
            F.round(
                (F.col("n_ab") * F.col("n_orders")).cast("double")
                / (F.col("na") * F.col("nbv")),
                6,
            ).alias("lift"),
        )
        .orderBy(F.col("lift").desc(), F.col("n_ab").desc(), "brand_a", "brand_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q224 — head-token rank drift between corpus halves
# ---------------------------------------------------------------------------


@query(
    "q224_token_rank_drift",
    oracle="""
    WITH mx AS (SELECT MAX(doc_id) AS m FROM documents),
    tk AS (
      SELECT CASE WHEN doc_id * 2 <= mx.m THEN 0 ELSE 1 END AS half, tok
      FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents) t CROSS JOIN mx
    ),
    cnts AS (
      SELECT tok,
             CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_first,
             CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS cnt_second
      FROM tk GROUP BY tok
    ),
    top AS (
      SELECT * FROM cnts
      ORDER BY cnt_first + cnt_second DESC, tok LIMIT 20
    )
    SELECT tok AS token, cnt_first, cnt_second,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt_first DESC, tok) AS BIGINT)
             AS rank_first,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt_second DESC, tok) AS BIGINT)
             AS rank_second,
           CAST(ROW_NUMBER() OVER (ORDER BY cnt_second DESC, tok)
                - ROW_NUMBER() OVER (ORDER BY cnt_first DESC, tok) AS BIGINT)
             AS rank_shift
    FROM top ORDER BY token
    """,
    tags=("llm", "text", "drift", "vocabulary"),
)
def q224_token_rank_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Topical drift probe: the 20 head tokens of the whole corpus,
    with their frequency RANKS recomputed separately over the first
    and second halves of the doc_id range (the ingestion-order proxy)
    and the rank shift between halves. A head token falling several
    ranks between halves is the cheap early warning that the corpus
    mix changed mid-ingestion — the vocabulary-level complement of
    q156's quality drift and q199's value PSI. Ranks are computed
    ONLY within the fixed 20-token head (integer counts, name
    tiebreaks), so the window is bounded and every output is exact
    integer.

    Scale: one token-count aggregate with two conditional sums (the
    halves gate is a broadcast scalar), one TakeOrdered(20), then
    windows over 20 rows."""
    docs = load(spark, sf_dir, "documents")
    mx = docs.agg(F.max("doc_id").alias("m"))
    tk = (
        docs.crossJoin(F.broadcast(mx))
        .select(
            F.when(F.col("doc_id") * 2 <= F.col("m"), 0).otherwise(1).alias("half"),
            F.explode(F.split("text", " ")).alias("tok"),
        )
    )
    cnts = tk.groupBy("tok").agg(
        F.sum(F.when(F.col("half") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_first"),
        F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("cnt_second"),
    )
    top = cnts.orderBy(
        (F.col("cnt_first") + F.col("cnt_second")).desc(), "tok"
    ).limit(20)
    # global-window-ok: 20-row frame (applied after limit(20))
    w1 = W.orderBy(F.col("cnt_first").desc(), "tok")
    # global-window-ok: 20-row frame (applied after limit(20))
    w2 = W.orderBy(F.col("cnt_second").desc(), "tok")
    return (
        top.select(
            F.col("tok").alias("token"),
            "cnt_first",
            "cnt_second",
            F.row_number().over(w1).cast("bigint").alias("rank_first"),
            F.row_number().over(w2).cast("bigint").alias("rank_second"),
            (F.row_number().over(w2) - F.row_number().over(w1))
            .cast("bigint")
            .alias("rank_shift"),
        )
        .orderBy("token")
    )
