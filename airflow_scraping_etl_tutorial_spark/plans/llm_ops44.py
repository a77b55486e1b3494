"""LLM-ops wave 45: graph community quality, forensic digit auditing,
and time-series encoding pricing —

- q375: language-modularity of the near-dup graph — Newman modularity
  of the partition-by-lang over q68's verified MinHash pairs, in
  exact signed micro; tells whether near-duplication is a
  within-language phenomenon (it should be) before anyone trusts a
  per-lang dedup shard plan.
- q376: Benford first-digit audit of order totals — observed
  first-significant-digit mix vs round(log10(1+1/d)*1e6) ppm
  expectations with an exact integer chi-square; the classic
  fabricated-feed detector for an ingested numeric column.
- q377: timestamp delta / delta-of-delta varint pricing — bytes for
  raw int64 vs varint(delta) vs varint(zigzag(delta-of-delta))
  per (event_type, day) series; the Gorilla-style encoding benefit
  audit that complements the FOR bit-packing (wave 37), dictionary
  (q288), RLE (q313) and z-order (q312) layout pricers.

Output-hardening doctrine (as waves 6-44): modularity contributions
are SIGN-SPLIT (sign INT + abs-micro BIGINT) because Spark's `div`
truncates toward zero while DuckDB's `//` floors — they agree only on
non-negative operands; Benford chi-square uses the q368
HUGEINT/DECIMAL(38,0) exact-rational lanes with import-time ppm
constants shared by BOTH engines; varint byte counts are the pure
integer (LENGTH(BIN(v)) + 6) // 7 on non-negative ints (BIN('0') has
length 1, so v = 0 prices to 1 byte with no special case).

Reference parity: the reference ingests one numeric feed per day;
q376 is the digit-level plausibility audit for such a feed, and q377
prices the storage layout its history table should use.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q375 — language-modularity of the near-dup graph
# ---------------------------------------------------------------------------


@query(
    "q375_dup_graph_lang_modularity",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    lp AS (
      SELECT p.doc_id_a, p.doc_id_b, da.lang AS lang_a, db.lang AS lang_b
      FROM pairs p
      JOIN documents da ON da.doc_id = p.doc_id_a
      JOIN documents db ON db.doc_id = p.doc_id_b
    ),
    m1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM lp),
    ends AS (
      SELECT doc_id_a AS node, lang_a AS lang FROM lp
      UNION ALL
      SELECT doc_id_b, lang_b FROM lp
    ),
    deg AS (
      SELECT lang, CAST(COUNT(*) AS BIGINT) AS d,
             CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes
      FROM ends GROUP BY lang
    ),
    internal AS (
      SELECT lang_a AS lang, CAST(COUNT(*) AS BIGINT) AS e
      FROM lp WHERE lang_a = lang_b GROUP BY lang_a
    ),
    scored AS (
      SELECT g.lang, g.n_nodes, COALESCE(i.e, 0) AS e, g.d,
             4 * CAST(m1.m AS HUGEINT) * COALESCE(i.e, 0)
               - CAST(g.d AS HUGEINT) * g.d AS num,
             4 * CAST(m1.m AS HUGEINT) * m1.m AS den
      FROM deg g
      LEFT JOIN internal i ON i.lang = g.lang
      CROSS JOIN m1
    ),
    tot AS (
      SELECT CAST(SUM(num) AS HUGEINT) AS tnum, MIN(den) AS den FROM scored
    )
    SELECT s.lang, s.n_nodes,
           CAST(s.e AS BIGINT) AS internal_edges,
           s.d AS degree_sum,
           CAST(CASE WHEN s.num > 0 THEN 1 WHEN s.num < 0 THEN -1 ELSE 0 END
                AS INT) AS contrib_sign,
           CAST(ABS(s.num) * 1000000 // s.den AS BIGINT) AS contrib_abs_micro,
           CAST(CASE WHEN t.tnum > 0 THEN 1 WHEN t.tnum < 0 THEN -1 ELSE 0 END
                AS INT) AS q_sign,
           CAST(ABS(t.tnum) * 1000000 // t.den AS BIGINT) AS q_abs_micro
    FROM scored s CROSS JOIN tot t
    ORDER BY s.lang
    """,
    tags=("llm", "graph", "modularity", "dedup"),
)
def q375_dup_graph_lang_modularity(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Newman modularity Q = sum_c (e_c/m - (d_c/2m)^2) of the
    near-dup graph (q68's verified MinHash pairs at jaccard >= 0.5)
    under the partition-by-language: per lang, its node count, its
    internal edge count e_c, its endpoint degree sum d_c, the signed
    contribution (4m*e_c - d_c^2)/(4m^2), and the graph-level Q — all
    as exact rationals in DECIMAL(38,0)/HUGEINT lanes, truncated ONCE
    to micro. Contributions are sign-split (sign + abs) because the
    engines' integer divisions disagree on negatives (Spark truncates,
    DuckDB floors) but agree on ABS. Near-dups should live within a
    language: high Q certifies the per-lang shard plan that makes the
    100 TB dedup embarrassingly parallel; low Q says cross-lang
    templates dominate and sharding by lang would split real clusters.

    Scale: the pair table is the bucketed-never-all-pairs q68 operator;
    everything after is two id-keyed joins to a 2-column lang map and
    |langs|-row arithmetic."""
    docs = load(spark, sf_dir, "documents")
    from ..operators.dedup import minhash_near_duplicates, minhash_signature_table

    sig = minhash_signature_table(docs).persist()
    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.5, signatures=sig)
    # lp and scored are localCheckpointed (disk-backed, lineage-
    # TRUNCATED) rather than persist()ed — round-12 eviction-hardening
    # (the q226/q250/q331 doctrine): lp feeds 3 consumers and with
    # full lineage an eviction multiplies minhash recomputes; the
    # checkpointed degraded mode is a local-disk re-read.
    langs = docs.select("doc_id", "lang")
    lp = (
        pairs.join(
            langs.select(
                F.col("doc_id").alias("doc_id_a"), F.col("lang").alias("lang_a")
            ),
            "doc_id_a",
        )
        .join(
            langs.select(
                F.col("doc_id").alias("doc_id_b"), F.col("lang").alias("lang_b")
            ),
            "doc_id_b",
        )
        .localCheckpoint(eager=True)
    )
    sig.unpersist()
    m1 = lp.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    ends = lp.select(
        F.col("doc_id_a").alias("node"), F.col("lang_a").alias("lang")
    ).unionAll(lp.select("doc_id_b", "lang_b"))
    deg = ends.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("d"),
        F.countDistinct("node").cast("bigint").alias("n_nodes"),
    )
    internal = (
        lp.filter(F.col("lang_a") == F.col("lang_b"))
        .groupBy(F.col("lang_a").alias("lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e"))
    )
    scored = (
        deg.join(internal, "lang", "left")
        .select(
            "lang",
            "n_nodes",
            F.coalesce(F.col("e"), F.lit(0)).cast("bigint").alias("e"),
            "d",
        )
        .crossJoin(F.broadcast(m1))
        .select(
            "lang",
            "n_nodes",
            "e",
            "d",
            F.expr(
                "4 * CAST(m AS DECIMAL(38,0)) * e"
                " - CAST(d AS DECIMAL(38,0)) * d"
            ).alias("num"),
            F.expr("4 * CAST(m AS DECIMAL(38,0)) * m").alias("den"),
        )
        .persist()
    )
    tot = scored.agg(
        F.expr("CAST(SUM(num) AS DECIMAL(38,0))").alias("tnum"),
        F.min("den").alias("tden"),
    )
    out = (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_nodes",
            F.col("e").cast("bigint").alias("internal_edges"),
            F.col("d").alias("degree_sum"),
            F.expr(
                "CAST(CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END"
                " AS INT)"
            ).alias("contrib_sign"),
            F.expr("CAST(ABS(num) * 1000000 div den AS BIGINT)").alias(
                "contrib_abs_micro"
            ),
            F.expr(
                "CAST(CASE WHEN tnum > 0 THEN 1 WHEN tnum < 0 THEN -1 ELSE 0"
                " END AS INT)"
            ).alias("q_sign"),
            F.expr("CAST(ABS(tnum) * 1000000 div tden AS BIGINT)").alias(
                "q_abs_micro"
            ),
        )
        .orderBy("lang")
    )
    return out


# ---------------------------------------------------------------------------
# q376 — Benford first-digit audit
# ---------------------------------------------------------------------------

# First-digit Benford expectations in ppm, rounded ONCE at import time
# and inlined into BOTH engines (the q363 shared-integer-constant
# doctrine). They sum to exactly 1_000_000.
BENFORD_PPM: tuple[tuple[str, int], ...] = tuple(
    (str(d), round(math.log10(1 + 1 / d) * 1_000_000)) for d in range(1, 10)
)
assert sum(p for _, p in BENFORD_PPM) == 1_000_000

_BENFORD_VALUES = ", ".join(f"('{d}', {p})" for d, p in BENFORD_PPM)


@query(
    "q376_benford_first_digit",
    oracle=f"""
    WITH digits(digit, exp_ppm) AS (VALUES {_BENFORD_VALUES}),
    obs AS (
      SELECT SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR),
                    1, 1) AS digit,
             CAST(COUNT(*) AS BIGINT) AS o
      FROM orders GROUP BY 1
    ),
    n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM orders),
    scored AS (
      SELECT d.digit, CAST(d.exp_ppm AS INT) AS exp_ppm,
             COALESCE(o.o, 0) AS o,
             CAST(COALESCE(o.o, 0) * 1000000 // n1.n AS BIGINT) AS obs_ppm,
             CAST((CAST(COALESCE(o.o, 0) AS HUGEINT) * 1000000
                   - CAST(n1.n AS HUGEINT) * d.exp_ppm)
                  * (CAST(COALESCE(o.o, 0) AS HUGEINT) * 1000000
                     - CAST(n1.n AS HUGEINT) * d.exp_ppm)
                  // (CAST(n1.n AS HUGEINT) * d.exp_ppm) AS BIGINT)
               AS contrib_micro
      FROM digits d
      LEFT JOIN obs o ON o.digit = d.digit
      CROSS JOIN n1
    ),
    tot AS (
      SELECT CAST(SUM(contrib_micro) AS BIGINT) AS total_chi2_micro
      FROM scored
    )
    SELECT s.digit, CAST(s.o AS BIGINT) AS n_orders, s.obs_ppm, s.exp_ppm,
           s.contrib_micro, t.total_chi2_micro,
           CAST(CASE WHEN t.total_chi2_micro > 15507000 THEN 1 ELSE 0 END
                AS INT) AS reject_95
    FROM scored s CROSS JOIN tot t
    ORDER BY s.digit
    """,
    tags=("llm", "quality", "benford", "chi-square"),
)
def q376_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford first-significant-digit audit of o_totalprice: per
    digit 1-9, the observed order count and ppm share vs the Benford
    expectation round(log10(1+1/d)*1e6) (import-time integer constants
    shared verbatim by both engines; they sum to exactly 1e6), the
    exact integer chi-square contribution (1e6*O - n*exp_ppm)^2 /
    (n*exp_ppm) in HUGEINT/DECIMAL(38,0) lanes (q368 doctrine), and
    the 8-dof decision vs 15.507 (the q373 literal). The first digit
    is SUBSTR of the stringified FLOOR-to-BIGINT — integer formatting
    is identical across engines, unlike double formatting. A uniform
    price band (TPC-H's is) rejects loudly; a multi-decade organic
    feed should not — the classic fabricated-numbers detector.

    Scale: one scan to a 9-row grid; the grid LEFT JOIN keeps
    zero-count digits with their positive expectations."""
    orders = load(spark, sf_dir, "orders")
    digits = spark.createDataFrame(
        [(d, p) for d, p in BENFORD_PPM], "digit string, exp_ppm int"
    )
    obs = (
        orders.select(
            F.substring(
                F.floor(F.col("o_totalprice")).cast("bigint").cast("string"),
                1,
                1,
            ).alias("digit")
        )
        .groupBy("digit")
        .agg(F.count(F.lit(1)).cast("bigint").alias("o"))
    )
    n1 = orders.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    scored = (
        digits.join(obs, "digit", "left")
        .select(
            "digit",
            "exp_ppm",
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
        )
        .crossJoin(F.broadcast(n1))
        .select(
            "digit",
            "exp_ppm",
            F.col("o").alias("n_orders"),
            F.expr("CAST(o * 1000000 div n AS BIGINT)").alias("obs_ppm"),
            F.expr(
                "CAST((CAST(o AS DECIMAL(38,0)) * 1000000"
                " - CAST(n AS DECIMAL(38,0)) * exp_ppm)"
                " * (CAST(o AS DECIMAL(38,0)) * 1000000"
                " - CAST(n AS DECIMAL(38,0)) * exp_ppm)"
                " div (CAST(n AS DECIMAL(38,0)) * exp_ppm) AS BIGINT)"
            ).alias("contrib_micro"),
        )
        .persist()
    )
    tot = scored.agg(
        F.sum("contrib_micro").cast("bigint").alias("total_chi2_micro")
    )
    out = (
        scored.crossJoin(F.broadcast(tot))
        .select(
            "digit",
            "n_orders",
            "obs_ppm",
            "exp_ppm",
            "contrib_micro",
            "total_chi2_micro",
            F.expr(
                "CAST(CASE WHEN total_chi2_micro > 15507000 THEN 1 ELSE 0 END"
                " AS INT)"
            ).alias("reject_95"),
        )
        .orderBy("digit")
    )
    return out


# ---------------------------------------------------------------------------
# q377 — timestamp delta / delta-of-delta varint pricing
# ---------------------------------------------------------------------------


@query(
    "q377_timestamp_delta_encoding",
    oracle="""
    WITH ev AS (
      SELECT event_type, CAST(ts AS DATE) AS day, event_id,
             CAST(EPOCH_US(ts) AS BIGINT) AS us
      FROM events
    ),
    d1 AS (
      SELECT event_type, day, event_id, us,
             us - LAG(us) OVER (PARTITION BY event_type, day
                                ORDER BY us, event_id) AS delta
      FROM ev
    ),
    d2 AS (
      SELECT event_type, delta,
             delta - LAG(delta) OVER (PARTITION BY event_type, day
                                      ORDER BY us, event_id) AS dod
      FROM d1
    ),
    priced AS (
      SELECT event_type,
             CASE WHEN delta IS NULL THEN 1 ELSE 0 END AS is_head,
             CASE WHEN delta IS NULL THEN 8
                  ELSE (LENGTH(BIN(delta)) + 6) // 7 END AS delta_b,
             CASE WHEN delta IS NULL THEN 8
                  WHEN dod IS NULL THEN (LENGTH(BIN(delta)) + 6) // 7
                  ELSE (LENGTH(BIN(CASE WHEN dod >= 0 THEN 2 * dod
                                        ELSE -2 * dod - 1 END)) + 6) // 7
                  END AS dod_b
      FROM d2
    )
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(is_head) AS BIGINT) AS n_series,
           CAST(8 * COUNT(*) AS BIGINT) AS raw_bytes,
           CAST(SUM(delta_b) AS BIGINT) AS delta_bytes,
           CAST(SUM(dod_b) AS BIGINT) AS dod_bytes,
           CAST((8 * COUNT(*) - SUM(delta_b)) * 1000000
                // (8 * COUNT(*)) AS BIGINT) AS delta_savings_ppm,
           CAST((8 * COUNT(*) - SUM(dod_b)) * 1000000
                // (8 * COUNT(*)) AS BIGINT) AS dod_savings_ppm
    FROM priced GROUP BY event_type ORDER BY event_type
    """,
    tags=("llm", "layout", "encoding", "timeseries"),
)
def q377_timestamp_delta_encoding(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Gorilla-style timestamp encoding pricer: per event_type, the
    bytes to store event timestamps as raw int64 vs LEB128
    varint(delta) vs varint(zigzag(delta-of-delta)), with deltas
    computed within (event_type, day) series (each series head pays
    the full 8 bytes; the second element prices its delta; the rest
    price zigzag(dod) — zigzag because second differences go
    negative). Varint bytes are the pure integer
    (LENGTH(BIN(v)) + 6) // 7 (BIN('0') has length 1, so 0 needs no
    special case); savings are ppm vs raw. Completes the layout-pricer
    family: dictionary (q288), z-order (q312), RLE (q313), FOR
    bit-packing (wave 37) — this one prices the TIME axis.

    Scale: the only shuffle is the (event_type, day)-partitioned
    window — the same block grain a real encoder uses, so partitions
    stay bounded no matter how many days of events arrive; the
    per-type rollup is a map-side-combinable sum."""
    from pyspark.sql import Window as W

    events = load(spark, sf_dir, "events")
    w = W.partitionBy("event_type", "day").orderBy("us", "event_id")
    ev = events.select(
        "event_type",
        F.col("ts").cast("date").alias("day"),
        "event_id",
        F.unix_micros("ts").alias("us"),
    )
    d1 = ev.select(
        "event_type",
        "day",
        "event_id",
        "us",
        (F.col("us") - F.lag("us").over(w)).alias("delta"),
    )
    d2 = d1.select(
        "event_type",
        "delta",
        (F.col("delta") - F.lag("delta").over(w)).alias("dod"),
    )
    vb = "(LENGTH(BIN({v})) + 6) div 7"
    priced = d2.select(
        "event_type",
        F.expr("CASE WHEN delta IS NULL THEN 1 ELSE 0 END").alias("is_head"),
        F.expr(
            "CASE WHEN delta IS NULL THEN 8 ELSE "
            + vb.format(v="delta")
            + " END"
        ).alias("delta_b"),
        F.expr(
            "CASE WHEN delta IS NULL THEN 8 WHEN dod IS NULL THEN "
            + vb.format(v="delta")
            + " ELSE "
            + vb.format(v="CASE WHEN dod >= 0 THEN 2 * dod ELSE -2 * dod - 1 END")
            + " END"
        ).alias("dod_b"),
    )
    return (
        priced.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.sum("is_head").cast("bigint").alias("n_series"),
            (8 * F.count(F.lit(1))).cast("bigint").alias("raw_bytes"),
            F.sum("delta_b").cast("bigint").alias("delta_bytes"),
            F.sum("dod_b").cast("bigint").alias("dod_bytes"),
        )
        .select(
            "event_type",
            "n_events",
            "n_series",
            "raw_bytes",
            "delta_bytes",
            "dod_bytes",
            F.expr(
                "CAST((raw_bytes - delta_bytes) * 1000000 div raw_bytes"
                " AS BIGINT)"
            ).alias("delta_savings_ppm"),
            F.expr(
                "CAST((raw_bytes - dod_bytes) * 1000000 div raw_bytes"
                " AS BIGINT)"
            ).alias("dod_savings_ppm"),
        )
        .orderBy("event_type")
    )
