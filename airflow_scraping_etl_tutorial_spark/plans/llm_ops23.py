"""LLM-ops wave 24: physical data LAYOUT audits — the two
storage-design questions q228 (file sizing) and q288 (dictionary
encoding) do not answer:

- q312: does Z-ORDERING the events table beat a linear sort for
  multi-dimensional data skipping? Exact per-file min/max zone maps
  under three layouts, probed with a fixed workload;
- q313: what does each sort order do to RUN-LENGTH encoding? Exact
  run counts (segment-local, scale-safe) and the byte impact.

Output-hardening doctrine (as waves 6-23): bit interleaving is pure
integer div/mod arithmetic (no engine-specific bit operators), file
assignment is equal-WIDTH key ranges (a map-only pure function — never
a global NTILE window, which would serialize the table through one
partition), run counting windows partition by a 64Ki-row id segment
(the q102 shard-local doctrine), and every rate is the integer
truncating micro-division.

Reference parity: the reference lands one row per day into a table it
later scans back whole (dags/insert_data.py:53-61); at 100 TB the
difference between that scan reading 3% of files and 100% of files IS
the layout decision these two audits price.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q312 — z-order vs linear sort: zone-map skipping benefit
# ---------------------------------------------------------------------------

_BITS = 8  # coordinate space: 8 bits per dimension (cu, cd in 0..255)
_N_FILES = 32


def _z_expr(intdiv: str) -> str:
    """16-bit Morton code of (cu, cd) via pure div/mod arithmetic —
    bit i of cu lands at position 2i, bit i of cd at 2i+1. Identical
    text modulo the integer-division operator (`div` Spark, `//`
    DuckDB)."""
    terms = []
    for i in range(_BITS):
        terms.append(f"((cu {intdiv} {1 << i}) % 2) * {4 ** i}")
        terms.append(f"((cd {intdiv} {1 << i}) % 2) * {2 * 4 ** i}")
    return " + ".join(terms)


_PROBE_CASE = """CASE probe
      WHEN 'point_user' THEN (min_cu <= 7 AND 7 <= max_cu)
      WHEN 'point_day' THEN (min_cd <= 15 AND 15 <= max_cd)
      ELSE (min_cu <= 11 AND max_cu >= 4 AND min_cd <= 23 AND max_cd >= 8)
      END"""


@query(
    "q312_zorder_skipping_benefit",
    oracle=f"""
    WITH e AS (
      SELECT event_id, user_id % 256 AS cu,
             (CAST(ts AS DATE) - DATE '2024-01-01') % 256 AS cd
      FROM events
    ),
    z AS (SELECT event_id, cu, cd, {_z_expr('//')} AS zv FROM e),
    mx AS (
      SELECT MAX(event_id) AS m, MAX(cu) AS mc, MAX(zv) AS mz FROM z
    ),
    files AS (
      SELECT 'natural' AS layout, event_id * {_N_FILES} // (m + 1) AS file_id,
             cu, cd
      FROM z CROSS JOIN mx
      UNION ALL
      SELECT 'linear', cu * {_N_FILES} // (mc + 1), cu, cd
      FROM z CROSS JOIN mx
      UNION ALL
      SELECT 'zorder', zv * {_N_FILES} // (mz + 1), cu, cd
      FROM z CROSS JOIN mx
    ),
    stats AS (
      SELECT layout, file_id, COUNT(*) AS n_rows,
             MIN(cu) AS min_cu, MAX(cu) AS max_cu,
             MIN(cd) AS min_cd, MAX(cd) AS max_cd
      FROM files GROUP BY layout, file_id
    ),
    probes AS (SELECT UNNEST(['point_user', 'point_day', 'range_box'])
                 AS probe)
    SELECT layout, probe,
           CAST(COUNT(*) AS BIGINT) AS n_files,
           CAST(SUM(CASE WHEN {_PROBE_CASE} THEN 1 ELSE 0 END) AS BIGINT)
             AS files_scanned,
           CAST((COUNT(*) - SUM(CASE WHEN {_PROBE_CASE} THEN 1 ELSE 0 END))
                * 1000000 // COUNT(*) AS BIGINT) AS skip_ppm,
           CAST((SUM(n_rows)
                 - SUM(CASE WHEN {_PROBE_CASE} THEN n_rows ELSE 0 END))
                * 1000000 // SUM(n_rows) AS BIGINT) AS rows_skip_ppm
    FROM stats CROSS JOIN probes
    GROUP BY layout, probe ORDER BY layout, probe
    """,
    tags=("infra", "layout", "zorder", "zonemap", "planning"),
)
def q312_zorder_skipping_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zone-map data skipping under three physical layouts of the
    events table — natural (insertion) order, linear sort on the user
    dimension, and a 16-bit Morton (Z-order) interleave of (user % 256,
    day % 256) — each cut into 32 equal-WIDTH key-range files over
    the occupied key range (the 1-row max broadcast), with
    exact per-file min/max zone maps, probed by a fixed workload
    (user point lookup, day point lookup, user x day box). The
    expected shape: the linear layout skips brilliantly on its
    LEADING dimension and not at all on the other; z-order skips
    usefully on BOTH; natural order skips day probes (insertion time
    correlates with day) but nothing else. skip_ppm is the fraction
    of files a zone-map reader never opens, and rows_skip_ppm is the
    row-weighted version (the fair cross-layout compare when sparse
    key spaces leave a layout with fewer, larger files) — at 100 TB
    that is the scan bill. Morton bits are pure div/mod integer
    arithmetic
    (identical in both engines); file ids are equal-width key ranges,
    i.e. map-only pure functions — deliberately NOT an equal-count
    global NTILE, which would funnel the table through one window
    partition (the max event_id for the natural layout comes from a
    1-row broadcast instead).

    Scale: one map pass to coordinates + Morton code (r13: the three
    layouts EXPLODE from that single pass — the previous 3-way union
    re-scanned events per branch, Spark unions don't share common
    subplans), one (layout, file) min/max aggregation (map-side
    combinable, 96 groups), a 3-row probe broadcast. Nothing shuffles
    but digests."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        (F.col("user_id") % 256).alias("cu"),
        F.expr(
            "datediff(to_date(ts), DATE '2024-01-01') % 256"
        ).alias("cd"),
    )
    z = e.select("event_id", "cu", "cd", F.expr(_z_expr("div")).alias("zv"))
    mx = z.agg(
        F.max("event_id").alias("m"),
        F.max("cu").alias("mc"),
        F.max("zv").alias("mz"),
    )
    # ONE pass (r13): the three layouts explode from a single
    # projection instead of a 3-way union — a DataFrame union does NOT
    # share its branches' common subplan, so the previous shape
    # re-scanned events and recomputed the Morton code three times.
    # The explode triples rows map-side for exactly one operator
    # before the partial aggregation collapses them into the 96
    # (layout, file) groups; at 100 TB the saving is two full scans
    # of the fact table.
    zm = z.crossJoin(F.broadcast(mx))
    exploded = zm.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("natural").alias("layout"),
                    F.expr(f"event_id * {_N_FILES} div (m + 1)").alias(
                        "file_id"
                    ),
                ),
                F.struct(
                    F.lit("linear").alias("layout"),
                    F.expr(f"cu * {_N_FILES} div (mc + 1)").alias("file_id"),
                ),
                F.struct(
                    F.lit("zorder").alias("layout"),
                    F.expr(f"zv * {_N_FILES} div (mz + 1)").alias("file_id"),
                ),
            )
        ).alias("lf"),
        "cu",
        "cd",
    )
    stats = (
        exploded.select(
            F.col("lf.layout").alias("layout"),
            F.col("lf.file_id").alias("file_id"),
            "cu",
            "cd",
        )
        .groupBy("layout", "file_id")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("cu").alias("min_cu"),
            F.max("cu").alias("max_cu"),
            F.min("cd").alias("min_cd"),
            F.max("cd").alias("max_cd"),
        )
    )
    probes = spark.createDataFrame(
        [("point_user",), ("point_day",), ("range_box",)], ["probe"]
    )
    hit = F.expr(_PROBE_CASE)
    return (
        stats.crossJoin(F.broadcast(probes))
        .groupBy("layout", "probe")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(hit, 1).otherwise(0)).cast("bigint").alias(
                "files_scanned"
            ),
            F.sum("n_rows").alias("_rows"),
            F.sum(F.when(hit, F.col("n_rows")).otherwise(0)).alias(
                "_rows_scanned"
            ),
        )
        .select(
            "layout",
            "probe",
            "n_files",
            "files_scanned",
            F.expr(
                "CAST((n_files - files_scanned) * 1000000 div n_files"
                " AS BIGINT)"
            ).alias("skip_ppm"),
            F.expr(
                "CAST((_rows - _rows_scanned) * 1000000 div _rows"
                " AS BIGINT)"
            ).alias("rows_skip_ppm"),
        )
        .orderBy("layout", "probe")
    )


# ---------------------------------------------------------------------------
# q313 — run-length encoding benefit per sort order
# ---------------------------------------------------------------------------

_SEG = 65536  # run counting is segment-local (q102 shard doctrine)


@query(
    "q313_rle_sortorder_benefit",
    oracle=f"""
    WITH e AS (
      SELECT event_id, event_type,
             (CAST(ts AS DATE) - DATE '2024-01-01') AS d
      FROM events
    ),
    runs_nat AS (
      SELECT
        SUM(CASE WHEN pt IS NULL OR pt <> event_type THEN 1 ELSE 0 END)
          AS r_type,
        SUM(CASE WHEN pd IS NULL OR pd <> d THEN 1 ELSE 0 END) AS r_day
      FROM (
        SELECT event_type, d,
               LAG(event_type) OVER (PARTITION BY event_id // {_SEG}
                                     ORDER BY event_id) AS pt,
               LAG(d) OVER (PARTITION BY event_id // {_SEG}
                            ORDER BY event_id) AS pd
        FROM e
      )
    ),
    meta AS (
      SELECT COUNT(*) AS n,
             COUNT(DISTINCT event_type) AS k_type,
             COUNT(DISTINCT d) AS k_day,
             SUM(LENGTH(event_type) + 1) AS plain_type_bytes,
             MAX(LENGTH(event_type)) AS w_type
      FROM e
    ),
    rows_ AS (
      SELECT 'event_type' AS col, 'natural' AS layout,
             r_type AS runs, (w_type + 4) * r_type AS rle_bytes,
             plain_type_bytes AS plain_bytes
      FROM runs_nat CROSS JOIN meta
      UNION ALL
      SELECT 'event_type', 'sorted', k_type, (w_type + 4) * k_type,
             plain_type_bytes
      FROM meta
      UNION ALL
      SELECT 'day', 'natural', r_day, 8 * r_day, 4 * n
      FROM runs_nat CROSS JOIN meta
      UNION ALL
      SELECT 'day', 'sorted', k_day, 8 * k_day, 4 * n FROM meta
    )
    SELECT col, layout,
           CAST(runs AS BIGINT) AS runs,
           CAST(rle_bytes AS BIGINT) AS rle_bytes,
           CAST(plain_bytes AS BIGINT) AS plain_bytes,
           CAST((plain_bytes - rle_bytes) * 1000000 // plain_bytes
                AS BIGINT) AS savings_ppm
    FROM rows_ ORDER BY col, layout
    """,
    tags=("infra", "layout", "rle", "encoding", "planning"),
)
def q313_rle_sortorder_benefit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """What each sort order is worth to run-length encoding: exact
    run counts for the event_type and day columns in NATURAL
    (insertion) order versus SORTED-by-that-column order, with the
    byte impact (runs x (value width + 4-byte length) vs the plain
    column mass; savings can be negative, which is the honest answer
    for high-churn natural-order strings). In a column fully sorted
    by its own values the run count IS the distinct count — computed
    exactly as such, no giant sort needed. Natural-order runs use
    LAG within 64Ki-row event_id segments (the q102 shard-local
    doctrine: each segment under-merges at most one run at its
    boundary, identically in both engines, and no window ever sees
    more than 64Ki rows). q288 prices dictionary encoding, which
    ignores order; this is the orthogonal dial — the same column can
    be dictionary-hostile but RLE-friendly once sorted, which is
    exactly what parquet's RLE_DICTIONARY hybrid exploits.

    Scale: one segmented-window pass (bounded partitions) + one
    map-side-combinable distinct/meta aggregate; output is 4 rows."""
    ev = load(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "event_type",
        F.expr("datediff(to_date(ts), DATE '2024-01-01')").alias("d"),
    )
    w = W.partitionBy(F.expr(f"event_id div {_SEG}")).orderBy("event_id")
    lagged = e.select(
        "event_type",
        "d",
        F.lag("event_type").over(w).alias("pt"),
        F.lag("d").over(w).alias("pd"),
    )
    runs_nat = lagged.agg(
        F.sum(
            F.when(
                F.col("pt").isNull() | (F.col("pt") != F.col("event_type")), 1
            ).otherwise(0)
        ).alias("r_type"),
        F.sum(
            F.when(F.col("pd").isNull() | (F.col("pd") != F.col("d")), 1)
            .otherwise(0)
        ).alias("r_day"),
    )
    meta = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.count_distinct("event_type").alias("k_type"),
        F.count_distinct("d").alias("k_day"),
        F.sum(F.length("event_type") + 1).alias("plain_type_bytes"),
        F.max(F.length("event_type")).alias("w_type"),
    )
    both = runs_nat.crossJoin(F.broadcast(meta))
    rows_ = (
        both.selectExpr(
            "'event_type' AS col",
            "'natural' AS layout",
            "r_type AS runs",
            "(w_type + 4) * r_type AS rle_bytes",
            "plain_type_bytes AS plain_bytes",
        )
        .unionByName(
            meta.selectExpr(
                "'event_type' AS col",
                "'sorted' AS layout",
                "k_type AS runs",
                "(w_type + 4) * k_type AS rle_bytes",
                "plain_type_bytes AS plain_bytes",
            )
        )
        .unionByName(
            both.selectExpr(
                "'day' AS col",
                "'natural' AS layout",
                "r_day AS runs",
                "8 * r_day AS rle_bytes",
                "4 * n AS plain_bytes",
            )
        )
        .unionByName(
            meta.selectExpr(
                "'day' AS col",
                "'sorted' AS layout",
                "k_day AS runs",
                "8 * k_day AS rle_bytes",
                "4 * n AS plain_bytes",
            )
        )
    )
    return rows_.select(
        "col",
        "layout",
        F.col("runs").cast("bigint"),
        F.col("rle_bytes").cast("bigint"),
        F.col("plain_bytes").cast("bigint"),
        F.expr(
            "CAST((plain_bytes - rle_bytes) * 1000000 div plain_bytes"
            " AS BIGINT)"
        ).alias("savings_ppm"),
    ).orderBy("col", "layout")
