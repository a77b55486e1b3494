"""LLM-ops wave 60: operational trends, content-defined chunking, and
WIP aging —

- q420: fulfillment trend — monthly mean order-to-ship lag with the
  exact OLS slope over months; "is shipping getting faster"
  answered in sign-split integer lanes.
- q421: content-defined chunking dedup — documents segmented at
  rolling-hash boundaries (md5 of each 3-gram, boundary iff
  digest %% 64 == 0 — the CDC trick behind every dedup store), and
  the chunk-level dedup benefit priced exactly; the missing level
  between q139's line dedup and q60's whole-doc dedup.
- q422: backlog aging — open orders at the mid-horizon as-of day,
  bucketed by age (<=30 / <=60 / <=90 / older); the WIP aging
  report every fulfillment review starts with.

Output-hardening doctrine (as waves 6-59): slopes are the q273/q394
sign-split rationals on (month-index, micro-mean) points; CDC
boundaries are pure md5 integer arithmetic and chunk identities are
md5 of ORDER-BY-position string aggregation (deterministic in both
engines); ages are integer day arithmetic with LEAST/GREATEST span
normalization (the q399 fixture lesson).

Reference parity: q420/q422 are the reference's fulfillment reviews;
q421 is the storage/dedup layer its document store would sit on.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q420 — fulfillment trend
# ---------------------------------------------------------------------------


@query(
    "q420_fulfillment_trend",
    oracle="""
    WITH lag_ AS (
      SELECT (EXTRACT(YEAR FROM o.o_orderdate) - 1970) * 12
               + EXTRACT(MONTH FROM o.o_orderdate) - 1 AS month,
             CAST(DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                           CAST(l.l_shipdate AS DATE)) AS BIGINT) AS d
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    ),
    monthly AS (
      SELECT month, CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(d) AS BIGINT) AS s
      FROM lag_ GROUP BY month
    ),
    pts AS (
      SELECT month AS x, CAST(s * 1000000 // n AS BIGINT) AS y, n
      FROM monthly
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS k,
             CAST(SUM(x) AS BIGINT) AS sx,
             CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(x * y) AS BIGINT) AS sxy
      FROM pts
    )
    SELECT p.x AS month, p.n AS n_lineitems, p.y AS mean_lag_micro,
           CAST(CASE WHEN m.k * m.sxy - m.sx * m.sy > 0 THEN 1
                     WHEN m.k * m.sxy - m.sx * m.sy < 0 THEN -1 ELSE 0 END
                AS INT) AS trend_sign,
           CAST(CASE WHEN m.k * m.sxx - m.sx * m.sx = 0 THEN 0
                ELSE ABS(CAST(m.k AS HUGEINT) * m.sxy
                         - CAST(m.sx AS HUGEINT) * m.sy)
                     // (CAST(m.k AS HUGEINT) * m.sxx
                         - CAST(m.sx AS HUGEINT) * m.sx)
                END AS BIGINT) AS trend_abs_micro_per_month
    FROM pts p CROSS JOIN mom m ORDER BY month
    """,
    tags=("llm", "operations", "trend", "fulfillment"),
)
def q420_fulfillment_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fulfillment trend: monthly mean order-to-ship lag (exact
    micro-day means over integer day sums) with the exact OLS slope
    of mean lag on month index — sign-split rational (q394 lanes), so
    "shipping is getting slower by 0.4 days/month" is an integer
    fact, not a float. Each month row carries the global trend
    columns for a single self-describing table.

    Scale: one key-only fact-fact join to (month, lag) grain,
    month-grain moment sums, slope arithmetic on O(months) rows."""
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    lag_ = li.join(o, li["l_orderkey"] == o["o_orderkey"]).select(
        F.expr(
            "CAST((EXTRACT(YEAR FROM o_orderdate) - 1970) * 12"
            " + EXTRACT(MONTH FROM o_orderdate) - 1 AS BIGINT)"
        ).alias("month"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.col("o_orderdate").cast("date")
        )
        .cast("bigint")
        .alias("d"),
    )
    monthly = lag_.groupBy("month").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("d").cast("bigint").alias("s"),
    )
    pts = monthly.select(
        F.col("month").alias("x"),
        F.expr("CAST(s * 1000000 div n AS BIGINT)").alias("y"),
        "n",
    ).persist()
    mom = pts.agg(
        F.count(F.lit(1)).cast("bigint").alias("k"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.expr("x * x")).cast("bigint").alias("sxx"),
        F.sum(F.expr("x * y")).cast("bigint").alias("sxy"),
    )
    out = (
        pts.crossJoin(F.broadcast(mom))
        .select(
            F.col("x").alias("month"),
            F.col("n").alias("n_lineitems"),
            F.col("y").alias("mean_lag_micro"),
            F.expr(
                "CAST(CASE WHEN k * sxy - sx * sy > 0 THEN 1"
                " WHEN k * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
            ).alias("trend_sign"),
            F.expr(
                "CAST(CASE WHEN k * sxx - sx * sx = 0 THEN 0"
                " ELSE ABS(CAST(k AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy)"
                " div (CAST(k AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx) END AS BIGINT)"
            ).alias("trend_abs_micro_per_month"),
        )
        .orderBy("month")
    )
    return out


# ---------------------------------------------------------------------------
# q421 — content-defined chunking dedup
# ---------------------------------------------------------------------------

_CDC_MOD = 64  # expected chunk length in tokens


@query(
    "q421_cdc_chunk_dedup",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, i AS pos,
             STRING_SPLIT(text, ' ')[CAST(i AS INT)] AS tok,
             CASE WHEN i + 2 <= LEN(STRING_SPLIT(text, ' '))
                  AND CAST('0x' || SUBSTR(MD5(
                        ARRAY_TO_STRING(STRING_SPLIT(text, ' ')
                                        [CAST(i AS INT):CAST(i + 2 AS INT)],
                                        ' ')), 1, 15) AS BIGINT)
                      % {_CDC_MOD} = 0
                  THEN 1 ELSE 0 END AS boundary
      FROM (
        SELECT doc_id, text,
               UNNEST(RANGE(1, LEN(STRING_SPLIT(text, ' ')) + 1)) AS i
        FROM documents
      )
    ),
    seg AS (
      SELECT doc_id, pos, tok,
             SUM(boundary) OVER (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND CURRENT ROW) AS seg_id
      FROM toks
    ),
    chunks AS (
      SELECT doc_id, seg_id,
             MD5(STRING_AGG(tok, ' ' ORDER BY pos)) AS chunk_hash,
             CAST(COUNT(*) AS BIGINT) AS n_toks
      FROM seg GROUP BY doc_id, seg_id
    ),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_chunks,
             CAST(COUNT(DISTINCT chunk_hash) AS BIGINT) AS distinct_chunks,
             CAST(SUM(n_toks) AS BIGINT) AS total_toks
      FROM chunks
    ),
    uniq AS (
      SELECT CAST(SUM(n_toks) AS BIGINT) AS stored_toks
      FROM (
        SELECT chunk_hash, MIN(n_toks) AS n_toks FROM chunks
        GROUP BY chunk_hash
      )
    )
    SELECT s.n_chunks, s.distinct_chunks, s.total_toks, u.stored_toks,
           CAST((s.n_chunks - s.distinct_chunks) * 1000000 // s.n_chunks
                AS BIGINT) AS dup_chunk_ppm,
           CAST((s.total_toks - u.stored_toks) * 1000000 // s.total_toks
                AS BIGINT) AS tokens_saved_ppm,
           CAST(s.total_toks * 1000 // s.n_chunks AS BIGINT)
             AS mean_chunk_toks_milli
    FROM s CROSS JOIN uniq u
    """,
    tags=("llm", "dedup", "cdc", "chunking"),
)
def q421_cdc_chunk_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the level between q139's exact
    lines and q60's whole documents): every token position whose
    3-gram md5 lands on 0 mod {_CDC_MOD} opens a new chunk —
    boundaries follow CONTENT, so an insertion early in a copied
    document shifts positions but not downstream boundaries, and the
    shared tail still dedups (the property fixed-width blocks lack
    and the reason every dedup store uses CDC). Chunk identity is
    md5 of the ORDER-BY-position token aggregation; the summary row
    prices duplicate chunks and the tokens a chunk store would not
    re-store. Expected chunk length is the modulus ({_CDC_MOD}
    tokens), measured beside it as mean_chunk_toks_milli.

    Scale: positional explode (the q309/q369 positional-index cost),
    a doc-partitioned running boundary count, and a (doc, segment)
    string aggregation — chunk hashes then dedup globally at 16
    bytes/chunk, never text."""
    docs = load(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.posexplode(F.split("text", " ")).alias("pos0", "tok"),
        F.size(F.split("text", " ")).alias("n"),
    ).select(
        "doc_id",
        (F.col("pos0") + 1).alias("pos"),
        "tok",
        "n",
    )
    tri = toks.select(
        "doc_id",
        "pos",
        "tok",
        F.when(
            F.col("pos") + 2 <= F.col("n"),
            F.conv(
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.col("tok"),
                            F.lead("tok", 1).over(
                                W.partitionBy("doc_id").orderBy("pos")
                            ),
                            F.lead("tok", 2).over(
                                W.partitionBy("doc_id").orderBy("pos")
                            ),
                        )
                    ),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("long")
            % _CDC_MOD
            == 0,
        )
        .otherwise(False)
        .cast("int")
        .alias("boundary"),
    )
    wd = (
        W.partitionBy("doc_id")
        .orderBy("pos")
        .rowsBetween(W.unboundedPreceding, 0)
    )
    seg = tri.select(
        "doc_id",
        "pos",
        "tok",
        F.sum("boundary").over(wd).alias("seg_id"),
    )
    chunks = (
        seg.groupBy("doc_id", "seg_id")
        .agg(
            F.md5(
                F.concat_ws(
                    " ",
                    F.transform(
                        F.array_sort(
                            F.collect_list(F.struct("pos", "tok"))
                        ),
                        lambda s: s["tok"],
                    ),
                )
            ).alias("chunk_hash"),
            F.count(F.lit(1)).cast("bigint").alias("n_toks"),
        )
        .persist()
    )
    s = chunks.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.countDistinct("chunk_hash").cast("bigint").alias("distinct_chunks"),
        F.sum("n_toks").cast("bigint").alias("total_toks"),
    )
    uniq = (
        chunks.groupBy("chunk_hash")
        .agg(F.min("n_toks").alias("n_toks"))
        .agg(F.sum("n_toks").cast("bigint").alias("stored_toks"))
    )
    out = s.crossJoin(F.broadcast(uniq)).select(
        "n_chunks",
        "distinct_chunks",
        "total_toks",
        "stored_toks",
        F.expr(
            "CAST((n_chunks - distinct_chunks) * 1000000 div n_chunks"
            " AS BIGINT)"
        ).alias("dup_chunk_ppm"),
        F.expr(
            "CAST((total_toks - stored_toks) * 1000000 div total_toks"
            " AS BIGINT)"
        ).alias("tokens_saved_ppm"),
        F.expr("CAST(total_toks * 1000 div n_chunks AS BIGINT)").alias(
            "mean_chunk_toks_milli"
        ),
    )
    return out


# ---------------------------------------------------------------------------
# q422 — backlog aging
# ---------------------------------------------------------------------------


@query(
    "q422_backlog_aging",
    oracle="""
    WITH span AS (
      SELECT o.o_orderkey,
             LEAST(DATEDIFF('day', DATE '1970-01-01',
                            CAST(o.o_orderdate AS DATE)),
                   MAX(DATEDIFF('day', DATE '1970-01-01',
                                CAST(l.l_shipdate AS DATE)))) AS d0,
             GREATEST(DATEDIFF('day', DATE '1970-01-01',
                               CAST(o.o_orderdate AS DATE)),
                      MAX(DATEDIFF('day', DATE '1970-01-01',
                                   CAST(l.l_shipdate AS DATE)))) AS d1
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    asofday AS (
      SELECT (MIN(d0) + MAX(d1)) // 2 AS a FROM span
    ),
    open_ AS (
      SELECT s.d0, s.d1, a.a - s.d0 AS age
      FROM span s CROSS JOIN asofday a
      WHERE s.d0 <= a.a AND s.d1 > a.a
    ),
    bucketed AS (
      SELECT CASE WHEN age <= 30 THEN '0-30'
                  WHEN age <= 60 THEN '31-60'
                  WHEN age <= 90 THEN '61-90'
                  ELSE '90+' END AS age_bucket,
             age
      FROM open_
    ),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM open_)
    SELECT b.age_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_open,
           CAST(MAX(b.age) AS BIGINT) AS oldest_days,
           CAST(COUNT(*) * 1000000 // t.n AS BIGINT) AS share_ppm
    FROM bucketed b CROSS JOIN tot t
    GROUP BY b.age_bucket, t.n ORDER BY b.age_bucket
    """,
    tags=("llm", "operations", "backlog", "aging"),
)
def q422_backlog_aging(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WIP aging report: orders OPEN at the mid-horizon as-of day
    (opened on or before, last shipment strictly after — spans
    normalized LEAST/GREATEST per the q399 fixture lesson), bucketed
    by age 0-30/31-60/61-90/90+ days with each bucket's share and
    oldest order. The 90+ row is the one a fulfillment review reads
    first; the as-of day is derived from the data ((min+max)//2) so
    the entry replays deterministically at any scale factor.

    Scale: the q399 span table (key-only fact join), a 1-row as-of
    broadcast, and a 4-row bucket rollup."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    span = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(
            F.max(F.datediff(F.col("l_shipdate").cast("date"), epoch)).alias(
                "sd"
            )
        )
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("od"),
            F.col("sd").cast("bigint").alias("sd"),
        )
        .select(
            F.least("od", "sd").alias("d0"), F.greatest("od", "sd").alias("d1")
        )
        .persist()
    )
    asof = span.agg(
        F.expr("CAST((MIN(d0) + MAX(d1)) div 2 AS BIGINT)").alias("a")
    )
    open_ = (
        span.crossJoin(F.broadcast(asof))
        .filter((F.col("d0") <= F.col("a")) & (F.col("d1") > F.col("a")))
        .select((F.col("a") - F.col("d0")).alias("age"))
        .persist()
    )
    tot = open_.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    out = (
        open_.select(
            F.expr(
                "CASE WHEN age <= 30 THEN '0-30'"
                " WHEN age <= 60 THEN '31-60'"
                " WHEN age <= 90 THEN '61-90' ELSE '90+' END"
            ).alias("age_bucket"),
            "age",
        )
        .groupBy("age_bucket")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_open"),
            F.max("age").cast("bigint").alias("oldest_days"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "age_bucket",
            "n_open",
            "oldest_days",
            F.expr("CAST(n_open * 1000000 div n AS BIGINT)").alias(
                "share_ppm"
            ),
        )
        .orderBy("age_bucket")
    )
    return out
