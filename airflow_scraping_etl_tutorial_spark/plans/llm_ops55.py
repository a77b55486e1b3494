"""LLM-ops wave 56: equi-depth statistics, feature hashing, and
power-law auditing —

- q408: equi-depth selectivity error — the direct sequel to q405:
  32 equal-frequency boundaries (computed exactly by the q397
  two-level bucket rank) price the SAME seven range predicates, so
  the two entries together quantify exactly what upgrading the
  planner's stats buys.
- q409: feature-hashing collision audit — the hashing trick at
  2^10 buckets over the corpus vocabulary: occupancy, max load, and
  observed colliding pairs vs the exact birthday expectation
  C(v,2)/m; the table that picks a hash width before anyone trains
  on hashed features.
- q410: Zipf tail fit — the rank-frequency slope of the corpus
  vocabulary measured WITHOUT logarithms: both axes collapse to
  power-of-two width classes (LENGTH(BIN(x)) — the q350 trick), and
  the slope of freq-width on rank-width is an exact sign-split
  rational. Zipf's law predicts slope ~ -1.

Output-hardening doctrine (as waves 6-55): equi-depth boundaries are
exact nearest-rank keys ((i*n + 31)//32 over a coarse-bucket
cumulative + boundary-bucket-local rank — no global row sort);
collision expectations are exact C(v,2)*1e6//m rationals; the Zipf
slope uses the q273/q394 sign-split lanes on integer width classes.

Reference parity: the reference's planner (q408), its feature
pipeline (q409) and its text corpus (q410) are the three consumers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q408 — equi-depth selectivity error
# ---------------------------------------------------------------------------

_ED_BUCKETS = 32
_ED_COARSE = 1024  # coarse histogram resolution for boundary location


@query(
    "q408_equidepth_selectivity_error",
    oracle=f"""
    WITH v AS (
      SELECT CAST(ROUND(o_totalprice * 100, 0) AS BIGINT) AS c FROM orders
    ),
    stats AS (
      SELECT CAST(MIN(c) AS BIGINT) AS lo, CAST(MAX(c) AS BIGINT) AS hi,
             CAST(COUNT(*) AS BIGINT) AS n
      FROM v
    ),
    vg AS (
      SELECT c, CAST(COUNT(*) AS BIGINT) AS f FROM v GROUP BY c
    ),
    coarse AS (
      SELECT LEAST((vg.c - s.lo) * {_ED_COARSE} // (s.hi - s.lo),
                   {_ED_COARSE} - 1) AS cb,
             vg.c, vg.f
      FROM vg CROSS JOIN stats s
    ),
    cstats AS (
      SELECT cb, CAST(SUM(f) AS BIGINT) AS cf FROM coarse GROUP BY cb
    ),
    ccum AS (
      SELECT cb, cf,
             CAST(SUM(cf) OVER (ORDER BY cb) AS BIGINT) AS cum,
             CAST(SUM(cf) OVER (ORDER BY cb) - cf AS BIGINT) AS cum_before
      FROM cstats
    ),
    targets AS (
      SELECT i, (i * s.n + {_ED_BUCKETS} - 1) // {_ED_BUCKETS} AS r
      FROM (SELECT UNNEST(RANGE(1, {_ED_BUCKETS})) AS i) CROSS JOIN stats s
    ),
    bof AS (
      SELECT t.i, t.r, MIN(c.cb) AS cb
      FROM targets t JOIN ccum c ON c.cum >= t.r
      GROUP BY t.i, t.r
    ),
    local_ AS (
      SELECT co.cb, co.c,
             CAST(SUM(co.f) OVER (PARTITION BY co.cb ORDER BY co.c)
                  AS BIGINT) AS kcum
      FROM coarse co
      WHERE co.cb IN (SELECT cb FROM bof)
    ),
    bounds AS (
      SELECT b.i, MIN(l.c) AS split_c
      FROM bof b
      JOIN ccum cc ON cc.cb = b.cb
      JOIN local_ l ON l.cb = b.cb
      WHERE cc.cum_before + l.kcum >= b.r
      GROUP BY b.i
    ),
    ks(k) AS (VALUES (1), (2), (3), (4), (5), (6), (7)),
    thr AS (
      SELECT k, s.lo + k * (s.hi - s.lo) // 8 AS t, s.n
      FROM ks CROSS JOIN stats s
    ),
    est AS (
      SELECT t.k, t.t, t.n,
             CAST(COALESCE(SUM(CASE WHEN b.split_c <= t.t THEN 1 ELSE 0 END),
                           0) AS BIGINT) AS n_below
      FROM thr t LEFT JOIN bounds b ON TRUE
      GROUP BY t.k, t.t, t.n
    ),
    act AS (
      SELECT t.k, CAST(COUNT(*) AS BIGINT) AS act_cnt
      FROM thr t JOIN v ON v.c > t.t GROUP BY t.k
    )
    SELECT e.k, e.t AS threshold_c,
           CAST((({_ED_BUCKETS} - e.n_below) * e.n // {_ED_BUCKETS}
                 - e.n // (2 * {_ED_BUCKETS})) * 1000000 // e.n AS BIGINT)
             AS est_ppm,
           CAST(COALESCE(a.act_cnt, 0) * 1000000 // e.n AS BIGINT) AS act_ppm,
           CAST(ABS((({_ED_BUCKETS} - e.n_below) * e.n // {_ED_BUCKETS}
                     - e.n // (2 * {_ED_BUCKETS})) * 1000000 // e.n
                    - COALESCE(a.act_cnt, 0) * 1000000 // e.n) AS BIGINT)
             AS abs_err_ppm
    FROM est e LEFT JOIN act a ON a.k = e.k
    ORDER BY e.k
    """,
    tags=("llm", "planner", "statistics", "equi-depth"),
)
def q408_equidepth_selectivity_error(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Equi-depth statistics audit, the q405 sequel: the 31 exact
    equal-frequency boundaries over order totals come from the q397
    two-level rank (coarse {_ED_COARSE}-bucket cumulative +
    boundary-bucket-local value rank — no global row sort), and
    `c > T` is estimated as (buckets entirely above T) x n/32 minus
    the half-bucket boundary convention (n/64), vs the exact count.
    Same seven thresholds as q405, so err(q405) - err(q408) IS the
    value of upgrading the planner's histogram. Equi-depth bounds
    the error by construction: no bucket holds more than n/32 + ties.

    Scale: value-grain collapse first (cents, map-side), the coarse
    cumulative is a {_ED_COARSE}-row frame, the local rank touches
    only boundary buckets, and the estimator is arithmetic on 31
    broadcast split values."""
    orders = load(spark, sf_dir, "orders")
    v = orders.select(
        F.expr("CAST(ROUND(o_totalprice * 100, 0) AS BIGINT)").alias("c")
    ).persist()
    stats = v.agg(
        F.min("c").cast("bigint").alias("lo"),
        F.max("c").cast("bigint").alias("hi"),
        F.count(F.lit(1)).cast("bigint").alias("n"),
    )
    vg = v.groupBy("c").agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    coarse = vg.crossJoin(F.broadcast(stats)).select(
        F.expr(
            f"LEAST((c - lo) * {_ED_COARSE} div (hi - lo),"
            f" {_ED_COARSE} - 1)"
        ).alias("cb"),
        "c",
        "f",
    ).persist()
    cstats = coarse.groupBy("cb").agg(F.sum("f").cast("bigint").alias("cf"))
    # global-window-ok: coarse-bucket grain, 1024 rows
    wc = W.orderBy("cb")
    ccum = cstats.select(
        "cb",
        F.sum("cf").over(wc).cast("bigint").alias("cum"),
        (F.sum("cf").over(wc) - F.col("cf")).cast("bigint").alias("cum_before"),
    ).persist()
    targets = (
        spark.createDataFrame([(i,) for i in range(1, _ED_BUCKETS)], "i int")
        .crossJoin(F.broadcast(stats.select("n")))
        .select(
            "i",
            F.expr(
                f"(i * n + {_ED_BUCKETS} - 1) div {_ED_BUCKETS}"
            ).alias("r"),
        )
    )
    bof = (
        F.broadcast(targets)
        .join(ccum, F.col("cum") >= F.col("r"))
        .groupBy("i", "r")
        .agg(F.min("cb").alias("cb"))
    )
    local_ = coarse.join(
        F.broadcast(bof.select("cb").distinct()), "cb", "left_semi"
    ).select(
        "cb",
        "c",
        F.sum("f")
        .over(W.partitionBy("cb").orderBy("c"))
        .cast("bigint")
        .alias("kcum"),
    )
    bounds = (
        F.broadcast(bof)
        .join(ccum.select("cb", "cum_before"), "cb")
        .join(local_, "cb")
        .filter(F.col("cum_before") + F.col("kcum") >= F.col("r"))
        .groupBy("i")
        .agg(F.min("c").alias("split_c"))
        .persist()
    )
    ks = spark.createDataFrame([(k,) for k in range(1, 8)], "k int")
    thr = F.broadcast(ks).crossJoin(F.broadcast(stats)).select(
        "k", F.expr("lo + k * (hi - lo) div 8").alias("t"), "n"
    )
    est = (
        thr.crossJoin(F.broadcast(bounds))
        .groupBy("k", "t", "n")
        .agg(
            F.expr(
                "CAST(COALESCE(SUM(CASE WHEN split_c <= t THEN 1 ELSE 0"
                " END), 0) AS BIGINT)"
            ).alias("n_below")
        )
    )
    act = (
        thr.select("k", "t")
        .join(v, v["c"] > F.col("t"))
        .groupBy("k")
        .agg(F.count(F.lit(1)).cast("bigint").alias("act_cnt"))
    )
    e_expr = (
        f"(({_ED_BUCKETS} - n_below) * n div {_ED_BUCKETS}"
        f" - n div (2 * {_ED_BUCKETS})) * 1000000 div n"
    )
    out = (
        est.join(act, "k", "left")
        .select(
            "k",
            F.col("t").alias("threshold_c"),
            F.expr(f"CAST({e_expr} AS BIGINT)").alias("est_ppm"),
            F.expr(
                "CAST(COALESCE(act_cnt, 0) * 1000000 div n AS BIGINT)"
            ).alias("act_ppm"),
            F.expr(
                f"CAST(ABS({e_expr}"
                " - COALESCE(act_cnt, 0) * 1000000 div n) AS BIGINT)"
            ).alias("abs_err_ppm"),
        )
        .orderBy("k")
    )
    return out


# ---------------------------------------------------------------------------
# q409 — feature-hashing collision audit
# ---------------------------------------------------------------------------

_FH_BUCKETS = 1024  # 2^10 feature-hash width


@query(
    "q409_feature_hash_collisions",
    oracle=f"""
    WITH sh AS (
      SELECT doc_id,
             LIST_DISTINCT(LIST_TRANSFORM(
               RANGE(1, GREATEST(LEN(STRING_SPLIT(text, ' ')) - 2, 0) + 1),
               i -> ARRAY_TO_STRING(STRING_SPLIT(text, ' ')[i:i+2], ' ')
             )) AS shingles
      FROM documents
    ),
    vocab AS (
      SELECT DISTINCT UNNEST(shingles) AS term FROM sh
    ),
    hashed AS (
      SELECT term,
             CAST('0x' || SUBSTR(MD5(term), 1, 15) AS BIGINT)
               % {_FH_BUCKETS} AS bucket
      FROM vocab
    ),
    loads AS (
      SELECT bucket, CAST(COUNT(*) AS BIGINT) AS load FROM hashed
      GROUP BY bucket
    ),
    s AS (
      SELECT CAST((SELECT COUNT(*) FROM vocab) AS BIGINT) AS v,
             CAST(COUNT(*) AS BIGINT) AS occupied,
             CAST(MAX(load) AS BIGINT) AS max_load,
             CAST(SUM(load * (load - 1) // 2) AS BIGINT) AS obs_pairs
      FROM loads
    )
    SELECT v, CAST({_FH_BUCKETS} AS BIGINT) AS m, occupied,
           CAST(v - occupied AS BIGINT) AS collided_terms,
           max_load, obs_pairs,
           CAST(CAST(v AS HUGEINT) * (v - 1) * 1000000
                // (2 * {_FH_BUCKETS}) AS BIGINT) AS exp_pairs_micro,
           CAST(CASE WHEN CAST(v AS HUGEINT) * (v - 1) * 1000000
                          // (2 * {_FH_BUCKETS}) = 0 THEN -1
                ELSE CAST(obs_pairs AS HUGEINT) * 1000000000000
                     // (CAST(v AS HUGEINT) * (v - 1) * 1000000
                         // (2 * {_FH_BUCKETS}))
                END AS BIGINT) AS obs_over_exp_ppm
    FROM s
    """,
    tags=("llm", "features", "hashing", "collisions"),
)
def q409_feature_hash_collisions(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Hashing-trick audit at {_FH_BUCKETS} buckets: the corpus's
    DISTINCT 3-WORD SHINGLES (the q68 feature space — the fixture's
    unigram vocabulary is a deliberate 31 terms, far too small to
    exercise a hash) are md5-hashed into the feature width a model
    would actually use, and the single summary row reports occupancy, the
    max bucket load, observed colliding pairs (sum of C(load, 2)),
    and the exact birthday expectation C(v, 2)/m — with their ratio
    in ppm (an unbiased hash sits at ~1e6; clustering above that
    means the hash or the tokenizer is broken). The per-feature
    gradient noise a hashed model eats is exactly these collisions,
    which is why the width audit runs before training, not after.

    Scale: vocabulary is a distinct-collapse of the tokenize explode
    (the same pass every retrieval entry pays), then a
    {_FH_BUCKETS}-row load table and 1-row arithmetic."""
    from ..operators.dedup import word_shingles

    docs = load(spark, sf_dir, "documents")
    vocab = (
        docs.select(
            F.explode(word_shingles(F.col("text"), 3)).alias("term")
        )
        .distinct()
        .persist()
    )
    hashed = vocab.select(
        (
            F.conv(F.substring(F.md5("term"), 1, 15), 16, 10).cast("long")
            % _FH_BUCKETS
        ).alias("bucket")
    )
    loads = hashed.groupBy("bucket").agg(
        F.count(F.lit(1)).cast("bigint").alias("load")
    )
    nv = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("v"))
    s = loads.agg(
        F.count(F.lit(1)).cast("bigint").alias("occupied"),
        F.max("load").cast("bigint").alias("max_load"),
        F.sum(F.expr("load * (load - 1) div 2")).cast("bigint").alias(
            "obs_pairs"
        ),
    ).crossJoin(F.broadcast(nv))
    out = s.select(
        "v",
        F.lit(_FH_BUCKETS).cast("bigint").alias("m"),
        "occupied",
        (F.col("v") - F.col("occupied")).cast("bigint").alias(
            "collided_terms"
        ),
        "max_load",
        "obs_pairs",
        F.expr(
            f"CAST(CAST(v AS DECIMAL(38,0)) * (v - 1) * 1000000"
            f" div (2 * {_FH_BUCKETS}) AS BIGINT)"
        ).alias("exp_pairs_micro"),
        F.expr(
            f"CAST(CASE WHEN CAST(v AS DECIMAL(38,0)) * (v - 1) * 1000000"
            f" div (2 * {_FH_BUCKETS}) = 0 THEN -1"
            f" ELSE CAST(obs_pairs AS DECIMAL(38,0)) * 1000000000000"
            f" div (CAST(v AS DECIMAL(38,0)) * (v - 1) * 1000000"
            f" div (2 * {_FH_BUCKETS})) END AS BIGINT)"
        ).alias("obs_over_exp_ppm"),
    )
    return out


# ---------------------------------------------------------------------------
# q410 — Zipf tail fit via width classes
# ---------------------------------------------------------------------------


@query(
    "q410_zipf_tail_fit",
    oracle="""
    WITH tf AS (
      SELECT tok, CAST(COUNT(*) AS BIGINT) AS f
      FROM (SELECT UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
      GROUP BY tok
    ),
    fg AS (
      SELECT f, CAST(COUNT(*) AS BIGINT) AS n_terms FROM tf GROUP BY f
    ),
    ranked AS (
      SELECT f, n_terms,
             CAST(SUM(n_terms) OVER (ORDER BY f DESC) AS BIGINT)
               AS max_rank,
             CAST(SUM(n_terms) OVER (ORDER BY f DESC) - n_terms + 1
                  AS BIGINT) AS min_rank
      FROM fg
    ),
    classed AS (
      SELECT CAST(LENGTH(BIN(min_rank)) AS BIGINT) AS rank_w,
             CAST(LENGTH(BIN(f)) AS BIGINT) AS freq_w,
             n_terms
      FROM ranked
    ),
    cells AS (
      SELECT rank_w,
             CAST(SUM(freq_w * n_terms) AS BIGINT) AS sum_fw,
             CAST(SUM(n_terms) AS BIGINT) AS n_terms
      FROM classed GROUP BY rank_w
    ),
    mom AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n,
             CAST(SUM(rank_w) AS BIGINT) AS sx,
             CAST(SUM(sum_fw * 1000 // n_terms) AS BIGINT) AS sy,
             CAST(SUM(rank_w * rank_w) AS BIGINT) AS sxx,
             CAST(SUM(rank_w * (sum_fw * 1000 // n_terms)) AS BIGINT) AS sxy
      FROM (SELECT rank_w, sum_fw, n_terms FROM cells)
    )
    SELECT c.rank_w, c.n_terms,
           CAST(c.sum_fw * 1000 // c.n_terms AS BIGINT) AS mean_freq_w_milli,
           CAST(CASE WHEN m.n * m.sxy - m.sx * m.sy > 0 THEN 1
                     WHEN m.n * m.sxy - m.sx * m.sy < 0 THEN -1 ELSE 0 END
                AS INT) AS slope_sign,
           CAST(CASE WHEN m.n * m.sxx - m.sx * m.sx = 0 THEN 0
                ELSE ABS(CAST(m.n AS HUGEINT) * m.sxy
                         - CAST(m.sx AS HUGEINT) * m.sy) * 1000
                     // (CAST(m.n AS HUGEINT) * m.sxx
                         - CAST(m.sx AS HUGEINT) * m.sx)
                END AS BIGINT) AS slope_abs_micro
    FROM cells c CROSS JOIN mom m
    ORDER BY c.rank_w
    """,
    tags=("llm", "text", "zipf", "power-law"),
)
def q410_zipf_tail_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law audit WITHOUT logarithms: term frequencies collapse
    to frequency-grain (f, n_terms) rows; ranks come from the
    descending cumulative (each frequency class spans ranks
    [min_rank, max_rank] — the value-grain rank trick); both axes
    then reduce to power-of-two WIDTH CLASSES (LENGTH(BIN(x)) =
    floor(log2)+1, the q350 trick), and the slope of mean frequency
    width on rank width is an exact sign-split rational in milli
    lanes. Zipf predicts the doubling-bucket slope ~ -1 (freq halves
    when rank doubles); a corpus of templated text bends it. The
    per-width rows show the fit line's raw points beside the slope.

    Scale: tokenize explode (shared pass) -> frequency grain
    (hundreds of rows) -> width grain (tens); the descending
    cumulative runs on the frequency-grain frame."""
    docs = load(spark, sf_dir, "documents")
    tf = (
        docs.select(F.explode(F.split("text", " ")).alias("tok"))
        .groupBy("tok")
        .agg(F.count(F.lit(1)).cast("bigint").alias("f"))
    )
    fg = tf.groupBy("f").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms")
    )
    # global-window-ok: frequency-grain frame (distinct frequencies)
    wd = W.orderBy(F.desc("f"))
    ranked = fg.select(
        "f",
        "n_terms",
        (F.sum("n_terms").over(wd) - F.col("n_terms") + 1)
        .cast("bigint")
        .alias("min_rank"),
    )
    classed = ranked.select(
        F.length(F.bin("min_rank")).cast("bigint").alias("rank_w"),
        F.length(F.bin("f")).cast("bigint").alias("freq_w"),
        "n_terms",
    )
    cells = classed.groupBy("rank_w").agg(
        F.sum(F.expr("freq_w * n_terms")).cast("bigint").alias("sum_fw"),
        F.sum("n_terms").cast("bigint").alias("n_terms"),
    ).persist()
    mom = cells.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("rank_w").cast("bigint").alias("sx"),
        F.sum(F.expr("sum_fw * 1000 div n_terms")).cast("bigint").alias("sy"),
        F.sum(F.expr("rank_w * rank_w")).cast("bigint").alias("sxx"),
        F.sum(F.expr("rank_w * (sum_fw * 1000 div n_terms)"))
        .cast("bigint")
        .alias("sxy"),
    )
    out = (
        cells.crossJoin(F.broadcast(mom))
        .select(
            "rank_w",
            "n_terms",
            F.expr("CAST(sum_fw * 1000 div n_terms AS BIGINT)").alias(
                "mean_freq_w_milli"
            ),
            F.expr(
                "CAST(CASE WHEN n * sxy - sx * sy > 0 THEN 1"
                " WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END AS INT)"
            ).alias("slope_sign"),
            F.expr(
                "CAST(CASE WHEN n * sxx - sx * sx = 0 THEN 0"
                " ELSE ABS(CAST(n AS DECIMAL(38,0)) * sxy"
                " - CAST(sx AS DECIMAL(38,0)) * sy) * 1000"
                " div (CAST(n AS DECIMAL(38,0)) * sxx"
                " - CAST(sx AS DECIMAL(38,0)) * sx) END AS BIGINT)"
            ).alias("slope_abs_micro"),
        )
        .orderBy("rank_w")
    )
    return out
