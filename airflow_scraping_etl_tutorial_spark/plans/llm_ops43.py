"""LLM-ops wave 44: coreset selection and split-balance auditing —

- q372: greedy k-center coreset picks (k = 3, unrolled) over the
  embedding table — the 2-approximation facility-location heuristic
  behind coreset/diversity selection, with the coverage radius
  after each pick showing the diminishing-returns curve.
- q373: split categorical-balance audit — chi-square of the
  (split x lang) contingency table for q105's md5 train/val/test
  gates, with each split's worst-deviating language named; the
  check that a "random" split really is exchangeable on labels.
- q374: split length-balance EMD — earth-mover's distance between
  each split's doc-length histogram (16 fixed log2-width bins) and
  the corpus's, in exact ppm; the continuous-covariate twin of
  q373 (a split can pass the label chi-square and still skew long).

Output-hardening doctrine (as waves 6-43): k-center picks are
ORDER BY raw-double-with-id-tiebreak LIMIT 1 selections (the
q71/q76 attested pattern) and radii are ROUND(double, 6) outputs;
chi-square uses the exact (n*O - R*C)^2/(n*R*C) rational in
HUGEINT/DECIMAL(38,0) lanes (the q368 doctrine) with worst cells
via max-then-MIN-label; EMD is a cumulative-ppm boundary sum over
FIXED log2 bins; all integer-sum oracle outputs CAST to BIGINT.

Reference parity: the reference curates one feed; q373/q374 are the
split hygiene any model trained on that corpus assumes, and q372 is
the diversity-selection primitive for choosing which documents a
human should actually look at.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.similarity import as_double, dot
from ..sources.tables import load
from .llm_ops import _sql_cosine
from .registry import query

# ---------------------------------------------------------------------------
# q372 — greedy k-center coreset picks (3 unrolled rounds)
# ---------------------------------------------------------------------------


@query(
    "q372_kcenter_coreset_picks",
    oracle=f"""
    WITH c1 AS (
      SELECT vec_id AS cid, embedding AS ce FROM embeddings
      ORDER BY MD5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1
    ),
    d1 AS (
      SELECT e.vec_id, e.embedding,
             {_sql_cosine('e.embedding', 'c.ce')} AS s1
      FROM embeddings e CROSS JOIN c1 c
    ),
    c2 AS (
      SELECT vec_id AS cid, embedding AS ce FROM d1
      ORDER BY s1 ASC, vec_id LIMIT 1
    ),
    d2 AS (
      SELECT d.vec_id, d.embedding,
             GREATEST(d.s1, {_sql_cosine('d.embedding', 'c.ce')}) AS s2
      FROM d1 d CROSS JOIN c2 c
    ),
    c3 AS (
      SELECT vec_id AS cid, embedding AS ce FROM d2
      ORDER BY s2 ASC, vec_id LIMIT 1
    ),
    d3 AS (
      SELECT d.vec_id,
             GREATEST(d.s2, {_sql_cosine('d.embedding', 'c.ce')}) AS s3
      FROM d2 d CROSS JOIN c3 c
    )
    SELECT 1 AS k, (SELECT cid FROM c1) AS center_id,
           ROUND(1 - (SELECT MIN(s1) FROM d1), 6) AS radius
    UNION ALL
    SELECT 2, (SELECT cid FROM c2),
           ROUND(1 - (SELECT MIN(s2) FROM d2), 6)
    UNION ALL
    SELECT 3, (SELECT cid FROM c3),
           ROUND(1 - (SELECT MIN(s3) FROM d3), 6)
    ORDER BY k
    """,
    tags=("llm", "similarity", "coreset", "k-center"),
)
def q372_kcenter_coreset_picks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy k-center coreset selection (k = 3, unrolled): seed with
    the md5-smallest vector (the q76 deterministic-init story), then
    twice pick the vector FARTHEST from its nearest chosen center
    (cosine distance 1 - cos), reporting after each pick the
    coverage radius max_i min_j d(i, c_j) — the classic 2-approx
    facility-location heuristic behind diversity/coreset selection,
    with the radius column showing what each additional exemplar
    actually buys. Picks are ORDER BY raw-double, id LIMIT 1
    (TakeOrdered — the attested q71/q76 selection pattern); radii
    are ROUND(double, 6).

    Scale: each round is one broadcast of a single center + a
    map-side max, then a global top-1 (TakeOrderedAndProject) — k
    rounds of O(n) work with nothing quadratic; the running
    min-distance column composes via GREATEST, so round j only
    scores the NEW center."""
    emb = load(spark, sf_dir, "embeddings")
    vecs = emb.select(
        "vec_id", as_double(F.col("embedding")).alias("_e")
    )
    norm = F.sqrt(dot(F.col("_e"), F.col("_e")))
    # The normalized-vector base is localCheckpointed (disk-backed,
    # lineage-TRUNCATED) — round-12 eviction-hardening (q226/q250/q331
    # doctrine): every round re-reads nv, and with full lineage an
    # eviction multiplies the embedding parse; d1/d2 keep plain
    # persists because their lineage is now shallow (rooted at the
    # checkpoint).
    nv = vecs.select(
        "vec_id", "_e", norm.alias("_n")
    ).localCheckpoint(eager=True)

    def cos_to(center):
        return dot(F.col("_e"), F.col("_ce")) / (F.col("_n") * F.col("_cn"))

    c1 = (
        nv.orderBy(F.md5(F.col("vec_id").cast("string")), "vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("cid1"),
            F.col("_e").alias("_ce"),
            F.col("_n").alias("_cn"),
        )
    )
    d1 = nv.crossJoin(F.broadcast(c1)).select(
        "vec_id", "_e", "_n", F.col("cid1"), cos_to(None).alias("s1")
    ).persist()
    c2 = (
        d1.orderBy(F.asc("s1"), "vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("cid2"),
            F.col("_e").alias("_ce"),
            F.col("_n").alias("_cn"),
        )
    )
    d2 = (
        d1.drop("cid1")
        .crossJoin(F.broadcast(c2))
        .select(
            "vec_id",
            "_e",
            "_n",
            F.col("cid2"),
            F.greatest(F.col("s1"), cos_to(None)).alias("s2"),
        )
        .persist()
    )
    c3 = (
        d2.orderBy(F.asc("s2"), "vec_id")
        .limit(1)
        .select(
            F.col("vec_id").alias("cid3"),
            F.col("_e").alias("_ce"),
            F.col("_n").alias("_cn"),
        )
    )
    d3 = d2.drop("cid2").crossJoin(F.broadcast(c3)).select(
        "vec_id",
        F.col("cid3"),
        F.greatest(F.col("s2"), cos_to(None)).alias("s3"),
    )
    rows = []
    for k, (dd, scol, cjoin) in enumerate(
        [(d1, "s1", c1), (d2, "s2", c2), (d3, "s3", c3)], start=1
    ):
        cid_col = f"cid{k}"
        rows.append(
            dd.agg(F.min(scol).alias("_m"))
            .crossJoin(F.broadcast(cjoin.select(F.col(cid_col))))
            .select(
                F.lit(k).cast("int").alias("k"),
                F.col(cid_col).alias("center_id"),
                F.round(1 - F.col("_m"), 6).alias("radius"),
            )
        )
    out = rows[0].union(rows[1]).union(rows[2]).orderBy("k")
    return out


# ---------------------------------------------------------------------------
# q373 — split categorical-balance chi-square
# ---------------------------------------------------------------------------


@query(
    "q373_split_balance_chisquare",
    oracle="""
    WITH gated AS (
      SELECT lang,
             CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':split'), 1, 2) AS INTEGER) < 230 THEN 'train'
                  WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':split'), 1, 2) AS INTEGER) < 243 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    cells AS (
      SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS o
      FROM gated GROUP BY split, lang
    ),
    rows_ AS (
      SELECT lang, CAST(SUM(o) AS BIGINT) AS r FROM cells GROUP BY lang
    ),
    cols_ AS (
      SELECT split, CAST(SUM(o) AS BIGINT) AS csz FROM cells GROUP BY split
    ),
    n1 AS (SELECT CAST(SUM(o) AS BIGINT) AS n FROM cells),
    grid AS (
      SELECT c.split, r.lang, r.r, c.csz, COALESCE(x.o, 0) AS o
      FROM cols_ c CROSS JOIN rows_ r
      LEFT JOIN cells x ON x.split = c.split AND x.lang = r.lang
    ),
    scored AS (
      SELECT g.split, g.lang, g.csz,
             CAST((CAST(n1.n AS HUGEINT) * g.o
                   - CAST(g.r AS HUGEINT) * g.csz)
                  * (CAST(n1.n AS HUGEINT) * g.o
                     - CAST(g.r AS HUGEINT) * g.csz) * 1000000
                  // (CAST(n1.n AS HUGEINT) * g.r * g.csz) AS BIGINT)
               AS contrib_micro,
             CAST(ABS(g.o * 1000000 // g.csz
                      - g.r * 1000000 // n1.n) AS BIGINT) AS dev_ppm
      FROM grid g CROSS JOIN n1
    ),
    per AS (
      SELECT split, csz AS n_docs,
             CAST(SUM(contrib_micro) AS BIGINT) AS chi2_contrib_micro,
             CAST(MAX(dev_ppm) AS BIGINT) AS worst_dev_ppm
      FROM scored GROUP BY split, csz
    ),
    worst AS (
      SELECT s.split, MIN(s.lang) AS worst_lang
      FROM scored s
      JOIN per p ON p.split = s.split AND s.dev_ppm = p.worst_dev_ppm
      GROUP BY s.split
    ),
    tot AS (
      SELECT CAST(SUM(chi2_contrib_micro) AS BIGINT) AS total_chi2_micro
      FROM per
    )
    SELECT p.split, p.n_docs, p.chi2_contrib_micro,
           w.worst_lang, p.worst_dev_ppm,
           t.total_chi2_micro,
           CAST(CASE WHEN t.total_chi2_micro > 15507000 THEN 1 ELSE 0 END
                AS INT) AS reject_95
    FROM per p
    JOIN worst w ON w.split = p.split
    CROSS JOIN tot t
    ORDER BY p.split
    """,
    tags=("llm", "curation", "split", "chi-square"),
)
def q373_split_balance_chisquare(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Split categorical-balance audit: the (split x lang) chi-square
    for q105's md5 train/val/test gates — each split row carries its
    chi-square contribution, its worst-deviating language (largest
    |split share - corpus share|, MIN-label tiebreak), and the
    overall test against chi^2 with (3-1)(5-1) = 8 dof at 95%
    (15.507 as the integer literal 15507000 micro). An md5 gate
    should never reject; a rejecting split means the gate key leaks
    the label — the audit a team runs once and then trusts its
    splits forever. Exact (nO - RC)^2/(nRC) rationals in
    HUGEINT/DECIMAL(38,0) lanes (q368 doctrine), zero cells
    materialized from the marginals.

    Scale: one scan with codegen gates; everything after runs on the
    |splits| x |langs| grid."""
    docs = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    gated = docs.select(
        "lang",
        F.when(gate < 230, "train")
        .when(gate < 243, "val")
        .otherwise("test")
        .alias("split"),
    )
    cells = gated.groupBy("split", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("o")
    )
    rows_ = cells.groupBy("lang").agg(F.sum("o").cast("bigint").alias("r"))
    cols_ = cells.groupBy("split").agg(
        F.sum("o").cast("bigint").alias("csz")
    )
    n1 = cells.agg(F.sum("o").cast("bigint").alias("n"))
    grid = (
        cols_.crossJoin(rows_)
        .join(cells, ["split", "lang"], "left")
        .select(
            "split",
            "lang",
            "r",
            "csz",
            F.coalesce(F.col("o"), F.lit(0)).cast("bigint").alias("o"),
        )
    )
    scored = grid.crossJoin(F.broadcast(n1)).select(
        "split",
        "lang",
        "csz",
        F.expr(
            "CAST((CAST(n AS DECIMAL(38,0)) * o - CAST(r AS DECIMAL(38,0))"
            " * csz) * (CAST(n AS DECIMAL(38,0)) * o"
            " - CAST(r AS DECIMAL(38,0)) * csz) * 1000000"
            " div (CAST(n AS DECIMAL(38,0)) * r * csz) AS BIGINT)"
        ).alias("contrib_micro"),
        F.expr(
            "CAST(ABS(o * 1000000 div csz - r * 1000000 div n) AS BIGINT)"
        ).alias("dev_ppm"),
    ).persist()
    per = scored.groupBy("split", "csz").agg(
        F.sum("contrib_micro").cast("bigint").alias("chi2_contrib_micro"),
        F.max("dev_ppm").cast("bigint").alias("worst_dev_ppm"),
    )
    worst = (
        scored.join(
            per.select(
                "split", F.col("worst_dev_ppm").alias("_wd")
            ),
            "split",
        )
        .filter(F.col("dev_ppm") == F.col("_wd"))
        .groupBy("split")
        .agg(F.min("lang").alias("worst_lang"))
    )
    tot = per.agg(
        F.sum("chi2_contrib_micro").cast("bigint").alias("total_chi2_micro")
    )
    out = (
        per.join(worst, "split")
        .crossJoin(F.broadcast(tot))
        .select(
            "split",
            F.col("csz").alias("n_docs"),
            "chi2_contrib_micro",
            "worst_lang",
            "worst_dev_ppm",
            "total_chi2_micro",
            F.expr(
                "CAST(CASE WHEN total_chi2_micro > 15507000 THEN 1 ELSE 0"
                " END AS INT)"
            ).alias("reject_95"),
        )
        .orderBy("split")
    )
    return out


# ---------------------------------------------------------------------------
# q374 — split length-balance EMD over fixed log2 bins
# ---------------------------------------------------------------------------


@query(
    "q374_split_length_emd",
    oracle="""
    WITH gated AS (
      SELECT CAST(LENGTH(BIN(GREATEST(n_chars, 1))) AS INT) AS bin,
             CASE WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':split'), 1, 2) AS INTEGER) < 230 THEN 'train'
                  WHEN CAST('0x' || SUBSTR(MD5(CAST(doc_id AS VARCHAR)
                         || ':split'), 1, 2) AS INTEGER) < 243 THEN 'val'
                  ELSE 'test' END AS split
      FROM documents
    ),
    splits(split) AS (VALUES ('train'), ('val'), ('test')),
    bins AS (SELECT DISTINCT bin FROM gated),
    sc AS (
      SELECT s.split, b.bin,
             CAST(COUNT(g.bin) AS BIGINT) AS o
      FROM splits s CROSS JOIN bins b
      LEFT JOIN gated g ON g.split = s.split AND g.bin = b.bin
      GROUP BY s.split, b.bin
    ),
    corpus AS (
      SELECT bin, CAST(COUNT(*) AS BIGINT) AS oc FROM gated GROUP BY bin
    ),
    tot AS (
      SELECT split, CAST(SUM(o) AS BIGINT) AS ns FROM sc GROUP BY split
    ),
    big AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM gated),
    cum AS (
      SELECT sc.split, sc.bin,
             CAST(SUM(sc.o) OVER (PARTITION BY sc.split
                    ORDER BY sc.bin) * 1000000 // t.ns AS BIGINT) AS cs,
             CAST(SUM(c.oc) OVER (PARTITION BY sc.split
                    ORDER BY sc.bin) * 1000000 // b.n AS BIGINT) AS cc
      FROM sc
      JOIN corpus c ON c.bin = sc.bin
      JOIN tot t ON t.split = sc.split
      CROSS JOIN big b
    )
    SELECT split,
           CAST(COUNT(*) AS BIGINT) AS n_bins,
           CAST(SUM(ABS(cs - cc)) AS BIGINT) AS emd_ppm_bins,
           CAST(MAX(ABS(cs - cc)) AS BIGINT) AS ks_ppm
    FROM cum GROUP BY split ORDER BY split
    """,
    tags=("llm", "curation", "split", "emd"),
)
def q374_split_length_emd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split length-balance audit: earth-mover's distance between
    each split's doc-length histogram and the corpus's, over fixed
    log2 width-class bins (LENGTH(BIN(n_chars))) — EMD on an ordered
    1-D histogram is the sum of |cumulative-share differences| at
    bin boundaries (the q335 boundary-sum identity), reported in
    exact ppm beside the KS-style max boundary gap. A split can
    pass q373's label chi-square and still skew long — this is the
    continuous-covariate check, and together they are the split
    hygiene pair.

    Scale: one scan with codegen gates to width-class grain; the
    cumulative window runs over the |splits| x |bins| grid (tens of
    rows)."""
    docs = load(spark, sf_dir, "documents")
    gate = F.conv(
        F.substring(
            F.md5(F.concat(F.col("doc_id").cast("string"), F.lit(":split"))),
            1,
            2,
        ),
        16,
        10,
    ).cast("int")
    gated = docs.select(
        F.length(F.bin(F.greatest(F.col("n_chars"), F.lit(1))))
        .cast("int")
        .alias("bin"),
        F.when(gate < 230, "train")
        .when(gate < 243, "val")
        .otherwise("test")
        .alias("split"),
    ).persist()
    splits = spark.createDataFrame(
        [("train",), ("val",), ("test",)], "split string"
    )
    bins = gated.select("bin").distinct()
    sc = (
        splits.crossJoin(bins)
        .join(
            gated.groupBy("split", "bin").agg(
                F.count(F.lit(1)).cast("bigint").alias("_o")
            ),
            ["split", "bin"],
            "left",
        )
        .select(
            "split",
            "bin",
            F.coalesce(F.col("_o"), F.lit(0)).cast("bigint").alias("o"),
        )
    )
    corpus = gated.groupBy("bin").agg(
        F.count(F.lit(1)).cast("bigint").alias("oc")
    )
    tot = sc.groupBy("split").agg(F.sum("o").cast("bigint").alias("ns"))
    big = gated.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    from pyspark.sql import Window as W

    wc = W.partitionBy("split").orderBy("bin")
    cum = (
        sc.join(corpus, "bin")
        .join(tot, "split")
        .crossJoin(F.broadcast(big))
        .select(
            "split",
            "bin",
            (F.sum("o").over(wc) * 1_000_000).alias("_cso"),
            (F.sum("oc").over(wc) * 1_000_000).alias("_cco"),
            "ns",
            "n",
        )
        .select(
            "split",
            F.expr("CAST(_cso div ns AS BIGINT)").alias("cs"),
            F.expr("CAST(_cco div n AS BIGINT)").alias("cc"),
        )
    )
    return (
        cum.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            F.sum(F.abs(F.col("cs") - F.col("cc")))
            .cast("bigint")
            .alias("emd_ppm_bins"),
            F.max(F.abs(F.col("cs") - F.col("cc")))
            .cast("bigint")
            .alias("ks_ppm"),
        )
        .orderBy("split")
    )
