"""LLM-ops wave 9 (promoted into the driver contract in round 7): exact-recall
set-similarity joins, integer-arithmetic graph centrality, optimizer
planning audits, physical-layout planning, and forensic value
distributions — the fifth ring of curation machinery around waves 1-8.

Output-hardening doctrine (as waves 6-8): BIGINT-cast integer
aggregates, single-division rounded ratios, truncating integer
division (`div` / `//`) on nonnegative operands, shared Python-
computed double literals for constants (Benford expectations), and no
floating accumulation anywhere an integer or decimal form exists —
q226's PageRank runs ENTIRELY in scaled int64.

Reference parity: the reference's pipeline is one join-free daily
load; these entries generalize the planning/verification posture its
validation step implies (dags/Final_app.py:79-87) to the decisions a
100 TB deployment makes before running: which join strategy
(cardinality estimate, q227), how to lay out files (q228), which pairs
to verify (prefix filtering, q225), and whether the numbers look
organic at all (Benford, q229).
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_near_duplicates, minhash_signature_table
from ..sources.tables import load
from .llm_ops import _sql_minhash_pairs
from .registry import query

# ---------------------------------------------------------------------------
# q225 — prefix-filtered set-similarity join (PPJoin-lite)
# ---------------------------------------------------------------------------

_PF_T = 0.5  # Jaccard threshold; prefix length n - ceil(t*n) + 1


@query(
    "q225_prefix_filter_setjoin",
    oracle="""
    WITH tp AS (
      SELECT DISTINCT doc_id, tok FROM (
        SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      ) t
    ),
    dfx AS (SELECT tok, COUNT(*) AS dfc FROM tp GROUP BY tok),
    rk AS (
      SELECT t.doc_id, t.tok,
             ROW_NUMBER() OVER (PARTITION BY t.doc_id
                                ORDER BY d.dfc, t.tok) AS rk,
             COUNT(*) OVER (PARTITION BY t.doc_id) AS n
      FROM tp t JOIN dfx d ON d.tok = t.tok
    ),
    pref AS (
      SELECT doc_id, tok FROM rk WHERE rk <= n - ((n + 1) // 2) + 1
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id_a, b.doc_id AS doc_id_b
      FROM pref a JOIN pref b
        ON a.tok = b.tok AND a.doc_id < b.doc_id
    ),
    sz AS (SELECT doc_id, COUNT(*) AS n FROM tp GROUP BY doc_id),
    ix AS (
      -- Count-based intersect over candidate pairs only: streams
      -- token rows through a hash aggregate instead of materializing
      -- per-doc LIST(tok) and LIST_INTERSECT-ing them per candidate
      -- (the r12 35-min/15-GB oracle; low-memory doctrine r14).
      SELECT c.doc_id_a, c.doc_id_b, COUNT(*) AS i
      FROM cand c
      JOIN tp a ON a.doc_id = c.doc_id_a
      JOIN tp b ON b.doc_id = c.doc_id_b AND b.tok = a.tok
      GROUP BY c.doc_id_a, c.doc_id_b
    )
    SELECT x.doc_id_a, x.doc_id_b,
           ROUND(CAST(x.i AS DOUBLE) / (sa.n + sb.n - x.i), 6) AS jaccard
    FROM ix x
    JOIN sz sa ON sa.doc_id = x.doc_id_a
    JOIN sz sb ON sb.doc_id = x.doc_id_b
    WHERE ROUND(CAST(x.i AS DOUBLE) / (sa.n + sb.n - x.i), 6) >= 0.5
    ORDER BY doc_id_a, doc_id_b
    """,
    tags=("llm", "dedup", "setjoin", "prefixfilter"),
)
def q225_prefix_filter_setjoin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-recall set-similarity self-join via prefix filtering (the
    PPJoin family): order each doc's distinct tokens by global
    document frequency (rarest first), keep only the length-
    (n - ceil(t*n) + 1) prefix, and generate candidates from docs
    sharing a PREFIX token. Pigeonhole guarantee: two sets with
    Jaccard >= t MUST share a prefix token, so unlike MinHash-LSH
    (q68, probabilistic recall) this finds EVERY qualifying pair —
    the algorithm of choice when the dedup SLA says "no missed
    duplicates". Candidates are then verified with exact Jaccard on
    the full token sets.

    Scale: the df-rank pass is one token-keyed aggregate + one
    doc-keyed window; the candidate join's cost is sum of
    prefix-token bucket^2 — and because prefixes keep the RAREST
    tokens, hot tokens (stopwords) never enter the index, the same
    economics a stop-shingle cap (SCALE.md) buys but
    guarantee-preserving.
    Verification touches candidates only."""
    docs = load(spark, sf_dir, "documents")
    # tp feeds the df table, the rank join, and the verify sets; pref
    # self-joins — persist both (cf. q216).
    tp = (
        docs.select(F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok"))
        .distinct()
        .persist()
    )
    dfx = tp.groupBy("tok").agg(F.count(F.lit(1)).alias("dfc"))
    wr = W.partitionBy("doc_id").orderBy("dfc", "tok")
    wn = W.partitionBy("doc_id")
    rk = tp.join(dfx, "tok").select(
        "doc_id",
        "tok",
        F.row_number().over(wr).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    pref = (
        rk.filter(F.col("rk") <= F.col("n") - F.expr("(n + 1) div 2") + 1)
        .select("doc_id", "tok")
        .persist()
    )
    a = pref.select(F.col("doc_id").alias("doc_id_a"), "tok")
    b = pref.select(F.col("doc_id").alias("doc_id_b"), "tok")
    cand = (
        a.join(b, "tok")
        .filter(F.col("doc_id_a") < F.col("doc_id_b"))
        .select("doc_id_a", "doc_id_b")
        .distinct()
    )
    sets = tp.groupBy("doc_id").agg(
        F.collect_set("tok").alias("lst"), F.count(F.lit(1)).alias("n")
    )
    sa = sets.select(
        F.col("doc_id").alias("doc_id_a"),
        F.col("lst").alias("la"),
        F.col("n").alias("na"),
    )
    sb = sets.select(
        F.col("doc_id").alias("doc_id_b"),
        F.col("lst").alias("lb"),
        F.col("n").alias("nb"),
    )
    inter = F.size(F.array_intersect("la", "lb"))
    jacc = F.round(
        inter.cast("double") / (F.col("na") + F.col("nb") - inter), 6
    )
    out = (
        cand.join(sa, "doc_id_a")
        .join(sb, "doc_id_b")
        .select("doc_id_a", "doc_id_b", jacc.alias("jaccard"))
        .filter(F.col("jaccard") >= _PF_T)
        .orderBy("doc_id_a", "doc_id_b")
    )
    return out


# ---------------------------------------------------------------------------
# q226 — dup-graph PageRank in scaled integer arithmetic
# ---------------------------------------------------------------------------

_PR_SCALE = 1_000_000_000  # r is a fixed-point int: 1.0 == 10^9
_PR_BASE = 150_000_000  # 0.15 * SCALE


def _sql_pr_iter(prev: str, out: str) -> str:
    """One PageRank iteration: r' = 0.15 + 0.85 * sum_in(r/deg), all
    in truncating scaled-int64 arithmetic (identical on both engines:
    DuckDB `//` floors on ints, Spark `div` truncates; operands are
    nonnegative so floor == truncate)."""
    return f"""
    {out} AS (
      SELECT e.d AS node,
             {_PR_BASE} + (85 * SUM(p.r // g.dg)) // 100 AS r
      FROM e
      JOIN {prev} p ON p.node = e.s
      JOIN deg g ON g.node = e.s
      GROUP BY e.d
    )"""


@query(
    "q226_dup_graph_pagerank",
    oracle=f"""
    WITH {_sql_minhash_pairs(0.5)},
    e AS (
      SELECT doc_id_a AS s, doc_id_b AS d FROM pairs
      UNION ALL
      SELECT doc_id_b AS s, doc_id_a AS d FROM pairs
    ),
    deg AS (SELECT s AS node, COUNT(*) AS dg FROM e GROUP BY s),
    r0 AS (SELECT node, CAST({_PR_SCALE} AS BIGINT) AS r FROM deg),
    {_sql_pr_iter("r0", "r1")},
    {_sql_pr_iter("r1", "r2")}
    SELECT node AS doc_id, CAST(r AS BIGINT) AS rank_score
    FROM r2 ORDER BY rank_score DESC, doc_id LIMIT 20
    """,
    tags=("llm", "graph", "pagerank", "centrality"),
)
def q226_dup_graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the MinHash near-duplicate graph (two
    unrolled damped iterations, nodes = docs with at least one
    verified dup edge): the highest-ranked docs are the template/
    boilerplate CENTERS — the canonical representatives a keep-one
    dedup policy should keep, and the complement of q160's raw degree
    histogram (degree counts neighbors; PageRank weights neighbors by
    how duplicated THEY are). The entire computation runs in scaled
    int64 fixed-point (1.0 == 10^9): per-edge contribution r div deg,
    damping (85 * sum) div 100 — truncating division on nonnegative
    operands is identical in both engines, so scores are bit-exact
    with NO floating point at all — the doctrine answer to iterative-
    algorithm drift.

    Scale: out-degree is attached to the edge list ONCE (not re-joined
    per iteration); iteration 1 fuses to a single aggregate (r0 is the
    constant SCALE, so per-edge contributions need no rank join) and
    iteration 2 is one edge-keyed join + aggregate (the textbook
    Pregel step as DataFrame ops); the iteration count is a fixed
    constant (2), not data-dependent, so the catalog entry stays
    deterministic (the data-dependent-convergence variant lives in
    operators/cluster.py's star contraction with its documented
    exact convergence probe)."""
    docs = load(spark, sf_dir, "documents")
    # pairs feeds both union branches and is localCheckpointed
    # (disk-backed, lineage-TRUNCATED) rather than persist()ed: a
    # persisted intermediate keeps its full lineage in the plan, so
    # under memory pressure eviction turns each downstream read into a
    # full minhash-pipeline recompute — the round-11 driver box showed
    # exactly that signature (1.5-1.7x on a contended box with zero
    # plan changes). With the checkpoint, a re-read is at worst a
    # local-disk read and the degraded mode is linear, not
    # multiplicative (operators/cluster.py doctrine).
    sig = minhash_signature_table(docs).persist()
    pairs = minhash_near_duplicates(
        docs, jaccard_threshold=0.5, signatures=sig
    ).localCheckpoint(eager=True)
    # lineage is truncated: the signature cache can be dropped now
    sig.unpersist()
    e = pairs.select(
        F.col("doc_id_a").alias("s"), F.col("doc_id_b").alias("d")
    ).unionByName(
        pairs.select(F.col("doc_id_b").alias("s"), F.col("doc_id_a").alias("d"))
    )
    deg = e.groupBy(F.col("s").alias("node")).agg(F.count(F.lit(1)).alias("dg"))
    # attach out-degree to each edge ONCE instead of re-joining deg
    # every iteration (the q250 fusion doctrine, round 9). e_deg is
    # NOT checkpointed any more: at sf0.1 the eager barrier cost more
    # than recomputing the derivation — interleaved A/B clean-rep
    # minimums 1.494 s (checkpoint) vs 1.342 s (plain) vs 1.563 s
    # (persist) at sf0.1/32 cores.
    e_deg = e.join(deg, e["s"] == deg["node"]).select("s", "d", "dg")
    # iteration 1 fused: r0 == SCALE for every node, so each edge's
    # contribution is the constant SCALE div deg — one aggregate, no
    # rank join at all
    r = e_deg.groupBy(F.col("d").alias("node")).agg(
        (F.lit(_PR_BASE) + F.expr(f"(85 * SUM({_PR_SCALE} div dg)) div 100"))
        .cast("bigint")
        .alias("r")
    )
    # iteration 2: one rank join + one aggregate
    contrib = e_deg.join(r, e_deg["s"] == r["node"]).select(
        F.col("d").alias("node"), F.expr("r div dg").alias("c")
    )
    r = contrib.groupBy("node").agg(
        (F.lit(_PR_BASE) + F.expr("(85 * SUM(c)) div 100"))
        .cast("bigint")
        .alias("r")
    )
    return (
        r.select(F.col("node").alias("doc_id"), F.col("r").alias("rank_score"))
        .orderBy(F.col("rank_score").desc(), "doc_id")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# q227 — join-cardinality estimation audit
# ---------------------------------------------------------------------------

_CARD_EDGES = (
    ("orders*lineitem@orderkey", "orders", "o_orderkey", "lineitem", "l_orderkey"),
    ("part*lineitem@partkey", "part", "p_partkey", "lineitem", "l_partkey"),
    ("customer*orders@custkey", "customer", "c_custkey", "orders", "o_custkey"),
)


def _card_edge_sql(edge: str, ta: str, ka: str, tb: str, kb: str) -> str:
    return f"""
    SELECT '{edge}' AS edge,
           s.na, s.nb, s.da, s.db,
           (s.na * s.nb) // GREATEST(s.da, s.db) AS est_rows,
           x.actual_rows,
           ROUND(CAST((s.na * s.nb) // GREATEST(s.da, s.db) AS DOUBLE)
                 / x.actual_rows, 6) AS est_over_actual
    FROM (SELECT CAST((SELECT COUNT(*) FROM {ta}) AS BIGINT) AS na,
                 CAST((SELECT COUNT(*) FROM {tb}) AS BIGINT) AS nb,
                 CAST((SELECT COUNT(DISTINCT {ka}) FROM {ta}) AS BIGINT) AS da,
                 CAST((SELECT COUNT(DISTINCT {kb}) FROM {tb}) AS BIGINT) AS db) s
    CROSS JOIN (
      SELECT CAST(SUM(a.ca * b.cb) AS BIGINT) AS actual_rows
      FROM (SELECT {ka} AS k, COUNT(*) AS ca FROM {ta} GROUP BY {ka}) a
      JOIN (SELECT {kb} AS k, COUNT(*) AS cb FROM {tb} GROUP BY {kb}) b
        ON a.k = b.k) x
    """


@query(
    "q227_join_cardinality_audit",
    oracle="\nUNION ALL\n".join(_card_edge_sql(*e) for e in _CARD_EDGES)
    + "\nORDER BY edge",
    tags=("relational", "optimizer", "cardinality", "audit"),
)
def q227_join_cardinality_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-cardinality estimation audit for the star schema's three
    hot equi-joins: the textbook uniform-key estimate
    |A|*|B| / max(ndv_a, ndv_b) — what a cost-based optimizer computes
    from table stats — against the TRUE join size computed WITHOUT
    executing the row join (per-key count tables joined, sum of count
    products: the distinct-first trick, so the audit costs two
    key-grain aggregates instead of materializing the join). The
    est/actual ratio is the optimizer-trust dashboard: a ratio far
    from 1 on a production key (skew, correlation) is the prelude to
    a catastrophic plan, and the cue to collect histograms
    (q219's skew audit) for that key.

    The integer product na*nb is fixture-bounded here; a 10^10-row
    deployment computes the same estimate in double (one deterministic
    multiply-divide) to avoid int64 overflow — noted, not needed at
    catalog scale."""
    frames = []
    for edge, ta, ka, tb, kb in _CARD_EDGES:
        A, B = load(spark, sf_dir, ta), load(spark, sf_dir, tb)
        stats = A.agg(
            F.count(F.lit(1)).cast("bigint").alias("na"),
            F.countDistinct(ka).cast("bigint").alias("da"),
        ).crossJoin(
            B.agg(
                F.count(F.lit(1)).cast("bigint").alias("nb"),
                F.countDistinct(kb).cast("bigint").alias("db"),
            )
        )
        ca = A.groupBy(F.col(ka).alias("k")).agg(F.count(F.lit(1)).alias("ca"))
        cb = B.groupBy(F.col(kb).alias("k")).agg(F.count(F.lit(1)).alias("cb"))
        actual = (
            ca.join(cb, "k")
            .agg(F.sum(F.col("ca") * F.col("cb")).cast("bigint").alias("actual_rows"))
        )
        est = F.expr("(na * nb) div GREATEST(da, db)")
        frames.append(
            stats.crossJoin(actual).select(
                F.lit(edge).alias("edge"),
                "na",
                "nb",
                "da",
                "db",
                est.alias("est_rows"),
                "actual_rows",
                F.round(est.cast("double") / F.col("actual_rows"), 6).alias(
                    "est_over_actual"
                ),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("edge")


# ---------------------------------------------------------------------------
# q228 — partition-layout planner
# ---------------------------------------------------------------------------

_TARGET_FILE_BYTES = 65536  # fixture-sized stand-in for the 128 MB default


@query(
    "q228_partition_layout_plan",
    oracle=f"""
    SELECT source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_bytes,
           CAST((SUM(n_chars) + {_TARGET_FILE_BYTES - 1})
                // {_TARGET_FILE_BYTES} AS BIGINT) AS n_files,
           ROUND(CAST(SUM(n_chars) AS DOUBLE)
                 / ((SUM(n_chars) + {_TARGET_FILE_BYTES - 1})
                    // {_TARGET_FILE_BYTES}), 2) AS mean_file_bytes,
           ROUND(CAST(SUM(n_chars) AS DOUBLE)
                 / (((SUM(n_chars) + {_TARGET_FILE_BYTES - 1})
                     // {_TARGET_FILE_BYTES}) * {_TARGET_FILE_BYTES}), 6)
             AS fill_ratio
    FROM documents GROUP BY source ORDER BY source
    """,
    tags=("llm", "layout", "planning", "io"),
)
def q228_partition_layout_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Physical-layout planner: per source, the number of output files
    a repartition-before-write should produce for a target file size,
    with the resulting mean file size and fill ratio. This is the
    small-files/giant-files dial that dominates 100 TB scan cost —
    `spark.sql.files.maxPartitionBytes` slices what you WRITE, so
    writing ceil(bytes/target) files per partition key (via
    repartitionByRange or a salt column) is what keeps both the
    writer's task count and the next reader's split count sane. The
    ceil is exact integer arithmetic ((b + t - 1) div t); byte mass
    uses n_chars as the uncompressed proxy the planner would scale by
    its observed compression ratio.

    One map-side-combined aggregate; output is one row per source."""
    docs = load(spark, sf_dir, "documents")
    t = _TARGET_FILE_BYTES
    files = F.expr(f"(SUM(n_chars) + {t - 1}) div {t}")
    return (
        docs.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum("n_chars").cast("bigint").alias("total_bytes"),
            files.alias("n_files"),
            F.round(
                F.sum("n_chars").cast("double") / files, 2
            ).alias("mean_file_bytes"),
            F.round(
                F.sum("n_chars").cast("double") / (files * t), 6
            ).alias("fill_ratio"),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q229 — Benford first-digit audit
# ---------------------------------------------------------------------------

# log10(1 + 1/d) literals shared by both engines (same Python repr).
_BENFORD = {d: repr(math.log10(1.0 + 1.0 / d)) for d in range(1, 10)}


def _benford_case_sql() -> str:
    # Literals go through a string -> DOUBLE cast: DuckDB parses bare
    # decimal-point literals as DECIMAL (whose re-cast to double is not
    # guaranteed correctly rounded), while string->double is — and
    # matches Spark's parse of the same repr() text exactly.
    whens = " ".join(
        f"WHEN digit = {d} THEN CAST('{lit}' AS DOUBLE)"
        for d, lit in _BENFORD.items()
    )
    return f"CASE {whens} END"


@query(
    "q229_benford_first_digit",
    oracle=f"""
    WITH d AS (
      SELECT CAST(SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT)
                              AS VARCHAR), 1, 1) AS INTEGER) AS digit
      FROM orders WHERE o_totalprice >= 1
    ),
    c AS (
      SELECT digit, COUNT(*) AS n,
             SUM(COUNT(*)) OVER () AS tot
      FROM d GROUP BY digit
    )
    SELECT digit,
           CAST(n AS BIGINT) AS n_orders,
           ROUND(CAST(n AS DOUBLE) / tot, 6) AS share,
           ROUND(CAST(({_benford_case_sql()}) AS DOUBLE), 6) AS benford_share,
           ROUND(CAST(n AS DOUBLE) / tot
                 - CAST(({_benford_case_sql()}) AS DOUBLE), 6) AS deviation
    FROM c ORDER BY digit
    """,
    tags=("relational", "quality", "benford", "forensics"),
)
def q229_benford_first_digit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law first-digit audit of order totals: observed
    first-significant-digit shares vs log10(1 + 1/d), the forensic
    data-quality check for fabricated or truncated numeric columns
    (organic multi-scale amounts follow Benford; synthetic uniform
    generators — like this fixture's — deviate, WHICH IS THE POINT of
    reporting the deviation column). First digit is extracted through
    integer string form after an explicit FLOOR — never a double cast
    (DuckDB rounds, Spark truncates: the q110 trap) and never log10
    on data (the expectation literals are Python-computed and shared
    textually by both engines).

    One map-side aggregate over 9 digit groups."""
    o = load(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("int")
    c = (
        o.filter(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    expected = F.lit(None).cast("double")
    for d, lit in sorted(_BENFORD.items()):
        expected = F.when(F.col("digit") == d, F.lit(float(lit))).otherwise(
            expected
        )
    # global-window-ok: 9-row first-digit frame
    wt = W.partitionBy()
    return c.select(
        "digit",
        F.col("n").cast("bigint").alias("n_orders"),
        F.round(F.col("n").cast("double") / F.sum("n").over(wt), 6).alias("share"),
        F.round(expected, 6).alias("benford_share"),
        F.round(
            F.col("n").cast("double") / F.sum("n").over(wt) - expected, 6
        ).alias("deviation"),
    ).orderBy("digit")


# ---------------------------------------------------------------------------
# q230 — frame-hash video near-duplicate detection
# ---------------------------------------------------------------------------


@query(
    "q230_frame_hash_neardup",
    oracle="""
    WITH m AS (
      SELECT doc_id AS media_id,
             HEX(ENCODE(text)) AS hx,
             OCTET_LENGTH(ENCODE(text)) AS nb
      FROM documents
    ),
    e AS (
      SELECT media_id, hx,
             UNNEST(RANGE(0, GREATEST(nb // 160, 1))) AS f
      FROM m
    ),
    fr AS (
      SELECT DISTINCT media_id,
             SUBSTR(MD5(SUBSTR(hx, CAST(f * 320 + 1 AS BIGINT), 320)), 1, 12)
               AS fh
      FROM e
    ),
    nf AS (SELECT media_id, COUNT(*) AS n FROM fr GROUP BY media_id),
    pr AS (
      SELECT a.media_id AS media_id_a, b.media_id AS media_id_b,
             COUNT(*) AS shared
      FROM fr a JOIN fr b ON a.fh = b.fh AND a.media_id < b.media_id
      GROUP BY 1, 2
    )
    SELECT p.media_id_a, p.media_id_b,
           CAST(p.shared AS BIGINT) AS n_shared_frames,
           ROUND(CAST(p.shared AS DOUBLE) / (na.n + nb2.n - p.shared), 6)
             AS frame_jaccard
    FROM pr p
    JOIN nf na ON na.media_id = p.media_id_a
    JOIN nf nb2 ON nb2.media_id = p.media_id_b
    ORDER BY media_id_a, media_id_b
    """,
    tags=("multimodal", "dedup", "video", "fingerprint"),
)
def q230_frame_hash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video-level near-duplicate detection over sampled frame hashes:
    each media object (documents re-typed as binary media, the q93/q94
    convention) is fingerprinted as its SET of frame digests from the
    Arrow-batched frame-sampling operator, and pairs are scored by
    frame-set Jaccard — the standard shot-level video dedup scheme
    (re-encoded/re-containered copies keep identical frame content).
    Candidate pairs come from an inverted index on the frame digest
    (docs sharing at least one frame), NEVER an all-pairs join — the
    q70 economics applied to the multimodal plane; the heavy binary
    frame column is reduced to a 12-hex-char digest BEFORE the
    shuffle, so bytes never move.

    The oracle replays the byte-slice frames on hex strings and the
    digest Jaccard exactly (q94 proved the frame-slice parity)."""
    from ..operators.multimodal import documents_as_media, frame_sample_stub

    docs = load(spark, sf_dir, "documents")
    frames = frame_sample_stub(documents_as_media(docs), every_n=10)
    fr = (
        frames.select(
            "media_id",
            F.substring(F.md5(F.hex("frame")), 1, 12).alias("fh"),
        )
        .distinct()
        .persist()
    )
    nf = fr.groupBy("media_id").agg(F.count(F.lit(1)).alias("n"))
    a = fr.select(F.col("media_id").alias("media_id_a"), "fh")
    b = fr.select(F.col("media_id").alias("media_id_b"), "fh")
    pr = (
        a.join(b, "fh")
        .filter(F.col("media_id_a") < F.col("media_id_b"))
        .groupBy("media_id_a", "media_id_b")
        .agg(F.count(F.lit(1)).alias("shared"))
    )
    na = nf.select(F.col("media_id").alias("media_id_a"), F.col("n").alias("na"))
    nb = nf.select(F.col("media_id").alias("media_id_b"), F.col("n").alias("nb"))
    out = (
        pr.join(F.broadcast(na), "media_id_a")
        .join(F.broadcast(nb), "media_id_b")
        .select(
            "media_id_a",
            "media_id_b",
            F.col("shared").cast("bigint").alias("n_shared_frames"),
            F.round(
                F.col("shared").cast("double")
                / (F.col("na") + F.col("nb") - F.col("shared")),
                6,
            ).alias("frame_jaccard"),
        )
        .orderBy("media_id_a", "media_id_b")
    )
    return out


# ---------------------------------------------------------------------------
# q231 — vocabulary overlap via HLL set algebra
# ---------------------------------------------------------------------------


def _sql_hll_lang_cte() -> str:
    from .llm_ops7 import _HLL_M

    return f"""
    tl AS (
      SELECT DISTINCT lang, tok FROM (
        SELECT lang, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
      ) t
    ),
    h AS (
      SELECT lang, CAST('0x' || SUBSTR(MD5(tok), 1, 15) AS BIGINT) AS hv
      FROM tl
    ),
    r AS (
      SELECT lang, hv % {_HLL_M} AS bucket,
             CASE WHEN hv // {_HLL_M} = 0 THEN 53
                  ELSE 52 - LENGTH(BIN(hv // {_HLL_M})) + 1 END AS rho
      FROM h
    ),
    regs AS (
      SELECT lang, bucket, MAX(rho) AS reg FROM r GROUP BY lang, bucket
    ),
    pl AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b
      FROM (SELECT DISTINCT lang FROM tl) a
      JOIN (SELECT DISTINCT lang FROM tl) b ON a.lang < b.lang
    )"""


def _q231_oracle() -> str:
    from .llm_ops7 import _SQL_HLL_EST

    return f"""
    WITH {_sql_hll_lang_cte()},
    el AS (SELECT lang, {_SQL_HLL_EST} AS est FROM regs GROUP BY lang),
    u AS (
      SELECT p.lang_a, p.lang_b, g.bucket, MAX(g.reg) AS reg
      FROM pl p JOIN regs g ON g.lang = p.lang_a OR g.lang = p.lang_b
      GROUP BY p.lang_a, p.lang_b, g.bucket
    ),
    eu AS (
      SELECT lang_a, lang_b, {_SQL_HLL_EST} AS est_u
      FROM u GROUP BY lang_a, lang_b
    ),
    nl AS (SELECT lang, COUNT(*) AS n FROM tl GROUP BY lang),
    ex AS (
      SELECT a.lang AS lang_a, b.lang AS lang_b, COUNT(*) AS inter
      FROM tl a JOIN tl b ON a.tok = b.tok AND a.lang < b.lang
      GROUP BY 1, 2
    )
    SELECT e.lang_a, e.lang_b,
           ROUND(ea.est, 4) AS hll_est_a,
           ROUND(eb.est, 4) AS hll_est_b,
           ROUND(e.est_u, 4) AS hll_est_union,
           ROUND((ea.est + eb.est - e.est_u) / e.est_u, 6) AS hll_jaccard,
           ROUND(CAST(x.inter AS DOUBLE) / (na.n + nb.n - x.inter), 6)
             AS exact_jaccard
    FROM eu e
    JOIN el ea ON ea.lang = e.lang_a
    JOIN el eb ON eb.lang = e.lang_b
    JOIN nl na ON na.lang = e.lang_a
    JOIN nl nb ON nb.lang = e.lang_b
    JOIN ex x ON x.lang_a = e.lang_a AND x.lang_b = e.lang_b
    ORDER BY e.lang_a, e.lang_b
    """


@query(
    "q231_vocab_overlap_hll",
    oracle=_q231_oracle(),
    tags=("llm", "sketch", "setalgebra", "vocabulary"),
)
def q231_vocab_overlap_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-language vocabulary overlap estimated ENTIRELY from HLL
    register vectors — the set-algebra payoff of a mergeable sketch:
    |A ∪ B| comes from the elementwise-MAX union of two 256-byte
    register vectors (no token data touched), |A ∩ B| by inclusion-
    exclusion, and the sketch Jaccard is compared against the exact
    token-join Jaccard per language pair. At 100 TB this is THE way
    to answer "how much vocabulary do two corpora share?" — the exact
    form requires a token-level join across both corpora; the sketch
    form ships 256 bytes per corpus to the driver. The inclusion-
    exclusion error (visible next to exact_jaccard) is the documented
    weakness of HLL intersections at small overlaps — which is the
    point of auditing it.

    Same deterministic machinery as q215 (shared helpers: exact-
    integer harmonic denominator, quantized-LN small-range
    correction); the register table is built ONCE per language and
    persisted for the per-language and per-pair-union estimates."""
    from .llm_ops7 import hll_estimate_agg, hll_register_max

    docs = load(spark, sf_dir, "documents")
    toks = docs.select("lang", F.explode(F.split("text", " ")).alias("tok"))
    tl = toks.distinct().persist()
    regs = hll_register_max(tl, "lang").persist()
    langs = regs.select("lang").distinct()
    pl = (
        langs.select(F.col("lang").alias("lang_a"))
        .join(langs.select(F.col("lang").alias("lang_b")))
        .filter(F.col("lang_a") < F.col("lang_b"))
    )
    el = regs.groupBy("lang").agg(hll_estimate_agg().alias("est"))
    u = (
        pl.join(
            regs,
            (regs["lang"] == pl["lang_a"]) | (regs["lang"] == pl["lang_b"]),
        )
        .groupBy("lang_a", "lang_b", "bucket")
        .agg(F.max("reg").alias("reg"))
    )
    eu = u.groupBy("lang_a", "lang_b").agg(hll_estimate_agg().alias("est_u"))
    nl = tl.groupBy("lang").agg(F.count(F.lit(1)).alias("n"))
    a = tl.select(F.col("lang").alias("lang_a"), "tok")
    b = tl.select(F.col("lang").alias("lang_b"), "tok")
    ex = (
        a.join(b, "tok")
        .filter(F.col("lang_a") < F.col("lang_b"))
        .groupBy("lang_a", "lang_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    ea = el.select(F.col("lang").alias("lang_a"), F.col("est").alias("est_a"))
    eb = el.select(F.col("lang").alias("lang_b"), F.col("est").alias("est_b"))
    na = nl.select(F.col("lang").alias("lang_a"), F.col("n").alias("na"))
    nb = nl.select(F.col("lang").alias("lang_b"), F.col("n").alias("nb"))
    out = (
        eu.join(F.broadcast(ea), "lang_a")
        .join(F.broadcast(eb), "lang_b")
        .join(F.broadcast(na), "lang_a")
        .join(F.broadcast(nb), "lang_b")
        .join(ex, ["lang_a", "lang_b"])
        .select(
            "lang_a",
            "lang_b",
            F.round("est_a", 4).alias("hll_est_a"),
            F.round("est_b", 4).alias("hll_est_b"),
            F.round("est_u", 4).alias("hll_est_union"),
            F.round(
                (F.col("est_a") + F.col("est_b") - F.col("est_u"))
                / F.col("est_u"),
                6,
            ).alias("hll_jaccard"),
            F.round(
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter")),
                6,
            ).alias("exact_jaccard"),
        )
        .orderBy("lang_a", "lang_b")
    )
    return out


# ---------------------------------------------------------------------------
# q232 — sessionization gap-parameter sweep
# ---------------------------------------------------------------------------


@query(
    "q232_session_gap_sweep",
    oracle="""
    WITH d AS (
      SELECT EPOCH_US(ts) - LAG(EPOCH_US(ts))
               OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
      FROM events
    ),
    g AS (SELECT UNNEST([10, 30, 60]) AS gap_minutes)
    SELECT g.gap_minutes,
           CAST(SUM(CASE WHEN d.gap_us IS NULL
                          OR d.gap_us >= CAST(g.gap_minutes AS BIGINT) * 60000000
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(COUNT(*) AS DOUBLE)
                 / SUM(CASE WHEN d.gap_us IS NULL
                             OR d.gap_us >= CAST(g.gap_minutes AS BIGINT) * 60000000
                       THEN 1 ELSE 0 END), 6) AS mean_events_per_session
    FROM g CROSS JOIN d
    GROUP BY g.gap_minutes ORDER BY g.gap_minutes
    """,
    tags=("llm", "events", "sessionization", "tuning"),
)
def q232_session_gap_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization gap-parameter sweep: session counts and mean
    session size at 10/30/60-minute inactivity gaps, all derived from
    ONE user-keyed LAG pass — the q204/q209 tuning-sweep economics
    applied to q82's session rule. A session starts where the gap to
    the previous same-user event is null or >= the threshold, so
    counting starts IS counting sessions; the sweep re-reads the tiny
    (gap_us) column per threshold instead of re-shuffling events.
    Gap arithmetic is exact integer microseconds on both engines
    (EPOCH_US / unix_micros); the only double is the final
    single-division mean.

    The operational question it answers: how sensitive are session
    metrics to the gap constant before you bake it into q82/q184/q200?"""
    ev = load(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    d = ev.select(
        (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w)).alias("gap_us")
    )
    g = spark.range(0).sparkSession.createDataFrame(
        [(10,), (30,), (60,)], "gap_minutes int"
    )
    starts = F.sum(
        F.when(
            F.col("gap_us").isNull()
            | (
                F.col("gap_us")
                >= F.col("gap_minutes").cast("bigint") * 60000000
            ),
            1,
        ).otherwise(0)
    )
    return (
        d.crossJoin(F.broadcast(g))
        .groupBy("gap_minutes")
        .agg(
            starts.cast("bigint").alias("n_sessions"),
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.count(F.lit(1)).cast("double") / starts, 6).alias(
                "mean_events_per_session"
            ),
        )
        .orderBy("gap_minutes")
    )


# ---------------------------------------------------------------------------
# q233 — order-header vs line-item reconciliation
# ---------------------------------------------------------------------------


@query(
    "q233_order_reconciliation",
    oracle="""
    WITH ls AS (
      SELECT l_orderkey,
             SUM(CAST(l_extendedprice * (1 + l_tax) * (1 - l_discount)
                      AS DECIMAL(18,6))) AS line_sum
      FROM lineitem GROUP BY l_orderkey
    ),
    j AS (
      SELECT o.o_orderkey, o.o_totalprice, ls.line_sum,
             CASE
               WHEN ls.line_sum IS NULL THEN '0_missing_lines'
               WHEN CAST(o.o_totalprice - CAST(ls.line_sum AS DOUBLE)
                         AS DOUBLE) / o.o_totalprice < -0.5
                 THEN '1_under_50pct_plus'
               WHEN CAST(o.o_totalprice - CAST(ls.line_sum AS DOUBLE)
                         AS DOUBLE) / o.o_totalprice < -0.1
                 THEN '2_under_10_50pct'
               WHEN CAST(o.o_totalprice - CAST(ls.line_sum AS DOUBLE)
                         AS DOUBLE) / o.o_totalprice <= 0.1
                 THEN '3_within_10pct'
               WHEN CAST(o.o_totalprice - CAST(ls.line_sum AS DOUBLE)
                         AS DOUBLE) / o.o_totalprice <= 0.5
                 THEN '4_over_10_50pct'
               ELSE '5_over_50pct_plus'
             END AS band
      FROM orders o LEFT JOIN ls ON ls.l_orderkey = o.o_orderkey
    )
    SELECT band,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
             AS header_total,
           CAST(ROUND(COALESCE(SUM(line_sum), 0), 2) AS DOUBLE)
             AS line_total
    FROM j GROUP BY band ORDER BY band
    """,
    tags=("relational", "reconciliation", "quality", "audit"),
)
def q233_order_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-table reconciliation: every order's header total against
    the decimal-exact sum of its line items (TPC-H's own invariant:
    o_totalprice == SUM(extendedprice*(1+tax)*(1-discount))), banded
    by relative discrepancy with an explicit bucket for orders that
    have NO line items at all. This fixture deliberately violates the
    invariant (synthetic totals), so the report shows a real
    violation distribution — the generalization of the reference's
    arity gate (dags/Final_app.py:79-87) from one row's shape to a
    cross-table accounting identity. The reconciliation join is
    key-grain (order-level sums first, the q149/q227 distinct-first
    economics); line money follows the functions/compare.py decimal
    doctrine, and the banding ratio is one deterministic double
    division per order.

    At 100 TB this is the daily close-of-books job: two key-grain
    aggregates and a key join — never a row-level fact-to-fact join."""
    o = load(spark, sf_dir, "orders")
    li = load(spark, sf_dir, "lineitem")
    ls = li.groupBy(F.col("l_orderkey").alias("o_orderkey")).agg(
        F.sum(
            (
                F.col("l_extendedprice")
                * (1 + F.col("l_tax"))
                * (1 - F.col("l_discount"))
            ).cast("decimal(18,6)")
        ).alias("line_sum")
    )
    rel = (
        F.col("o_totalprice") - F.col("line_sum").cast("double")
    ).cast("double") / F.col("o_totalprice")
    band = (
        F.when(F.col("line_sum").isNull(), "0_missing_lines")
        .when(rel < -0.5, "1_under_50pct_plus")
        .when(rel < -0.1, "2_under_10_50pct")
        .when(rel <= 0.1, "3_within_10pct")
        .when(rel <= 0.5, "4_over_10_50pct")
        .otherwise("5_over_50pct_plus")
    )
    zero = F.lit(0).cast("decimal(18,6)")
    return (
        o.join(ls, "o_orderkey", "left")
        .select(F.col("o_totalprice"), F.col("line_sum"), band.alias("band"))
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.round(F.sum(F.col("o_totalprice").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("header_total"),
            F.round(F.coalesce(F.sum("line_sum"), zero), 2)
            .cast("double")
            .alias("line_total"),
        )
        .orderBy("band")
    )


# ---------------------------------------------------------------------------
# q234 — robust (median/MAD) outlier audit
# ---------------------------------------------------------------------------


@query(
    "q234_mad_outlier_audit",
    oracle="""
    WITH r AS (
      SELECT event_type, value, event_id,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY value, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM events
    ),
    med AS (SELECT event_type, value AS med FROM r WHERE rn = (n + 1) // 2),
    d AS (
      SELECT e.event_type, e.event_id, ABS(e.value - m.med) AS dev, m.med
      FROM events e JOIN med m ON m.event_type = e.event_type
    ),
    rd AS (
      SELECT event_type, dev,
             ROW_NUMBER() OVER (PARTITION BY event_type
                                ORDER BY dev, event_id) AS rn,
             COUNT(*) OVER (PARTITION BY event_type) AS n
      FROM d
    ),
    mads AS (SELECT event_type, dev AS mad FROM rd WHERE rn = (n + 1) // 2)
    SELECT d.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(MIN(d.med), 6) AS median_value,
           ROUND(MIN(s.mad), 6) AS mad,
           CAST(SUM(CASE WHEN d.dev > CAST('4.4478' AS DOUBLE) * s.mad
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(CAST(SUM(CASE WHEN d.dev > CAST('4.4478' AS DOUBLE) * s.mad
                         THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*), 6)
             AS outlier_rate
    FROM d JOIN mads s ON s.event_type = d.event_type
    GROUP BY d.event_type ORDER BY d.event_type
    """,
    tags=("llm", "robust", "outlier", "audit"),
)
def q234_mad_outlier_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust outlier audit per event type: median and MAD (median
    absolute deviation) with outliers defined as deviation > 3 sigma-
    equivalents (3 * 1.4826 * MAD — the consistency constant for
    normal data). Unlike q190's mean/stddev gate, median/MAD have a
    50% breakdown point: the outliers themselves cannot drag the
    threshold, which is what you want when the column is ALREADY
    suspected dirty. Both medians are LOWER medians selected by
    integer rank ((n+1) div 2 with an event_id tiebreak), so each is
    an exact data value on both engines — no interpolation, no
    floating accumulation anywhere; the only derived doubles are one
    subtraction per row and one shared string-cast constant.

    Scale: two type-keyed window passes (same shuffle key) + one
    broadcast-sized medians join per pass; at 10^9 rows/type the
    rank-selection generalizes to the partition-wise two-pass
    median-of-medians or a quantile sketch (documented tradeoff) —
    the audit's contract (exact data values) is what the catalog
    verifies."""
    ev = load(spark, sf_dir, "events")
    wr = W.partitionBy("event_type").orderBy("value", "event_id")
    wn = W.partitionBy("event_type")
    r = ev.select(
        "event_type",
        "value",
        "event_id",
        F.row_number().over(wr).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    med = r.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("value").alias("med")
    )
    d = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "event_id",
        F.abs(F.col("value") - F.col("med")).alias("dev"),
        "med",
    )
    wd = W.partitionBy("event_type").orderBy("dev", "event_id")
    rd = d.select(
        "event_type",
        "dev",
        F.row_number().over(wd).alias("rn"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    mads = rd.filter(F.col("rn") == F.expr("(n + 1) div 2")).select(
        "event_type", F.col("dev").alias("mad")
    )
    out_flag = F.when(
        F.col("dev") > F.lit(4.4478) * F.col("mad"), 1
    ).otherwise(0)
    return (
        d.join(F.broadcast(mads), "event_type")
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_events"),
            F.round(F.min("med"), 6).alias("median_value"),
            F.round(F.min("mad"), 6).alias("mad"),
            F.sum(out_flag).cast("bigint").alias("n_outliers"),
            F.round(F.sum(out_flag).cast("double") / F.count(F.lit(1)), 6).alias(
                "outlier_rate"
            ),
        )
        .orderBy("event_type")
    )
