"""LLM-ops wave 13: sketch-accuracy pricing, similarity-join
candidates for short strings, incremental signature maintenance,
curriculum interleaving, distributional source valuation, and dedup
keep-policy economics — the ninth ring of curation/analytics machinery
around waves 1-12.

Output-hardening doctrine (as waves 6-12): BIGINT-cast integer
aggregates, exact nearest-rank selection ((n*p+99) div 100, the q252
form), LN quantized to DECIMAL(18,6) per term before any sum (q128/
q244), min_by/max_by keyed on unique ids, identical-IEEE float
expressions on both sides where a float is unavoidable (q98 doctrine),
and truncating integer division for every ppm ratio.

Reference parity: the reference loads one market table a day
(dags/Final_app.py:79-149, insert_data.py:53-61); this wave is the
maintenance ring — what an approximate summary of that table costs in
accuracy (q267), how its daily reload can reuse yesterday's dedup
state (q269), and how keep-policy choices shift what survives (q272).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.dedup import minhash_signatures
from ..operators.text import tokens
from ..sources.tables import load
from .llm_ops import _SQL_SHINGLES3, _sql_minhash_sig_cte
from .registry import query

# ---------------------------------------------------------------------------
# q267 — fixed-bin histogram quantile error audit
# ---------------------------------------------------------------------------

_BINS = 256


@query(
    "q267_histogram_quantile_error",
    oracle=f"""
    WITH s AS (
      SELECT MIN(o_totalprice) AS lo, MAX(o_totalprice) AS hi,
             COUNT(*) AS n FROM orders
    ),
    b AS (
      SELECT LEAST({_BINS} - 1,
                   CAST(FLOOR((o.o_totalprice - s.lo)
                        / ((s.hi - s.lo) / {_BINS}.0)) AS INT)) AS bin
      FROM orders o, s
    ),
    h AS (SELECT bin, COUNT(*) AS cnt FROM b GROUP BY bin),
    c AS (
      SELECT bin, SUM(cnt) OVER (ORDER BY bin) AS cum FROM h
    ),
    r AS (
      SELECT o_totalprice AS v,
             ROW_NUMBER() OVER (ORDER BY o_totalprice, o_orderkey) AS rn
      FROM orders
    ),
    p(pct) AS (VALUES (50), (90), (99)),
    exact AS (
      SELECT p.pct, MIN(r.v) AS exact_value
      FROM p JOIN r ON r.rn = (((SELECT n FROM s) * p.pct + 99) // 100)
      GROUP BY p.pct
    ),
    est AS (
      SELECT p.pct,
             MIN(c.bin) AS est_bin
      FROM p JOIN c ON c.cum >= (((SELECT n FROM s) * p.pct + 99) // 100)
      GROUP BY p.pct
    )
    SELECT CAST(e.pct AS INT) AS pct,
           x.exact_value AS exact_value,
           s.lo + (e.est_bin + 1) * ((s.hi - s.lo) / {_BINS}.0) AS est_value,
           CAST(e.est_bin AS INT) AS est_bin
    FROM est e JOIN exact x ON x.pct = e.pct, s
    ORDER BY pct
    """,
    tags=("sketch", "quantile", "histogram", "audit"),
)
def q267_histogram_quantile_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Accuracy pricing for the mergeable quantile summary: p50/p90/p99
    of order value from a {256}-bin equi-width histogram (the
    upper-edge estimate) side by side with the EXACT nearest-rank
    value — the audit that decides whether the cheap sketch replaces
    the exact pass at full scale (the q143/q215 accuracy-audit
    doctrine, now for quantiles; q252 is the exact-only reader).

    Scale: the histogram is ONE map-side-combined 256-group aggregate
    plus a 256-row running sum — mergeable across any partitioning,
    the structure a 100 TB percentile dashboard actually ships. The
    exact baseline is ALSO scale-safe: instead of a global ROW_NUMBER
    over the fact table (single-partition sort — the WindowExec trap),
    the histogram's cumulative counts locate the ≤3 bins that contain
    the target ranks, the fact table is semi-joined down to those bins
    (a ~1/256 slice), and ROW_NUMBER runs partitioned BY BIN on the
    slice: global rank = bin's preceding-cum + rank-in-bin, exact
    because bin is a function of the sort key, so within-bin order is
    global order restricted to the bin. The only unpartitioned window
    left is the 256-row running sum. Floats are identical-IEEE on both
    engines (one subtraction, one division, one FLOOR — the q98
    doctrine); ranks are the exact integer form (n*p+99) div 100. The
    1-row stats and the 256-row cumulative histogram are persisted —
    each feeds 3-4 consumers, and without the persist every textual
    repetition of their lineage is a REAL extra aggregation pass over
    the fact table."""
    o = load(spark, sf_dir, "orders")
    s = o.agg(
        F.min("o_totalprice").alias("lo"),
        F.max("o_totalprice").alias("hi"),
        F.count(F.lit(1)).alias("n"),
    ).persist()
    width = (F.col("hi") - F.col("lo")) / F.lit(float(_BINS))
    b = (
        o.crossJoin(F.broadcast(s))
        .select(
            F.least(
                F.lit(_BINS - 1),
                F.floor((F.col("o_totalprice") - F.col("lo")) / width).cast("int"),
            ).alias("bin"),
            F.col("o_totalprice").alias("v"),
            "o_orderkey",
        )
    )
    h = b.groupBy("bin").agg(F.count(F.lit(1)).alias("cnt"))
    c = h.select(
        "bin",
        # global-window-ok: 256-bin histogram cumsum (reduced frame; q267 doctrine)
        F.sum("cnt").over(W.orderBy("bin")).alias("cum"),
        # global-window-ok: 256-bin histogram cumsum (reduced frame; q267 doctrine)
        (F.sum("cnt").over(W.orderBy("bin")) - F.col("cnt")).alias("prev_cum"),
    ).persist()
    p = spark.createDataFrame([(50,), (90,), (99,)], "pct int")
    rank = F.expr("(n * pct + 99) div 100")
    targets = p.crossJoin(F.broadcast(s.select("n"))).select(
        "pct", rank.alias("k")
    )
    # bin containing rank k = first bin whose cumulative count reaches k
    tbin = (
        targets.join(F.broadcast(c), F.col("cum") >= F.col("k"))
        .groupBy("pct", "k")
        .agg(F.min("bin").alias("bin"))
        .join(F.broadcast(c), "bin")
        .select("pct", "bin", (F.col("k") - F.col("prev_cum")).alias("k_in_bin"))
    )
    exact = (
        b.join(
            F.broadcast(tbin.select("bin").distinct()), "bin", "left_semi"
        )
        .withColumn(
            "rn_in_bin",
            F.row_number().over(
                W.partitionBy("bin").orderBy("v", "o_orderkey")
            ),
        )
        .join(F.broadcast(tbin), ["bin"])
        .where(F.col("rn_in_bin") == F.col("k_in_bin"))
        .groupBy("pct")
        .agg(F.min("v").alias("exact_value"))
    )
    est = (
        targets.join(F.broadcast(c), F.col("cum") >= F.col("k"))
        .groupBy("pct")
        .agg(F.min("bin").alias("est_bin"))
    )
    out = (
        est.join(F.broadcast(exact), "pct")
        .crossJoin(F.broadcast(s))
        .select(
            F.col("pct").cast("int").alias("pct"),
            "exact_value",
            (F.col("lo") + (F.col("est_bin") + 1) * width).alias("est_value"),
            F.col("est_bin").cast("int").alias("est_bin"),
        )
        .orderBy("pct")
    )
    return out


# ---------------------------------------------------------------------------
# q268 — deletion-neighborhood edit-distance-1 join
# ---------------------------------------------------------------------------


@query(
    "q268_edit_distance_one_join",
    oracle="""
    WITH v AS (SELECT DISTINCT c_name AS nm FROM customer),
    sig AS (
      SELECT nm, nm AS sig FROM v
      UNION ALL
      SELECT nm,
             SUBSTR(nm, 1, CAST(i AS INTEGER) - 1)
               || SUBSTR(nm, CAST(i AS INTEGER) + 1,
                         LENGTH(nm) - CAST(i AS INTEGER)) AS sig
      FROM (SELECT nm, UNNEST(RANGE(1, LENGTH(nm) + 1)) AS i FROM v)
    ),
    cand AS (
      SELECT DISTINCT a.nm AS name_a, b.nm AS name_b
      FROM sig a JOIN sig b ON a.sig = b.sig AND a.nm < b.nm
    ),
    pairs AS (
      SELECT name_a, name_b FROM cand
      WHERE LEVENSHTEIN(name_a, name_b) = 1
    ),
    pos AS (
      SELECT name_a, name_b, MIN(i) AS diff_pos
      FROM (
        SELECT name_a, name_b, UNNEST(RANGE(1, LENGTH(name_a) + 1)) AS i
        FROM pairs
      )
      WHERE SUBSTR(name_a, CAST(i AS INTEGER), 1)
              <> SUBSTR(name_b, CAST(i AS INTEGER), 1)
      GROUP BY name_a, name_b
    )
    SELECT CAST(diff_pos AS INT) AS diff_pos,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM pos GROUP BY diff_pos ORDER BY diff_pos
    """,
    tags=("similarity", "editdistance", "join", "passjoin"),
)
def q268_edit_distance_one_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance-1 similarity JOIN over customer names via
    deletion-neighborhood signatures (the Ed-Join/PassJoin family):
    two strings are within one edit iff they share a signature from
    {self} ∪ {self minus one char} — equality, insertion/deletion, and
    substitution all collide on a deletion signature — so candidates
    come from an equi-join on signatures, never an all-pairs
    Levenshtein. Verified pairs are histogrammed by the position of
    the differing character (which digit of the id-like name drifts —
    the fat-finger profile a record-linkage pass reads first).
    q218 VERIFIES LSH candidates with edit distance; this GENERATES
    candidates with edit-distance semantics from scratch.

    Scale: signatures are O(len) per name; the self-join cost is
    Σ bucket² over signature buckets (the q68 economics — names that
    agree everywhere but one position share a bucket), and the exact
    Levenshtein runs only on candidates. Names are printable ASCII,
    where Spark's codepoint and DuckDB's byte Levenshtein coincide
    (the q218 property)."""
    cust = load(spark, sf_dir, "customer").select(F.col("c_name").alias("nm")).distinct()
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
    a = sig.alias("a")
    b = sig.alias("b")
    cand = (
        a.join(b, (F.col("a.sig") == F.col("b.sig")) & (F.col("a.nm") < F.col("b.nm")))
        .select(F.col("a.nm").alias("name_a"), F.col("b.nm").alias("name_b"))
        .distinct()
    )
    pairs = cand.filter(F.levenshtein("name_a", "name_b") == 1)
    pos = (
        pairs.select(
            "name_a",
            "name_b",
            F.explode(F.sequence(F.lit(1), F.length("name_a"))).alias("i"),
        )
        .filter(
            F.expr("substring(name_a, i, 1) <> substring(name_b, i, 1)")
        )
        .groupBy("name_a", "name_b")
        .agg(F.min("i").alias("diff_pos"))
    )
    return (
        pos.groupBy(F.col("diff_pos").cast("int").alias("diff_pos"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_pairs"))
        .orderBy("diff_pos")
    )


# ---------------------------------------------------------------------------
# q269 — incremental MinHash signature maintenance
# ---------------------------------------------------------------------------


@query(
    "q269_incremental_signature_maintenance",
    oracle=f"""
    WITH sh AS ({_SQL_SHINGLES3}),
    hx AS ({_sql_minhash_sig_cte(8)}),
    full_sigs AS (SELECT doc_id, mh_0, mh_1, mh_2, mh_3, mh_4, mh_5, mh_6, mh_7
                  FROM hx),
    changed AS (
      SELECT doc_id FROM documents
      WHERE SUBSTR(MD5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0', '1')
    ),
    incr AS (
      SELECT f.* FROM full_sigs f JOIN changed c USING (doc_id)
      UNION ALL
      SELECT f.* FROM full_sigs f
      WHERE doc_id NOT IN (SELECT doc_id FROM changed)
    ),
    mismatch AS (
      SELECT COUNT(*) AS n FROM (
        SELECT * FROM incr EXCEPT SELECT * FROM full_sigs
      )
    )
    SELECT CAST((SELECT COUNT(*) FROM full_sigs) AS BIGINT) AS n_docs,
           CAST((SELECT COUNT(*) FROM changed) AS BIGINT) AS n_recomputed,
           CAST((SELECT COUNT(*) FROM full_sigs)
                - (SELECT COUNT(*) FROM changed) AS BIGINT) AS n_reused,
           CAST((SELECT n FROM mismatch) AS BIGINT) AS n_mismatch
    """,
    tags=("llm", "dedup", "ivm", "incremental"),
)
def q269_incremental_signature_maintenance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental dedup-state maintenance: when a daily load changes
    ~1/8 of the corpus (an md5-prefix gate stands in for the changed
    partition — the q101/q105 deterministic-gate doctrine), MinHash
    signatures are recomputed ONLY for changed docs and unioned with
    the reused remainder; the audit counts recomputed/reused rows and
    verifies the merged state equals a from-scratch rebuild
    (n_mismatch must be 0). This is the q221 snapshot-delta pattern
    applied to dedup state — the difference between an O(delta) and an
    O(corpus) nightly signature job.

    Scale: the changed-side recompute touches delta rows only; the
    reused side is an anti-join on 8-byte ids against a broadcast
    changed-id set; the equality audit is signature-keyed (8x int64
    per doc), never text-keyed. At 100 TB the rebuild side of the
    audit runs sampled (q143 doctrine) — here it runs in full so the
    oracle can value-check the zero."""
    docs = load(spark, sf_dir, "documents")
    changed_ids = docs.select("doc_id").filter(
        F.substring(F.md5(F.col("doc_id").cast("string")), 1, 1).isin("0", "1")
    )
    # the from-scratch signature table feeds the reuse anti-join, the
    # equality audit, AND the final count — persist it (8 int64 + id
    # per doc) so the text scan + shingle + hash lineage runs once
    full_sigs = minhash_signatures(docs).persist()
    recomputed = minhash_signatures(docs.join(F.broadcast(changed_ids), "doc_id"))
    reused = full_sigs.join(F.broadcast(changed_ids), "doc_id", "left_anti")
    incr = recomputed.unionByName(reused)
    n_mismatch = (
        incr.exceptAll(full_sigs)
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("n").alias("n_mismatch"))
    )
    out = (
        full_sigs.agg(F.count(F.lit(1)).alias("n_docs"))
        .crossJoin(changed_ids.agg(F.count(F.lit(1)).alias("n_recomputed")))
        .crossJoin(n_mismatch)
        .select(
            # derived column FIRST: an output alias that shadows an
            # input referenced later in the same select is the q98
            # lateral-capture trap the lint guards against
            (F.col("n_docs") - F.col("n_recomputed"))
            .cast("bigint")
            .alias("n_reused"),
            F.col("n_docs").cast("bigint").alias("n_docs"),
            F.col("n_recomputed").cast("bigint").alias("n_recomputed"),
            F.col("n_mismatch").cast("bigint").alias("n_mismatch"),
        )
    )
    return out


# ---------------------------------------------------------------------------
# q270 — curriculum interleave plan
# ---------------------------------------------------------------------------


@query(
    "q270_curriculum_interleave_plan",
    oracle="""
    WITH idx AS (
      SELECT source, DENSE_RANK() OVER (ORDER BY source) - 1 AS source_index
      FROM (SELECT DISTINCT source FROM documents)
    ),
    ns AS (SELECT COUNT(*) AS n_sources FROM idx),
    cnt AS (SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source)
    SELECT c.source,
           CAST(i.source_index AS INT) AS source_index,
           CAST(c.n_docs AS BIGINT) AS n_docs,
           CAST(i.source_index AS BIGINT) AS first_pos,
           CAST((c.n_docs - 1) * ns.n_sources + i.source_index
                AS BIGINT) AS last_pos
    FROM cnt c JOIN idx i USING (source), ns
    ORDER BY source
    """,
    tags=("llm", "curriculum", "interleave", "ordering"),
)
def q270_curriculum_interleave_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic round-robin interleave across sources: document k
    of source s (in md5-shuffled order, the q101 doctrine) trains at
    global position k * n_sources + source_index — injective by
    construction (position mod n_sources recovers the source), no
    global sort, no coordination. The plan emits each source's first/
    last positions; a trainer consuming positions in order sees
    sources rotate every step instead of marching through one feed at
    a time (the correlated-batch failure mode of source-ordered data).

    Scale: the position is a pure function of (within-source rank,
    source index) — one per-source window on the shared source
    shuffle, a 20-row broadcast of indices, and no shuffle at read
    time. The Spark side materializes per-row positions and aggregates
    min/max to PROVE the closed form the oracle states directly."""
    docs = load(spark, sf_dir, "documents")
    idx = (
        docs.select("source")
        .distinct()
        .select(
            "source",
            # global-window-ok: distinct-source grain: tens of rows
            (F.dense_rank().over(W.orderBy("source")) - 1).alias("source_index"),
        )
    )
    ns = idx.agg(F.count(F.lit(1)).alias("n_sources"))
    w = W.partitionBy("source").orderBy(
        F.md5(F.col("doc_id").cast("string")), F.col("doc_id")
    )
    pos = (
        docs.select("source", "doc_id")
        .withColumn("rk", F.row_number().over(w) - 1)
        .join(F.broadcast(idx), "source")
        .crossJoin(F.broadcast(ns))
        .select(
            "source",
            "source_index",
            (F.col("rk") * F.col("n_sources") + F.col("source_index")).alias("pos"),
        )
    )
    return (
        pos.groupBy("source", "source_index")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.min("pos").cast("bigint").alias("first_pos"),
            F.max("pos").cast("bigint").alias("last_pos"),
        )
        .select(
            "source",
            F.col("source_index").cast("int").alias("source_index"),
            "n_docs",
            "first_pos",
            "last_pos",
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------------
# q271 — source distributional distance (unigram KL)
# ---------------------------------------------------------------------------


@query(
    "q271_source_kl_divergence",
    oracle="""
    WITH tok AS (
      SELECT source, tok FROM
        (SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents)
    ),
    st AS (SELECT source, tok, COUNT(*) AS c_st FROM tok GROUP BY source, tok),
    s AS (SELECT source, SUM(c_st) AS n_s FROM st GROUP BY source),
    t AS (SELECT tok, SUM(c_st) AS c_t FROM st GROUP BY tok),
    tot AS (SELECT SUM(c_st) AS big_n FROM st),
    term AS (
      SELECT st.source,
             st.c_st * CAST(LN(CAST(st.c_st * tot.big_n AS DOUBLE)
                               / CAST(s.n_s * t.c_t AS DOUBLE))
                            AS DECIMAL(18,6)) AS w
      FROM st JOIN s USING (source) JOIN t USING (tok), tot
    )
    SELECT term.source,
           CAST(MAX(s.n_s) AS BIGINT) AS n_tokens,
           ROUND(CAST(SUM(term.w) AS DOUBLE) / MAX(s.n_s), 6) AS kl_nats
    FROM term JOIN s USING (source)
    GROUP BY term.source ORDER BY term.source
    """,
    tags=("llm", "text", "kl", "valuation"),
)
def q271_source_kl_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributional source valuation: KL(source unigram || corpus
    unigram) in nats — the one-number answer to "which feeds are
    distributionally far from the mixture" that ranks sources for
    curation attention (q146 surfaces WHICH terms are distinctive;
    this prices HOW FAR the whole distribution sits). Computed as
    (1/n_s) * sum_t c_st * ln(c_st*N / (n_s*c_t)) with each LN
    quantized to DECIMAL(18,6) before the integer-weighted decimal
    sum — the q128/q244 doctrine that absorbs libm-vs-DuckDB last-ulp
    drift while keeping the sum order-independent. The LN argument is
    one double division of exact int64 products (< 2^53 far past
    these scales).

    Scale: three map-side-combined aggregates ((source,tok), source,
    tok) off one tokenize pass; the vocab-sized c_t table broadcasts
    back; output is one row per source."""
    docs = load(spark, sf_dir, "documents")
    tok = docs.select("source", F.explode(tokens(F.col("text"))).alias("tok"))
    st = tok.groupBy("source", "tok").agg(F.count(F.lit(1)).alias("c_st")).persist()
    s = st.groupBy("source").agg(F.sum("c_st").alias("n_s"))
    t = st.groupBy("tok").agg(F.sum("c_st").alias("c_t"))
    tot = st.agg(F.sum("c_st").alias("big_n"))
    term = (
        st.join(F.broadcast(s), "source")
        .join(F.broadcast(t), "tok")
        .crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_s",
            (
                F.col("c_st")
                * F.log(
                    (F.col("c_st") * F.col("big_n")).cast("double")
                    / (F.col("n_s") * F.col("c_t")).cast("double")
                ).cast("decimal(18,6)")
            ).alias("w"),
        )
    )
    out = (
        term.groupBy("source")
        .agg(
            F.max("n_s").cast("bigint").alias("n_tokens"),
            F.round(F.sum("w").cast("double") / F.max("n_s"), 6).alias("kl_nats"),
        )
        .orderBy("source")
    )

    return out


# ---------------------------------------------------------------------------
# q272 — dedup keep-policy token economics
# ---------------------------------------------------------------------------


@query(
    "q272_dedup_keep_policy_impact",
    oracle="""
    WITH d AS (
      SELECT doc_id, MD5(text) AS k,
             LEN(STRING_SPLIT(text, ' ')) AS n_tok
      FROM documents
    ),
    g AS (
      SELECT k,
             MIN_BY(n_tok, doc_id) AS first_tok,
             MAX(n_tok) AS longest_tok,
             MIN(n_tok) AS shortest_tok
      FROM d GROUP BY k
    )
    SELECT policy,
           CAST(n_groups AS BIGINT) AS n_kept,
           CAST(tokens_kept AS BIGINT) AS tokens_kept
    FROM (
      SELECT 'keep_first' AS policy, COUNT(*) AS n_groups,
             SUM(first_tok) AS tokens_kept FROM g
      UNION ALL
      SELECT 'keep_longest', COUNT(*), SUM(longest_tok) FROM g
      UNION ALL
      SELECT 'keep_shortest', COUNT(*), SUM(shortest_tok) FROM g
    ) ORDER BY policy
    """,
    tags=("llm", "dedup", "policy", "economics"),
)
def q272_dedup_keep_policy_impact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-policy economics for exact dedup: per policy (keep-first
    by doc_id — q60's choice; keep-longest; keep-shortest), the kept
    token mass over the same duplicate groups. The group COUNT is
    policy-invariant; the TOKEN mass is not — on excerpt-style dups
    keep-longest retains measurably more training signal for the same
    dedup rate, and this table is the number that justifies (or
    kills) changing q60's policy. min_by on the unique doc_id (q247
    doctrine) keeps the first-policy deterministic.

    Scale: one hash-groupBy on md5(text) (32-byte keys shuffle, text
    never does — the q60 economics) computing all three policies in
    the same pass; the three per-policy sums come from ONE global
    aggregate over the group table, unpivoted with stack — the text
    scan, tokenization, and group shuffle run exactly once (the
    earlier union-of-three-aggregates form re-ran that lineage per
    policy); the output is three rows."""
    docs = load(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        F.md5("text").alias("k"),
        F.size(tokens(F.col("text"))).alias("n_tok"),
    )
    g = d.groupBy("k").agg(
        F.min_by("n_tok", "doc_id").alias("first_tok"),
        F.max("n_tok").alias("longest_tok"),
        F.min("n_tok").alias("shortest_tok"),
    )
    t = g.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups"),
        F.sum("first_tok").cast("bigint").alias("first_sum"),
        F.sum("longest_tok").cast("bigint").alias("longest_sum"),
        F.sum("shortest_tok").cast("bigint").alias("shortest_sum"),
    )
    return t.select(
        F.expr(
            "stack(3,"
            " 'keep_first',    n_groups, first_sum,"
            " 'keep_longest',  n_groups, longest_sum,"
            " 'keep_shortest', n_groups, shortest_sum"
            ") AS (policy, n_kept, tokens_kept)"
        )
    ).orderBy("policy")
