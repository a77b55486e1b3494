"""LLM-ops wave 4: pipeline *auditing* operators — the checks a 100 TB
training-data platform runs continuously against itself.

- table checksum reconciliation (replica drift detection without
  moving data);
- ANN recall audit (LSH candidate quality vs the exact answer);
- kNN label agreement (embedding-space sanity of a labeled corpus);
- language-ID confusion matrix (claimed vs predicted metadata drift);
- distinctive-term report (per-source vocabulary fingerprint).

Reference parity: the reference repo's validation surface is the
arity/schema check before insert (dags/Final_app.py:52-56) and the
success/alert notification; these entries generalize that "validate
the data plane, then alert" posture to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..operators.scd import merge_upsert, scd2_apply
from ..operators.similarity import brute_force_topk_cosine, bucket_keys
from ..operators.text import STOPWORDS, language_id, tokens
from ..sources.tables import load
from .llm_ops import _sql_cosine, _sql_srp_bucket
from .registry import query

# ---------------------------------------------------------------------------
# q142 — table checksum reconciliation
# ---------------------------------------------------------------------------

_CHECKSUM_COLS_SQL = (
    "CONCAT_WS('|', CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR), "
    "CAST({qty} AS VARCHAR), STRFTIME(l_shipdate, '%Y-%m-%d'))"
)


@query(
    "q142_table_checksum_reconciliation",
    oracle=f"""
    WITH mk AS (SELECT MIN(l_orderkey) AS mk FROM lineitem),
    f AS (
      SELECT l_orderkey % 64 AS bucket,
             CAST('0x' || SUBSTR(MD5(
               {_CHECKSUM_COLS_SQL.format(qty="CAST(l_quantity AS BIGINT)")}
             ), 1, 15) AS BIGINT) AS fp_p,
             CAST('0x' || SUBSTR(MD5(
               {_CHECKSUM_COLS_SQL.format(
                 qty="CAST(l_quantity AS BIGINT)"
                 " + CASE WHEN l_orderkey = mk.mk AND l_linenumber = 1"
                 " THEN 1 ELSE 0 END")}
             ), 1, 15) AS BIGINT) AS fp_r
      FROM lineitem, mk
    )
    SELECT bucket,
           BIT_XOR(fp_p) AS checksum_primary,
           BIT_XOR(fp_r) AS checksum_replica,
           CASE WHEN BIT_XOR(fp_p) = BIT_XOR(fp_r) THEN 1 ELSE 0 END AS is_match
    FROM f GROUP BY bucket ORDER BY bucket
    """,
    tags=("llm", "audit", "checksum", "reconciliation"),
)
def q142_table_checksum_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent bucketed table checksum — how two 100 TB
    replicas are reconciled without moving either: each row folds to a
    60-bit md5 fingerprint of its canonical string form, fingerprints
    XOR-combine per key bucket (XOR is commutative/associative, so the
    checksum is partitioning- and order-invariant and never overflows),
    and only the 64 (bucket, checksum) pairs cross the wire. A drifted
    replica — simulated here by perturbing one deterministic row's
    quantity — pins the divergence to exactly one bucket, which is the
    recursion step of a Merkle-style diff at scale.

    Plan shape: map-side partial BIT_XOR, one shuffle of 64-row
    partials, no joins on the data path (the min-orderkey scalar is a
    broadcast of one row)."""
    li = load(spark, sf_dir, "lineitem")
    mk = li.agg(F.min("l_orderkey").alias("_mk"))
    row = li.crossJoin(F.broadcast(mk))

    perturbed = F.col("l_quantity").cast("bigint") + F.when(
        (F.col("l_orderkey") == F.col("_mk")) & (F.col("l_linenumber") == 1), 1
    ).otherwise(0)

    def fingerprint(qty) -> F.Column:
        canon = F.concat_ws(
            "|",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
            qty.cast("string"),
            F.date_format("l_shipdate", "yyyy-MM-dd"),
        )
        return F.conv(F.substring(F.md5(canon), 1, 15), 16, 10).cast("bigint")

    return (
        row.select(
            (F.col("l_orderkey") % 64).alias("bucket"),
            fingerprint(F.col("l_quantity").cast("bigint")).alias("fp_p"),
            fingerprint(perturbed).alias("fp_r"),
        )
        .groupBy("bucket")
        .agg(
            F.bit_xor("fp_p").alias("checksum_primary"),
            F.bit_xor("fp_r").alias("checksum_replica"),
        )
        .select(
            "bucket",
            "checksum_primary",
            "checksum_replica",
            (F.col("checksum_primary") == F.col("checksum_replica"))
            .cast("int")
            .alias("is_match"),
        )
        .orderBy("bucket")
    )


# ---------------------------------------------------------------------------
# q143 — ANN recall audit
# ---------------------------------------------------------------------------


@query(
    "q143_ann_recall_audit",
    oracle=f"""
    WITH q AS (SELECT vec_id, embedding FROM embeddings WHERE vec_id < 20),
    exact AS (
      SELECT query_id, neighbor_id FROM (
        SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
               ROW_NUMBER() OVER (
                 PARTITION BY q.vec_id
                 ORDER BY {_sql_cosine('q.embedding', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM q JOIN embeddings e ON e.vec_id <> q.vec_id
      ) WHERE rnk <= 5
    ),
    qb AS (
      SELECT vec_id AS query_id, {_sql_srp_bucket(8)} AS bucket
      FROM embeddings WHERE vec_id < 20
    ),
    cb AS (SELECT vec_id AS neighbor_id, {_sql_srp_bucket(8)} AS bucket FROM embeddings),
    cand AS (
      SELECT DISTINCT query_id, neighbor_id
      FROM qb JOIN cb USING (bucket) WHERE query_id <> neighbor_id
    ),
    j AS (
      SELECT exact.query_id,
             CASE WHEN cand.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
      FROM exact LEFT JOIN cand
        ON cand.query_id = exact.query_id AND cand.neighbor_id = exact.neighbor_id
    )
    SELECT query_id,
           CAST(COUNT(*) AS BIGINT) AS n_exact,
           CAST(SUM(hit) AS BIGINT) AS n_hit,
           ROUND(CAST(SUM(hit) AS BIGINT) / COUNT(*), 6) AS recall
    FROM j GROUP BY query_id ORDER BY query_id
    """,
    tags=("llm", "similarity", "ann", "audit"),
)
def q143_ann_recall_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@5 of the single-probe SRP-LSH candidate set against the
    exact brute-force top-5 — the audit loop every production ANN index
    runs on a sampled query set per build. Per query: how many of the
    5 true neighbors landed in the query's LSH bucket. At 100 TB the
    exact side runs only over the (tiny, broadcast) audit sample while
    the candidate side reuses the index's own bucket join, so the audit
    costs a vanishing fraction of the index build it certifies.

    The oracle replays hyperplanes, buckets, the exact ranking, and the
    recall arithmetic from the same md5-derived constants."""
    emb = load(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk_cosine(q, emb, k=5).select("query_id", "neighbor_id")
    # One bucket_keys pass serves both join sides: the query side is a
    # filter of the corpus side (the index's own keys ARE the audit's
    # keys). Single-probe gives each vector exactly one bucket, so the
    # bucket join cannot duplicate a (query, neighbor) pair — no
    # distinct needed (multi-probe would need one; see lsh_topk_cosine).
    keyed = bucket_keys(emb, n_planes=8)
    qb = keyed.filter(F.col("vec_id") < 20).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    cb = keyed.select(F.col("vec_id").alias("neighbor_id"), "bucket")
    cand = (
        qb.join(cb, "bucket")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .withColumn("_hit", F.lit(1))
    )
    return (
        exact.join(cand, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_exact"),
            F.sum(F.coalesce(F.col("_hit"), F.lit(0))).cast("bigint").alias("n_hit"),
        )
        .select(
            "query_id",
            "n_exact",
            "n_hit",
            F.round(F.col("n_hit") / F.col("n_exact"), 6).alias("recall"),
        )
        .orderBy("query_id")
    )


# ---------------------------------------------------------------------------
# q144 — kNN label agreement
# ---------------------------------------------------------------------------


@query(
    "q144_knn_label_agreement",
    oracle=f"""
    WITH g AS (
      SELECT vec_id, embedding, label FROM embeddings
      WHERE CAST('0x' || SUBSTR(MD5(CAST(vec_id AS VARCHAR) || ':knn'), 1, 2)
                 AS INTEGER) < 64
    ),
    nn AS (
      SELECT q_label, n_label FROM (
        SELECT g.label AS q_label, e.label AS n_label,
               ROW_NUMBER() OVER (
                 PARTITION BY g.vec_id
                 ORDER BY {_sql_cosine('g.embedding', 'e.embedding')} DESC, e.vec_id
               ) AS rnk
        FROM g JOIN embeddings e ON e.vec_id <> g.vec_id
      ) WHERE rnk = 1
    )
    SELECT q_label AS label,
           CAST(COUNT(*) AS BIGINT) AS n_queries,
           CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT)
             AS n_agree,
           ROUND(CAST(SUM(CASE WHEN q_label = n_label THEN 1 ELSE 0 END) AS BIGINT)
                 / COUNT(*), 6) AS agreement_rate
    FROM nn GROUP BY 1 ORDER BY 1
    """,
    tags=("llm", "similarity", "audit", "labels"),
)
def q144_knn_label_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """1-NN label agreement on a deterministic ~25% md5 sample: for each
    sampled vector, does its exact nearest neighbor (cosine, full
    corpus) carry the same label? Per-label agreement rate is the
    standard cheap probe for embedding quality / label noise before a
    corpus is used for retrieval-augmented filtering. The sample gate
    is a pure function of the key (q105's split doctrine), so the audit
    population is stable across runs and engines; the exact scan only
    pays |sample| x corpus, with the sample broadcast."""
    emb = load(spark, sf_dir, "embeddings")
    gate = F.conv(
        F.substring(F.md5(F.concat(F.col("vec_id").cast("string"), F.lit(":knn"))), 1, 2),
        16,
        10,
    ).cast("int")
    sample = emb.filter(gate < 64)
    nn = brute_force_topk_cosine(sample, emb, k=1).select("query_id", "neighbor_id")
    labels = emb.select("vec_id", "label")
    agree = (
        F.col("q_label") == F.col("n_label")
    ).cast("int")
    return (
        nn.join(
            F.broadcast(labels.select(F.col("vec_id").alias("query_id"), F.col("label").alias("q_label"))),
            "query_id",
        )
        .join(
            labels.select(F.col("vec_id").alias("neighbor_id"), F.col("label").alias("n_label")),
            "neighbor_id",
        )
        .select(F.col("q_label").alias("label"), agree.alias("agree"))
        .groupBy("label")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_queries"),
            F.sum("agree").cast("bigint").alias("n_agree"),
        )
        .select(
            "label",
            "n_queries",
            "n_agree",
            F.round(F.col("n_agree") / F.col("n_queries"), 6).alias("agreement_rate"),
        )
        .orderBy("label")
    )


# ---------------------------------------------------------------------------
# q145 — language-ID confusion matrix
# ---------------------------------------------------------------------------


def _sql_stopword_score(lang: str) -> str:
    words = ", ".join(f"'{w}'" for w in STOPWORDS[lang])
    return (
        f"(LEN(LIST_FILTER(toks, t -> t IN ({words})))"
        f" / LEN(toks))"
    )


def _sql_langid_pred() -> str:
    """DuckDB twin of operators.text.language_id's argmax: sorted-order
    CASE so the lexicographically first language wins score ties, 'und'
    when no profile matched at all."""
    langs = sorted(STOPWORDS)
    best = "GREATEST(" + ", ".join(f"s_{l}" for l in langs) + ")"
    branches = "\n".join(
        f"WHEN {best} > 0 AND s_{l} = {best} THEN '{l}'" for l in langs
    )
    return f"CASE {branches} ELSE 'und' END"


@query(
    "q145_langid_confusion",
    oracle=f"""
    WITH t AS (SELECT lang, STRING_SPLIT(text, ' ') AS toks FROM documents),
    s AS (
      SELECT lang,
             {", ".join(f"{_sql_stopword_score(l)} AS s_{l}" for l in sorted(STOPWORDS))}
      FROM t
    )
    SELECT lang AS claimed_lang,
           {_sql_langid_pred()} AS predicted_lang,
           CAST(COUNT(*) AS BIGINT) AS n_docs
    FROM s GROUP BY 1, 2 ORDER BY 1, 2
    """,
    tags=("llm", "text", "langid", "audit"),
)
def q145_langid_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-metadata drift audit: confusion matrix of the corpus's
    CLAIMED language column against the heuristic stopword classifier
    (operators/text.py::language_id). At 100 TB this is the standing
    data-quality monitor for upstream metadata rot — pure map work plus
    one low-cardinality (|langs|^2) aggregation. The oracle replays
    every per-language score, the tie-broken argmax, and the matrix
    counts."""
    d = load(spark, sf_dir, "documents")
    return (
        language_id(d)
        .groupBy(F.col("claimed_lang"), F.col("predicted_lang"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_docs"))
        .orderBy("claimed_lang", "predicted_lang")
    )


# ---------------------------------------------------------------------------
# q146 — per-source distinctive terms
# ---------------------------------------------------------------------------


@query(
    "q146_distinctive_terms",
    oracle="""
    WITH tok AS (
      SELECT source, UNNEST(STRING_SPLIT(text, ' ')) AS token FROM documents
    ),
    tf AS (
      SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY 1, 2
    ),
    idf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY 1),
    r AS (
      SELECT tf.source, tf.token, tf.tf, idf.df,
             ROW_NUMBER() OVER (
               PARTITION BY tf.source
               ORDER BY idf.df ASC, tf.tf DESC, tf.token
             ) AS rnk
      FROM tf JOIN idf USING (token)
    )
    SELECT source, token, tf, df, rnk FROM r WHERE rnk <= 3
    ORDER BY source, rnk
    """,
    tags=("llm", "text", "tfidf", "report"),
)
def q146_distinctive_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source distinctive vocabulary: the 3 tokens most specific to
    each source, ranked by (document-source frequency ASC, in-source
    term frequency DESC, token) — a tf-idf report expressed in pure
    integer ordering so the ranking is bit-free and engine-exact (no
    log() in the sort key). Used to fingerprint what each crawl source
    uniquely contributes before mixture weighting (q101/q125).

    Plan: explode -> two hash aggregations (token x source, then
    token) -> broadcast-sized df join -> per-source top-k window. Text
    itself never shuffles; only (source, token) pairs do."""
    d = load(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens(F.col("text"))).alias("token"))
    tf = tok.groupBy("source", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("tf")
    )
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).cast("bigint").alias("df"))
    w = W.partitionBy("source").orderBy(
        F.asc("df"), F.desc("tf"), F.asc("token")
    )
    return (
        tf.join(df_, "token")
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", "token", "tf", "df", "rnk")
        .orderBy("source", "rnk")
    )


# ---------------------------------------------------------------------------
# q147 — SCD2 version history (operators/scd.py joins the attested surface)
# ---------------------------------------------------------------------------


@query(
    "q147_scd2_version_history",
    oracle="""
    WITH ev AS (
      SELECT user_id, CAST(ts AS DATE) AS snap_date,
             CAST(JSON_EXTRACT_STRING(props, '$.k') AS INTEGER) AS k,
             ROW_NUMBER() OVER (PARTITION BY user_id, CAST(ts AS DATE)
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ),
    snap AS (SELECT user_id, snap_date, k // 25 AS tier FROM ev WHERE rn = 1),
    ver AS (
      SELECT user_id, snap_date, tier,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY snap_date) AS seq,
             LAG(tier) OVER (PARTITION BY user_id ORDER BY snap_date) AS prev_tier
      FROM snap
    ),
    keep AS (
      SELECT user_id,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY snap_date DESC)
               AS rdesc
      FROM ver WHERE seq = 1 OR tier IS DISTINCT FROM prev_tier
    ),
    cnt AS (
      SELECT user_id, COUNT(*) AS n_versions,
             SUM(CASE WHEN rdesc = 1 THEN 1 ELSE 0 END) AS n_cur
      FROM keep GROUP BY 1
    )
    SELECT CAST(n_versions AS BIGINT) AS n_versions,
           CAST(COUNT(*) AS BIGINT) AS n_users,
           CAST(SUM(n_cur) AS BIGINT) AS n_current
    FROM cnt GROUP BY 1 ORDER BY 1
    """,
    tags=("scd", "dimension", "history"),
)
def q147_scd2_version_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Type-2 SCD built by operators/scd.py::scd2_apply from the event
    stream: each user's last event per day is a dimension snapshot
    (attribute = activity tier, an integer bucket of the JSON `k`
    prop), and scd2_apply collapses unchanged snapshots into validity
    intervals. The summary histograms users by version count and
    cross-checks the interval bookkeeping (exactly one open version —
    effective_to IS NULL — per user). Reference parity: the daily
    idempotent load (dags/Final_app.py:58-66) is the degenerate
    one-version form of this history.

    Scale: snapshots and version collapse are one shuffle each on
    user_id; the history append is the dimension-scale rewrite
    documented in operators/scd.py."""
    e = load(spark, sf_dir, "events")
    w_last = W.partitionBy("user_id", "snap_date").orderBy(
        F.desc("ts"), F.desc("event_id")
    )
    snap = (
        e.select(
            "user_id",
            F.to_date("ts").alias("snap_date"),
            F.get_json_object("props", "$.k").cast("int").alias("k"),
            "ts",
            "event_id",
        )
        .withColumn("rn", F.row_number().over(w_last))
        .filter(F.col("rn") == 1)
        .select("user_id", "snap_date", F.expr("k div 25").alias("tier"))
    )
    hist = scd2_apply(
        None, snap, key="user_id", effective_ts="snap_date", tracked_cols=("tier",)
    )
    per_user = hist.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("n_versions"),
        F.sum(F.col("is_current").cast("int")).alias("n_cur"),
    )
    return (
        per_user.groupBy("n_versions")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n_cur").cast("bigint").alias("n_current"),
        )
        .select(F.col("n_versions").cast("bigint").alias("n_versions"), "n_users", "n_current")
        .orderBy("n_versions")
    )


# ---------------------------------------------------------------------------
# q148 — MERGE upsert audit (operators/scd.py::merge_upsert)
# ---------------------------------------------------------------------------


@query(
    "q148_merge_upsert_audit",
    oracle="""
    WITH u AS (
      SELECT DISTINCT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
    ),
    m AS (
      SELECT c.c_nationkey,
             CASE WHEN u.c_custkey IS NOT NULL
                  THEN c.c_acctbal + 100.0 ELSE c.c_acctbal END AS bal,
             CASE WHEN u.c_custkey IS NOT NULL THEN 1 ELSE 0 END AS upd
      FROM customer c LEFT JOIN u USING (c_custkey)
    )
    SELECT c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(upd) AS BIGINT) AS n_updated,
           CAST(ROUND(SUM(CAST(bal AS DECIMAL(18,6))), 2) AS DOUBLE) AS total_acctbal
    FROM m GROUP BY 1 ORDER BY 1
    """,
    tags=("scd", "merge", "upsert"),
)
def q148_merge_upsert_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE INTO emulation (operators/scd.py::merge_upsert — anti-join
    + union, the Delta-free upsert): apply a deterministic batch of
    updates (+100.00 balance for every customer with a finished order)
    to the customer dimension, then summarize the merged state per
    nation with updated-row accounting. The oracle expresses the same
    merge as a LEFT JOIN + CASE, so update-wins/insert-survives
    semantics are value-checked, with the money sum on the decimal-
    exact path.

    Scale: one shuffle on the business key for the anti-join; the
    update batch is fact-derived but collapses to distinct keys before
    joining."""
    cust = load(spark, sf_dir, "customer")
    upd_keys = (
        load(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("c_custkey"))
        .distinct()
    )
    updates = cust.join(upd_keys, "c_custkey", "left_semi").withColumn(
        "c_acctbal", F.col("c_acctbal") + F.lit(100.0)
    )
    merged = merge_upsert(cust, updates, "c_custkey")
    return (
        merged.join(upd_keys.withColumn("_u", F.lit(1)), "c_custkey", "left")
        .groupBy("c_nationkey")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.sum(F.coalesce(F.col("_u"), F.lit(0))).cast("bigint").alias("n_updated"),
            F.round(F.sum(F.col("c_acctbal").cast("decimal(18,6)")), 2)
            .cast("double")
            .alias("total_acctbal"),
        )
        .orderBy("c_nationkey")
    )


# ---------------------------------------------------------------------------
# q149 — referential-integrity audit
# ---------------------------------------------------------------------------

_FK_EDGES = (
    # (relationship label, child table, fk col, parent table, pk col)
    ("customer.c_nationkey->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
    ("lineitem.l_orderkey->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
    ("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey"),
    ("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
    ("nation.n_regionkey->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"),
    ("supplier.s_nationkey->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
)


def _sql_fk_edge(label: str, child: str, fk: str, parent: str, pk: str) -> str:
    return f"""
    SELECT '{label}' AS relationship,
           CAST(SUM(c) AS BIGINT) AS n_rows,
           CAST(COUNT(*) AS BIGINT) AS n_keys,
           CAST(SUM(CASE WHEN m IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_orphan_keys,
           CAST(SUM(CASE WHEN m IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_orphan_rows
    FROM (SELECT {fk} AS k, COUNT(*) AS c FROM {child} GROUP BY 1) t
    LEFT JOIN (SELECT DISTINCT {pk} AS k2, 1 AS m FROM {parent}) p ON t.k = p.k2
    """


@query(
    "q149_referential_integrity_audit",
    oracle="\nUNION ALL\n".join(_sql_fk_edge(*e) for e in _FK_EDGES)
    + "\nORDER BY relationship",
    tags=("audit", "quality", "join", "anti"),
)
def q149_referential_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Referential-integrity sweep over every foreign-key edge of the
    star schema: per edge, total child rows, distinct FK values, and
    orphan keys/rows (FK values with no parent). The generalized form
    of the reference's pre-insert validation (dags/Final_app.py:52-56)
    — run as a standing audit before a corpus/warehouse promotion.

    Scale: each edge aggregates the child to DISTINCT keys map-side
    FIRST (the shuffle carries (key, count), never child rows), then
    left-joins the parent's key set; parent dimension sides broadcast.
    One row out per edge."""
    frames = []
    for label, child, fk, parent, pk in _FK_EDGES:
        per_key = (
            load(spark, sf_dir, child)
            .groupBy(F.col(fk).alias("k"))
            .agg(F.count(F.lit(1)).alias("c"))
        )
        flagged = per_key.join(
            load(spark, sf_dir, parent)
            .select(F.col(pk).alias("k"))
            .distinct()
            .withColumn("m", F.lit(1)),
            "k",
            "left",
        )
        frames.append(
            flagged.agg(
                F.lit(label).alias("relationship"),
                F.sum("c").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.sum(F.when(F.col("m").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("n_orphan_keys"),
                F.sum(F.when(F.col("m").isNull(), F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("n_orphan_rows"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("relationship")


# ---------------------------------------------------------------------------
# q150 — dataset profile
# ---------------------------------------------------------------------------

_PROFILE_KEYS = (
    ("customer", ("c_custkey",)),
    ("documents", ("doc_id",)),
    ("embeddings", ("vec_id",)),
    ("events", ("event_id",)),
    ("lineitem", ("l_orderkey", "l_linenumber")),
    ("nation", ("n_nationkey",)),
    ("orders", ("o_orderkey",)),
    ("part", ("p_partkey",)),
    ("region", ("r_regionkey",)),
    ("supplier", ("s_suppkey",)),
)


def _sql_profile(table: str, keys: tuple[str, ...]) -> str:
    key_list = ", ".join(keys)
    return f"""
    SELECT '{table}' AS table_name,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {table}) AS n_rows,
           (SELECT CAST(COUNT(*) AS BIGINT)
            FROM (SELECT DISTINCT {key_list} FROM {table})) AS n_distinct_keys,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM {table})
             - (SELECT CAST(COUNT(*) AS BIGINT)
                FROM (SELECT DISTINCT {key_list} FROM {table})) AS n_dup_rows
    """


@query(
    "q150_dataset_profile",
    oracle="\nUNION ALL\n".join(_sql_profile(t, k) for t, k in _PROFILE_KEYS)
    + "\nORDER BY table_name",
    tags=("audit", "profile", "quality"),
)
def q150_dataset_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass dataset profile across every fixture table: row count,
    distinct declared-key count, and duplicate-key row count — the
    first report any ingest job emits before a snapshot is promoted
    (primary-key uniqueness is the contract the reference's idempotent
    daily load enforces per-day; this audits it corpus-wide).

    Scale: per table one map-side-combined distinct aggregation on the
    key; nothing but (table, 3 counters) leaves the executors."""
    frames = []
    for table, keys in _PROFILE_KEYS:
        t = load(spark, sf_dir, table)
        frames.append(
            t.agg(
                F.lit(table).alias("table_name"),
                F.count(F.lit(1)).cast("bigint").alias("n_rows"),
                F.count_distinct(*[F.col(k) for k in keys])
                .cast("bigint")
                .alias("n_distinct_keys"),
                (F.count(F.lit(1)) - F.count_distinct(*[F.col(k) for k in keys]))
                .cast("bigint")
                .alias("n_dup_rows"),
            )
        )
    out = frames[0]
    for f in frames[1:]:
        out = out.unionByName(f)
    return out.orderBy("table_name")


# ---------------------------------------------------------------------------
# q151 — embedding label-separation audit
# ---------------------------------------------------------------------------


@query(
    "q151_label_centroid_separation",
    oracle=f"""
    WITH comp AS (
      SELECT label, i AS pos,
             CAST(SUM(CAST(CAST(embedding[i] AS DOUBLE) AS DECIMAL(18,6)))
                  AS DOUBLE) AS s
      FROM embeddings, (SELECT UNNEST(RANGE(1, 65)) AS i) r
      GROUP BY 1, 2
    ),
    vec AS (SELECT label, LIST(s ORDER BY pos) AS v FROM comp GROUP BY 1),
    pairs AS (
      SELECT a.label AS label_a, b.label AS label_b,
             {_sql_cosine('a.v', 'b.v')} AS cos_raw
      FROM vec a JOIN vec b ON a.label < b.label
    )
    SELECT label_a, label_b, ROUND(cos_raw, 6) AS centroid_cosine
    FROM pairs ORDER BY label_a, label_b
    """,
    tags=("llm", "similarity", "audit", "labels"),
)
def q151_label_centroid_separation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-separation audit: cosine between every pair of per-label
    centroid directions. Low separation predicts poor retrieval /
    classification before any model is trained. Centroids are computed
    as decimal-exact component SUMS (cosine is scale-invariant, so the
    un-divided sum ranks identically to the mean and avoids a
    cross-engine division) via the posexplode + (label, position)
    groupBy pattern of operators/similarity.py::_lloyd_step — the
    expression tree stays O(1) in dim, and |labels| x dim tiny partials
    are all that shuffle.

    The oracle replays the component sums, the position-ordered
    reassembly, and the left-associated dot-product fold
    bit-for-bit."""
    from ..operators.similarity import as_double, cosine

    emb = load(spark, sf_dir, "embeddings")
    comp = emb.select(
        "label", F.posexplode(as_double(F.col("embedding"))).alias("_pos", "_val")
    )
    sums = comp.groupBy("label", "_pos").agg(
        F.sum(F.col("_val").cast("decimal(18,6)")).cast("double").alias("_s")
    )
    vec = sums.groupBy("label").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_s"))), lambda s: s["_s"]
        ).alias("v")
    )
    a = vec.select(F.col("label").alias("label_a"), F.col("v").alias("va"))
    b = vec.select(F.col("label").alias("label_b"), F.col("v").alias("vb"))
    return (
        a.join(b, F.col("label_a") < F.col("label_b"))
        .select(
            "label_a",
            "label_b",
            F.round(cosine(F.col("va"), F.col("vb")), 6).alias("centroid_cosine"),
        )
        .orderBy("label_a", "label_b")
    )


# ---------------------------------------------------------------------------
# q152 — numeric correlation matrix
# ---------------------------------------------------------------------------

_CORR_COLS = ("l_quantity", "l_extendedprice", "l_discount", "l_tax")
_CORR_PAIRS = tuple(
    (_CORR_COLS[i], _CORR_COLS[j])
    for i in range(len(_CORR_COLS))
    for j in range(i + 1, len(_CORR_COLS))
)


def _sql_corr_pair(x: str, y: str) -> str:
    """Pearson r from the shared power-sum CTE — the q109 doctrine:
    decimal-exact sums cast to double once, then an identical IEEE
    expression chain on both engines."""
    return (
        f"SELECT '{x}~{y}' AS pair,\n"
        f"       CAST(n AS BIGINT) AS n,\n"
        f"       ROUND((n * sxy_{x}_{y} - s_{x} * s_{y})\n"
        f"             / (SQRT(n * ss_{x} - s_{x} * s_{x})\n"
        f"                * SQRT(n * ss_{y} - s_{y} * s_{y})), 6) AS pearson_r\n"
        f"FROM m"
    )


@query(
    "q152_numeric_correlation_matrix",
    oracle=f"""
    WITH m AS (
      SELECT COUNT(*) AS n,
             {", ".join(
                 f"CAST(SUM(CAST({c} AS DECIMAL(18,6))) AS DOUBLE) AS s_{c}, "
                 f"CAST(SUM(CAST({c} * {c} AS DECIMAL(24,4))) AS DOUBLE) AS ss_{c}"
                 for c in _CORR_COLS
             )},
             {", ".join(
                 f"CAST(SUM(CAST({x} * {y} AS DECIMAL(24,4))) AS DOUBLE)"
                 f" AS sxy_{x}_{y}"
                 for x, y in _CORR_PAIRS
             )}
      FROM lineitem
    )
    {" UNION ALL ".join(_sql_corr_pair(x, y) for x, y in _CORR_PAIRS)}
    ORDER BY pair
    """,
    tags=("stats", "correlation", "profile"),
)
def q152_numeric_correlation_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of the lineitem numeric columns in
    ONE pass: a single map-side-combined aggregation produces every
    power sum (n, Σx, Σx², Σxy for all 6 pairs), and the 6 output rows
    are unpivoted from that one aggregate row — the feature-screening
    profile a training pipeline runs before deriving model inputs,
    with no second scan and nothing but one 15-number row crossing the
    driver boundary. Sums ride the decimal-exact path (q109 doctrine)
    so r is the same double on any partitioning or engine."""
    li = load(spark, sf_dir, "lineitem")
    aggs = [F.count(F.lit(1)).alias("n")]
    for c in _CORR_COLS:
        aggs.append(
            F.sum(F.col(c).cast("decimal(18,6)")).cast("double").alias(f"s_{c}")
        )
        aggs.append(
            F.sum((F.col(c) * F.col(c)).cast("decimal(24,4)"))
            .cast("double")
            .alias(f"ss_{c}")
        )
    for x, y in _CORR_PAIRS:
        aggs.append(
            F.sum((F.col(x) * F.col(y)).cast("decimal(24,4)"))
            .cast("double")
            .alias(f"sxy_{x}_{y}")
        )
    m = li.agg(*aggs)

    def r_expr(x: str, y: str):
        n = F.col("n")
        return (n * F.col(f"sxy_{x}_{y}") - F.col(f"s_{x}") * F.col(f"s_{y}")) / (
            F.sqrt(n * F.col(f"ss_{x}") - F.col(f"s_{x}") * F.col(f"s_{x}"))
            * F.sqrt(n * F.col(f"ss_{y}") - F.col(f"s_{y}") * F.col(f"s_{y}"))
        )

    # Unpivot the single aggregate row via explode — a union of per-pair
    # selects would re-run the whole aggregation once per pair.
    pairs = F.array(
        *[
            F.struct(
                F.lit(f"{x}~{y}").alias("pair"),
                F.round(r_expr(x, y), 6).alias("pearson_r"),
            )
            for x, y in _CORR_PAIRS
        ]
    )
    return (
        m.select(F.col("n").cast("bigint").alias("n"), F.explode(pairs).alias("p"))
        .select("p.pair", "n", "p.pearson_r")
        .orderBy("pair")
    )


# ---------------------------------------------------------------------------
# q153 — RFM customer segmentation
# ---------------------------------------------------------------------------


@query(
    "q153_rfm_segmentation",
    oracle="""
    WITH ref AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS ref_date FROM orders),
    rfm AS (
      SELECT o.o_custkey,
             CAST(DATE_DIFF('day', MAX(CAST(o.o_orderdate AS DATE)), ref.ref_date)
                  AS BIGINT) AS recency_days,
             CAST(COUNT(*) AS BIGINT) AS frequency,
             SUM(CAST(o.o_totalprice AS DECIMAL(18,6))) AS monetary
      FROM orders o, ref GROUP BY o.o_custkey, ref.ref_date
    ),
    scored AS (
      SELECT CONCAT(
               CASE WHEN recency_days <= 90 THEN '3' WHEN recency_days <= 365
                    THEN '2' ELSE '1' END,
               CASE WHEN frequency >= 20 THEN '3' WHEN frequency >= 10
                    THEN '2' ELSE '1' END,
               CASE WHEN monetary >= 3000000 THEN '3' WHEN monetary >= 1000000
                    THEN '2' ELSE '1' END) AS segment,
             monetary
      FROM rfm
    )
    SELECT segment,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(ROUND(SUM(monetary), 2) AS DOUBLE) AS total_monetary
    FROM scored GROUP BY 1 ORDER BY 1
    """,
    tags=("warehouse", "segmentation", "agg"),
)
def q153_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM (recency / frequency / monetary) segmentation — the classic
    warehouse-to-ML feature rollup: per customer, days since last
    order relative to the corpus's own max date (deterministic, no
    wall clock), order count, and decimal-exact spend; fixed integer/
    decimal thresholds map each to a 1-3 score and segments aggregate.
    Everything is integer or decimal arithmetic — no float enters a
    comparison, so segment membership is engine-exact.

    Scale: one shuffle on o_custkey; the reference date is a broadcast
    one-row aggregate; segment rollup is low-cardinality (27 max)."""
    o = load(spark, sf_dir, "orders")
    ref = o.agg(F.max(F.to_date("o_orderdate")).alias("ref_date"))
    rfm = (
        o.crossJoin(F.broadcast(ref))
        .groupBy("o_custkey", "ref_date")
        .agg(
            F.max(F.to_date("o_orderdate")).alias("last_order"),
            F.count(F.lit(1)).cast("bigint").alias("frequency"),
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).alias("monetary"),
        )
        .select(
            F.datediff("ref_date", "last_order").cast("bigint").alias("recency_days"),
            "frequency",
            "monetary",
        )
    )
    seg = F.concat(
        F.when(F.col("recency_days") <= 90, "3")
        .when(F.col("recency_days") <= 365, "2")
        .otherwise("1"),
        F.when(F.col("frequency") >= 20, "3")
        .when(F.col("frequency") >= 10, "2")
        .otherwise("1"),
        F.when(F.col("monetary") >= 3000000, "3")
        .when(F.col("monetary") >= 1000000, "2")
        .otherwise("1"),
    )
    return (
        rfm.select(seg.alias("segment"), "monetary")
        .groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_customers"),
            F.round(F.sum("monetary"), 2).cast("double").alias("total_monetary"),
        )
        .orderBy("segment")
    )
