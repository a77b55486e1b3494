"""Unit tests for the LLM-data operators (dedup / similarity / text /
as-of) on small synthetic inputs with hand-checkable answers."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.operators.asof import asof_join
from airflow_scraping_etl_tutorial_spark.operators.dedup import (
    exact_dedup,
    minhash_near_duplicates,
    minhash_signatures,
    ngram_jaccard_pairs,
    simhash,
    simhash_near_duplicates,
    word_shingles,
)
from airflow_scraping_etl_tutorial_spark.operators.similarity import (
    brute_force_topk_cosine,
    lsh_bucket_candidates,
    lsh_topk_cosine,
)
from airflow_scraping_etl_tutorial_spark.operators.text import (
    bpe_ish_token_count,
    language_id,
    quality_score,
)

BASE = "the quick brown fox jumps over the lazy dog near the old river bank today"
NEAR = "the quick brown fox jumps over the lazy dog near the old river bank tonight"
FAR = "completely different words about spark sql engines and parquet columnar files"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        [
            Row(doc_id=1, text=BASE),
            Row(doc_id=2, text=BASE),  # exact duplicate of 1
            Row(doc_id=3, text=NEAR),  # near-duplicate of 1
            Row(doc_id=4, text=FAR),
        ]
    )


def test_exact_dedup_groups_identical_texts(spark, docs):
    out = {r.keep_doc_id: r.n_copies for r in exact_dedup(docs).collect()}
    assert out[1] == 2  # docs 1+2 collapse
    assert out[3] == 1 and out[4] == 1


def test_word_shingles_small_case(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="a b c d")])
    got = df.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s
    assert got == ["a b c", "b c d"]
    short = spark.createDataFrame([Row(doc_id=1, text="a b")])
    assert short.select(word_shingles(F.col("text"), 3).alias("s")).collect()[0].s == []


def test_minhash_identical_docs_share_signature(spark, docs):
    sig = {r.doc_id: tuple(r[i] for i in range(1, 9)) for r in minhash_signatures(docs).collect()}
    assert sig[1] == sig[2]
    assert sig[1] != sig[4]


def test_minhash_near_duplicates_finds_planted_pair(spark, docs):
    pairs = {
        (r.doc_id_a, r.doc_id_b): r.jaccard
        for r in minhash_near_duplicates(docs, jaccard_threshold=0.3).collect()
    }
    assert pairs[(1, 2)] == 1.0  # exact dup
    assert (1, 3) in pairs and pairs[(1, 3)] > 0.5  # near dup
    assert not any(4 in p for p in pairs)  # unrelated doc never pairs


def test_simhash_identical_equal_and_near_close(spark, docs):
    fps = {r.doc_id: r.simhash for r in simhash(docs).collect()}
    assert fps[1] == fps[2]
    ham13 = bin(fps[1] ^ fps[3]).count("1")
    ham14 = bin(fps[1] ^ fps[4]).count("1")
    assert ham13 < ham14


def test_simhash_near_duplicates_blocking(spark, docs):
    got = {
        (r.doc_id_a, r.doc_id_b): r.hamming
        for r in simhash_near_duplicates(docs, max_hamming=10).collect()
    }
    assert got[(1, 2)] == 0
    assert (1, 3) in got


def test_ngram_jaccard_exact_value(spark):
    # "a b c d e" vs "a b c d f": 3-shingles {abc,bcd,cde} vs {abc,bcd,cdf}
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="a b c d f")]
    )
    rows = ngram_jaccard_pairs(df).collect()
    assert len(rows) == 1
    assert rows[0].jaccard == 0.5  # 2 common / 4 union


def test_brute_force_topk_exact_neighbor(spark):
    vecs = [
        Row(vec_id=0, embedding=[1.0, 0.0, 0.0, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0, 0.0]),  # closest to 0
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0, 0.0]),
        Row(vec_id=3, embedding=[0.0, 0.0, 1.0, 0.0]),
    ]
    df = spark.createDataFrame(vecs)
    out = brute_force_topk_cosine(df.filter(F.col("vec_id") == 0), df, k=2).collect()
    assert [r.neighbor_id for r in out] == [1, 2]
    expected = 0.9 / math.sqrt(0.9**2 + 0.1**2)
    assert abs(out[0].cosine - expected) < 1e-6


def test_lsh_bucket_identical_vectors_collide(spark):
    vecs = [
        Row(vec_id=0, embedding=[float(i) for i in range(64)]),
        Row(vec_id=1, embedding=[float(i) for i in range(64)]),
        Row(vec_id=2, embedding=[float(63 - i) for i in range(64)]),
    ]
    df = spark.createDataFrame(vecs)
    buckets = {r.vec_id: r.bucket for r in lsh_bucket_candidates(df).collect()}
    assert buckets[0] == buckets[1]


def test_lsh_topk_recovers_identical_vector(spark):
    vecs = [
        Row(vec_id=i, embedding=[float((i * 64 + j) % 97) for j in range(64)])
        for i in range(20)
    ]
    vecs.append(Row(vec_id=99, embedding=vecs[0].embedding))
    df = spark.createDataFrame(vecs)
    out = lsh_topk_cosine(df.filter(F.col("vec_id") == 0), df, k=1, n_planes=4)
    rows = out.collect()
    assert rows and rows[0].neighbor_id == 99 and rows[0].cosine == 1.0


def test_asof_join_basic_and_edges(spark):
    signups = spark.createDataFrame(
        [Row(user_id=1, ts="2024-01-01 10:00:00"), Row(user_id=1, ts="2024-01-01 12:00:00")]
    ).withColumn("ts", F.to_timestamp("ts"))
    purchases = spark.createDataFrame(
        [
            Row(pid=1, user_id=1, ts="2024-01-01 11:00:00"),  # after 1st signup
            Row(pid=2, user_id=1, ts="2024-01-01 12:00:00"),  # simultaneous: sees it
            Row(pid=3, user_id=1, ts="2024-01-01 09:00:00"),  # before any: null
            Row(pid=4, user_id=2, ts="2024-01-01 11:00:00"),  # no signups: null
        ]
    ).withColumn("ts", F.to_timestamp("ts"))
    out = {
        r.pid: r.asof_ts
        for r in asof_join(purchases, signups, on="user_id", tiebreak="pid").collect()
    }
    assert str(out[1]) == "2024-01-01 10:00:00"
    assert str(out[2]) == "2024-01-01 12:00:00"  # equal-ts right row visible
    assert out[3] is None
    assert out[4] is None


def test_language_id_and_quality(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat is in the hat and it is a good day for the park", lang="en"),
            Row(doc_id=2, text="der hund ist nicht auf der wiese und das ist ein problem", lang="de"),
            Row(doc_id=3, text="zzz qqq xxx", lang="und"),
        ]
    )
    got = {r.doc_id: r.predicted_lang for r in language_id(df).collect()}
    assert got[1] == "en"
    assert got[2] == "de"
    assert got[3] == "und"
    scores = {
        r.doc_id: r.q
        for r in df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()
    }
    assert scores[1] > scores[3]


def test_bpe_ish_token_count(spark):
    df = spark.createDataFrame([Row(doc_id=1, text="short supercalifragilistic")])
    n = df.select(bpe_ish_token_count(F.col("text")).alias("n")).collect()[0].n
    # 'short' -> 2 pieces (ceil(5/4)), 'supercalifragilistic' (20 chars) -> 5
    assert n == 7


def test_embedding_near_dup_pairs_finds_identical(spark):
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    vecs = [
        Row(vec_id=i, embedding=[float((i * 64 + j) % 97) for j in range(64)])
        for i in range(30)
    ]
    vecs.append(Row(vec_id=100, embedding=vecs[0].embedding))  # exact dup of 0
    df = spark.createDataFrame(vecs)
    pairs = {
        (r.vec_id_a, r.vec_id_b): r.cosine
        for r in embedding_near_dup_pairs(df, threshold=0.999).collect()
    }
    assert pairs.get((0, 100)) == 1.0


def test_ivf_topk_recall_vs_exact(spark, sf_dir):
    """IVF with n_probe=4 of 16 cells recovers most exact top-5
    neighbors (recall measured against the brute-force baseline)."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        ivf_topk_cosine,
    )
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = brute_force_topk_cosine(queries, emb, k=5).collect()
    approx = ivf_topk_cosine(queries, emb).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.4, f"recall {recall}"
    # and every IVF hit's cosine is exact (re-ranking is exact math)
    exact_cos = {(r.query_id, r.neighbor_id): r.cosine for r in exact}
    for r in approx:
        if (r.query_id, r.neighbor_id) in exact_cos:
            assert abs(r.cosine - exact_cos[(r.query_id, r.neighbor_id)]) < 1e-9


def test_udtf_chunking_expansion(spark):
    from airflow_scraping_etl_tutorial_spark.operators.udx import chunk_documents

    df = spark.createDataFrame(
        [Row(doc_id=1, text=" ".join(f"w{i}" for i in range(70)))]
    )
    chunks = chunk_documents(df).collect()
    assert [(c.chunk_no, c.n_tokens) for c in chunks] == [(0, 32), (1, 32), (2, 6)]
    assert chunks[0].chunk.startswith("w0 ") and chunks[2].chunk.endswith("w69")


def test_pandas_udaf_trimmed_mean(spark):
    from airflow_scraping_etl_tutorial_spark.operators.udx import robust_price_stats

    rows = [Row(o_orderstatus="F", o_totalprice=float(v)) for v in range(1, 11)]
    rows.append(Row(o_orderstatus="F", o_totalprice=1_000_000.0))  # outlier
    out = robust_price_stats(spark.createDataFrame(rows)).collect()[0]
    assert out.n == 11
    assert out.trimmed_mean_price < 100  # outlier trimmed away
    assert out.mean_price > 90000  # plain mean keeps it


def test_lsh_multiprobe_improves_recall(spark, sf_dir):
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 10)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in brute_force_topk_cosine(queries, emb, k=5).collect()
    }

    def recall(multi_probe):
        got = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk_cosine(
                queries, emb, k=5, n_planes=8, multi_probe=multi_probe
            ).collect()
        }
        return len(got & exact) / len(exact)

    r1, r2 = recall(False), recall(True)
    assert r2 >= r1  # probing strictly widens the candidate set
    # this corpus has NO near-identical vectors (max cosine ~0.46 =>
    # per-plane collision ~0.63, 8 planes => ~2.5% bucket recall);
    # multi-probe multiplies recall ~4x, which is what we assert
    assert r2 >= max(r1 * 2, 0.05)


def test_argmax_assignment_matches_window_form(spark):
    """assign_argmax_cosine must agree with the row_number(ORDER BY
    cos DESC, cid) window form it replaced, including ties: identical
    vectors (always cosine 1.0 to every centroid of themselves...)
    and duplicated centroids force the smallest-cid tie-break."""
    import random

    from pyspark.sql import Window as W

    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
        cosine,
    )

    rng = random.Random(7)
    vec_rows = [
        Row(vec_id=i, _e=[rng.uniform(-1, 1) for _ in range(8)]) for i in range(50)
    ]
    cent_vecs = [[rng.uniform(-1, 1) for _ in range(8)] for _ in range(4)]
    cent_rows = [Row(centroid_id=c, c_emb=cent_vecs[c % 4]) for c in range(6)]
    # centroids 4 and 5 DUPLICATE centroids 0 and 1 -> every vector is
    # tied between (0,4) or can tie between (1,5); smallest cid wins
    vecs = spark.createDataFrame(vec_rows)
    cents = spark.createDataFrame(cent_rows)
    fold = {
        r.vec_id: r.centroid_id
        for r in assign_argmax_cosine(vecs, "_e", cents)
        .select("vec_id", "centroid_id")
        .collect()
    }
    scored = vecs.crossJoin(F.broadcast(cents)).select(
        "vec_id", "centroid_id", cosine(F.col("_e"), F.col("c_emb")).alias("_c")
    )
    w = W.partitionBy("vec_id").orderBy(F.desc("_c"), F.asc("centroid_id"))
    win = {
        r.vec_id: r.centroid_id
        for r in scored.withColumn("_r", F.row_number().over(w))
        .filter(F.col("_r") == 1)
        .collect()
    }
    assert fold == win
    assert all(cid < 4 for cid in fold.values())  # ties broke low


def test_connected_components_known_graph(spark):
    from airflow_scraping_etl_tutorial_spark.operators.cluster import (
        connected_components,
    )

    # components: {1,2,3,4} (chain), {10,11}, singleton 20 not in edges
    edges = spark.createDataFrame(
        [Row(doc_id_a=1, doc_id_b=2), Row(doc_id_a=2, doc_id_b=3),
         Row(doc_id_a=3, doc_id_b=4), Row(doc_id_a=10, doc_id_b=11)]
    )
    comp = {r.vertex_id: r.component_id for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_connected_components_self_loop_only_vertex(spark):
    """A vertex appearing ONLY in self-loops is still returned, as its
    own singleton component (the operator's every-vertex contract)."""
    from airflow_scraping_etl_tutorial_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [Row(doc_id_a=1, doc_id_b=2), Row(doc_id_a=5, doc_id_b=5)]
    )
    comp = {r.vertex_id: r.component_id for r in connected_components(edges).collect()}
    assert comp == {1: 1, 2: 1, 5: 5}


def test_argmax_assignment_null_embedding_falls_back_low(spark):
    """A NULL embedding scores NULL against every centroid; the fold
    must fall back to the smallest centroid id (the window form's
    NULLS LAST outcome), never the -1 sentinel."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    schema = StructType(
        [
            StructField("vec_id", LongType()),
            StructField("_e", ArrayType(DoubleType())),
        ]
    )
    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, None), (3, [0.0, 0.0])], schema
    )
    cents = spark.createDataFrame(
        [Row(centroid_id=7, c_emb=[0.5, 0.5]), Row(centroid_id=3, c_emb=[1.0, 0.0])]
    )
    got = {
        r.vec_id: r.centroid_id
        for r in assign_argmax_cosine(vecs, "_e", cents).collect()
    }
    assert got[1] == 3  # genuine argmax
    assert got[2] == 3  # null embedding -> smallest cid, not -1
    assert got[3] == 3  # zero vector: all scores 0.0 -> smallest cid


def test_argmax_assignment_negative_and_int_typed_cids(spark):
    """Round-9 ADVICE: the fold's unassigned state is a NULL score, not
    an id-space sentinel — a legal -1 centroid id must win its argmax
    (never be remapped to the smallest cid), and an int-typed id column
    must not struct-coerce against the long fold init."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
    )
    from pyspark.sql.types import (
        ArrayType,
        DoubleType,
        IntegerType,
        LongType,
        StructField,
        StructType,
    )

    vecs = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.0, 1.0]), (3, None)],
        StructType(
            [
                StructField("vec_id", LongType()),
                StructField("_e", ArrayType(DoubleType())),
            ]
        ),
    )
    cents = spark.createDataFrame(
        [(-1, [1.0, 0.0]), (5, [0.0, 1.0])],
        StructType(
            [
                StructField("centroid_id", IntegerType()),
                StructField("c_emb", ArrayType(DoubleType())),
            ]
        ),
    )
    out = assign_argmax_cosine(vecs, "_e", cents)
    assert dict(out.dtypes)["centroid_id"] == "bigint"
    got = {r.vec_id: r.centroid_id for r in out.collect()}
    assert got[1] == -1  # -1 is a real winning id, not a sentinel
    assert got[2] == 5
    assert got[3] == -1  # null embedding -> smallest cid


def test_connected_components_long_path(spark):
    """A 41-node path has diameter 40: plain min-label propagation
    needs 40 rounds (and silently returned non-converged labels past
    its 20-round cap — the latent defect the star rewrite fixes);
    large-star/small-star contracts it within the default budget."""
    from airflow_scraping_etl_tutorial_spark.operators.cluster import (
        connected_components,
    )

    edges = spark.createDataFrame(
        [Row(doc_id_a=i, doc_id_b=i + 1) for i in range(40)]
    )
    comp = {r.vertex_id: r.component_id for r in connected_components(edges).collect()}
    assert comp == {i: 0 for i in range(41)}


def test_connected_components_random_vs_union_find(spark):
    """Randomized replay: the operator must agree with a driver-side
    union-find on an arbitrary multi-component graph (seeded)."""
    import random

    from airflow_scraping_etl_tutorial_spark.operators.cluster import (
        connected_components,
    )

    rng = random.Random(9)
    pairs = sorted({tuple(sorted(rng.sample(range(200), 2))) for _ in range(150)})
    parent = list(range(200))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        parent[find(a)] = find(b)
    nodes = {n for ab in pairs for n in ab}
    expected = {}
    for n in nodes:
        root = find(n)
        expected.setdefault(root, []).append(n)
    want = {n: min(mem) for mem in expected.values() for n in mem}
    edges = spark.createDataFrame([Row(doc_id_a=a, doc_id_b=b) for a, b in pairs])
    got = {r.vertex_id: r.component_id for r in connected_components(edges).collect()}
    assert got == want


def test_dedup_keep_canonical_end_to_end(spark, docs):
    from airflow_scraping_etl_tutorial_spark.operators.cluster import (
        dedup_keep_canonical,
    )

    pairs = minhash_near_duplicates(docs, jaccard_threshold=0.3)
    marked = dedup_keep_canonical(docs, pairs).collect()
    by_id = {r.doc_id: r for r in marked}
    # docs 1,2,3 cluster together (exact + near dup); 4 stands alone
    assert by_id[1].component_id == by_id[2].component_id == by_id[3].component_id == 1
    assert by_id[1].is_canonical
    assert not by_id[2].is_canonical and not by_id[3].is_canonical
    assert by_id[4].is_canonical and by_id[4].component_id == 4


def test_scalar_pandas_udf_and_grouped_map(spark):
    from airflow_scraping_etl_tutorial_spark.operators.udx import (
        sigmoid_scalar_udf,
        zscore_per_group_exact,
    )

    df = spark.createDataFrame(
        [Row(k="a", id=1, v=10.0), Row(k="a", id=2, v=20.0),
         Row(k="a", id=3, v=30.0), Row(k="b", id=4, v=5.0),
         Row(k="b", id=5, v=5.0)]
    )
    s = df.select(sigmoid_scalar_udf("v").alias("s")).collect()
    assert all(0.5 < r.s < 0.51 for r in s)  # sigmoid near 0.5 for small v

    z = {
        r.id: r.zscore
        for r in zscore_per_group_exact(df, "k", "id", "v").collect()
    }
    assert z[2] == 0.0  # the mean maps to 0
    assert z[3] == 1.0  # one stddev above
    assert z[4] == z[5] == 0.0  # zero-variance group -> 0, not NaN


def test_release_session_intermediates_survives_chaining(spark, docs):
    """The realistic caller chains .orderBy/.select on the operator's
    return value and never holds the persisted signature table — the
    session release still drains its blocks (ADVICE r2)."""
    from airflow_scraping_etl_tutorial_spark.functions.caching import (
        release_session_intermediates,
    )

    release_session_intermediates(spark)  # drain leftovers from other tests
    chained = minhash_near_duplicates(docs, jaccard_threshold=0.5).orderBy(
        "doc_id_a", "doc_id_b"
    )
    chained.count()
    released = release_session_intermediates(spark, blocking=True)
    assert released >= 1
    assert release_session_intermediates(spark) == 0  # idempotent


def test_release_session_intermediates_reads_spark_state(spark):
    """The release walks Spark's persistent-RDD table, so a plain
    persist() that no operator registered anywhere is freed, while a
    live local checkpoint keeps its blocks (its lineage is gone)."""
    from airflow_scraping_etl_tutorial_spark.functions.caching import (
        release_session_intermediates,
    )

    release_session_intermediates(spark, blocking=True)  # drain leftovers
    cached = spark.range(1_000).selectExpr("id", "id * 5 AS v").persist()
    assert cached.count() == 1_000
    live = spark.range(500).selectExpr("id * 7 AS w").localCheckpoint(
        eager=True
    )
    assert release_session_intermediates(spark, blocking=True) >= 1
    level = cached.storageLevel
    assert not level.useMemory and not level.useDisk
    assert live.count() == 500
    assert live.agg(F.sum("w")).first()[0] == 7 * sum(range(500))
    assert release_session_intermediates(spark) == 0  # idempotent


def test_release_session_checkpoints_frees_rdd_blocks(spark):
    """localCheckpoint RDD blocks are invisible to
    spark.catalog.clearCache() — without the targeted release they
    linger until the ContextCleaner GCs the reference, i.e.
    nondeterministically across a long sweep (r12 ADVICE). The release
    must free exactly the locally checkpointed entries and be
    idempotent."""
    from airflow_scraping_etl_tutorial_spark.functions.caching import (
        release_session_checkpoints,
    )

    release_session_checkpoints(spark)  # drain leftovers from other tests

    def n_persistent():
        sc = spark.sparkContext._jsc.sc()
        return spark._jvm.scala.collection.JavaConverters.mapAsJavaMap(
            sc.getPersistentRDDs()
        ).size()

    base = n_persistent()
    ck = spark.range(10_000).selectExpr("id", "id * 2 AS v").localCheckpoint(
        eager=True
    )
    ck.count()
    assert n_persistent() == base + 1
    spark.catalog.clearCache()  # does NOT free checkpoint blocks
    assert n_persistent() == base + 1
    assert release_session_checkpoints(spark, blocking=True) >= 1
    assert n_persistent() <= base
    assert release_session_checkpoints(spark) == 0  # idempotent


def test_release_session_checkpoints_protect_scopes_the_sweep(spark):
    """r13 ADVICE: the session-wide sweep is a foot-gun for callers
    holding live checkpointed DataFrames (truncated lineage — losing
    blocks is unrecoverable). snapshot_checkpoints + protect= scopes
    the sweep to checkpoints created INSIDE the scope: the protected
    pre-existing checkpoint keeps its blocks and stays readable; a
    follow-up unscoped sweep still frees it."""
    from airflow_scraping_etl_tutorial_spark.functions.caching import (
        release_session_checkpoints,
        snapshot_checkpoints,
    )

    release_session_checkpoints(spark, blocking=True)
    live = spark.range(1_000).selectExpr("id", "id * 3 AS v").localCheckpoint(
        eager=True
    )
    assert live.count() == 1_000
    snap = snapshot_checkpoints(spark)
    assert len(snap) >= 1
    inner = spark.range(500).selectExpr("id * 7 AS w").localCheckpoint(
        eager=True
    )
    inner.count()
    # scoped sweep: frees the inner checkpoint, never the protected one
    assert release_session_checkpoints(spark, blocking=True, protect=snap) >= 1
    assert live.count() == 1_000  # blocks intact, DataFrame still usable
    # unscoped sweep drains the protected one too, and is idempotent
    assert release_session_checkpoints(spark, blocking=True) >= 1
    assert release_session_checkpoints(spark) == 0


def test_ivf_trained_centroids_recall(spark, sf_dir):
    """Trained (2-iteration Lloyd) centroids keep recall in the same
    band as the raw hash-sample centroids at the same n_probe (Lloyd
    reshapes cells — on near-uniform fixtures that can shift individual
    queries either way; a collapse would signal broken training)."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        ivf_topk_cosine,
    )
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5)
    exact = {(r.query_id, r.neighbor_id) for r in brute_force_topk_cosine(queries, emb, k=5).collect()}

    def recall(df):
        got = {(r.query_id, r.neighbor_id) for r in df.collect()}
        return len(exact & got) / len(exact)

    plain = recall(ivf_topk_cosine(queries, emb))
    trained = recall(
        ivf_topk_cosine(queries, emb, n_iterations=2)
    )
    assert trained >= 0.4, f"trained recall collapsed: {trained}"
    assert trained >= plain - 0.15, f"trained {trained} far below plain {plain}"


def test_kmeans_centroids_deterministic(spark, sf_dir):
    """Two training runs produce bit-identical centroids (decimal-exact
    means, fixed init, fixed iteration count — no RNG, no order
    dependence)."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        kmeans_centroids,
    )
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    emb = load(spark, sf_dir, "embeddings")
    a = {r.centroid_id: tuple(r.c_emb) for r in kmeans_centroids(emb, 8, 2).collect()}
    b = {
        r.centroid_id: tuple(r.c_emb)
        for r in kmeans_centroids(emb.repartition(7), 8, 2).collect()
    }
    assert a == b


def test_kmeans_trajectory_movement_shrinks_on_planted_clusters(spark):
    """On planted tight clusters the trajectory's movement must shrink
    monotonically toward the fixpoint, live centroids never grow, and
    the audit agrees with a manual prev-vs-next comparison."""
    from pyspark.sql import Row

    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        kmeans_training_trajectory,
    )

    rows = []
    for i in range(10):
        eps = 0.01 * (i % 3)
        rows.append(Row(vec_id=i, embedding=[1.0, eps, 0.0, eps]))
        rows.append(Row(vec_id=100 + i, embedding=[0.0, eps, 1.0, eps]))
    df = spark.createDataFrame(rows)

    audit = {
        r.iteration: (r.n_live, r.max_move)
        for r in kmeans_training_trajectory(df, n_centroids=2, n_iterations=3).collect()
    }
    assert set(audit) == {1, 2, 3}
    lives = [audit[i][0] for i in (1, 2, 3)]
    moves = [audit[i][1] for i in (1, 2, 3)]
    assert all(1 <= n <= 2 for n in lives)
    assert lives[0] >= lives[1] >= lives[2] or lives == sorted(lives)
    # movement decreases to (near) zero as Lloyd rests on two tight blobs
    assert moves[0] >= moves[1] >= moves[2]
    assert moves[2] <= 0.02


def test_winnowing_shared_substring_guarantee(spark):
    """Winnowing guarantee: documents sharing a substring of length
    >= k + window - 1 share at least one fingerprint; disjoint texts
    share none."""
    from airflow_scraping_etl_tutorial_spark.operators.text import (
        winnowing_fingerprints,
    )

    shared = "identical plagiarized passage of text"
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text=f"alpha bravo {shared} charlie delta"),
            Row(doc_id=2, text=f"echo foxtrot golf {shared} hotel"),
            Row(doc_id=3, text="entirely unrelated content with zero overlap"),
        ]
    )
    fps = winnowing_fingerprints(df).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fingerprint)
    assert by_doc[1] & by_doc[2]          # shared passage detected
    assert not (by_doc[1] & by_doc[3])    # no false overlap
    assert not (by_doc[2] & by_doc[3])


def test_decontaminate_flags_only_overlapping_docs(spark):
    from airflow_scraping_etl_tutorial_spark.operators.dedup import decontaminate

    eval_df = spark.createDataFrame(
        [Row(doc_id=900, text="the quick brown fox jumps high")]
    )
    corpus = spark.createDataFrame(
        [
            # shares the shingle "quick brown fox" (and "the quick brown")
            Row(doc_id=1, text="see the quick brown fox run"),
            # no 3-gram overlap
            Row(doc_id=2, text="completely different words entirely here now"),
            # too short for a 3-shingle
            Row(doc_id=3, text="quick brown"),
        ]
    )
    out = {r["doc_id"]: r for r in decontaminate(corpus, eval_df).collect()}
    assert set(out) == {1}
    assert out[1]["n_shared_ngrams"] == 2
    assert out[1]["min_eval_doc"] == 900


def test_repetition_stats_extremes(spark):
    from airflow_scraping_etl_tutorial_spark.operators.text import repetition_stats

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="spam spam spam spam spam"),
            Row(doc_id=2, text="all words here are unique"),
        ]
    )
    stats = repetition_stats(F.col("text"))
    rows = {
        r["doc_id"]: r
        for r in df.select("doc_id", *(e.alias(k) for k, e in stats.items())).collect()
    }
    assert rows[1]["dup_word_frac"] == pytest.approx(0.8)  # 1 distinct of 5
    assert rows[1]["dup_bigram_frac"] == pytest.approx(0.75)  # 1 distinct of 4
    assert rows[2]["dup_word_frac"] == 0.0
    assert rows[2]["dup_bigram_frac"] == 0.0


def test_train_val_test_split_is_total_and_stable(spark, sf_dir):
    from airflow_scraping_etl_tutorial_spark.plans import all_queries

    fn = all_queries()["q105_train_val_test_split"].fn
    a = {(r["split"], r["lang"]): r["n_docs"] for r in fn(spark, sf_dir).collect()}
    b = {(r["split"], r["lang"]): r["n_docs"] for r in fn(spark, sf_dir).collect()}
    assert a == b  # deterministic across runs
    n_total = sum(a.values())
    assert n_total == 500  # every document assigned exactly one split
    by_split = {}
    for (split, _lang), n in a.items():
        by_split[split] = by_split.get(split, 0) + n
    # ~90/5/5 with binomial slack at n=500
    assert by_split["train"] / n_total > 0.85
    assert 0.01 < by_split["val"] / n_total < 0.10
    assert 0.01 < by_split["test"] / n_total < 0.10


def test_kmeans_converged_recovers_planted_clusters(spark):
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        cosine,
        kmeans_centroids,
        kmeans_centroids_converged,
        kmeans_training_trajectory,
    )

    # Two tight clusters around orthogonal directions in 4-dim.
    rows = []
    for i in range(10):
        eps = 0.01 * (i % 3)
        rows.append(Row(vec_id=i, embedding=[1.0, eps, 0.0, eps]))
        rows.append(Row(vec_id=100 + i, embedding=[0.0, eps, 1.0, eps]))
    df = spark.createDataFrame(rows)

    cents, n_iters = kmeans_centroids_converged(df, n_centroids=2, tol=1e-9)
    got = {tuple(round(x, 3) for x in r["c_emb"]) for r in cents.collect()}
    assert len(got) == 2
    assert 1 <= n_iters < 20  # converged before the cap
    # Each planted direction is the dominant component of one centroid.
    dominants = {max(range(4), key=lambda i, t=t: t[i]) for t in got}
    assert dominants == {0, 2}

    # Convergence run agrees with a long fixed run (same fixpoint).
    fixed = kmeans_centroids(df, n_centroids=2, n_iterations=n_iters)
    fixed_set = {tuple(round(x, 9) for x in r["c_emb"]) for r in fixed.collect()}
    conv_set = {tuple(round(x, 9) for x in r["c_emb"]) for r in cents.collect()}
    assert fixed_set == conv_set

    from decimal import ROUND_HALF_UP, Decimal

    # One Lloyd loop behind all three trainers: the fixed-count model
    # IS the capped convergence run's model, and each trajectory row is
    # the live count and rounded max move between consecutive models.
    def model(frame):
        return {r["centroid_id"]: tuple(r["c_emb"]) for r in frame.collect()}

    models = [model(kmeans_centroids(df, n_centroids=2, n_iterations=n)) for n in (0, 1, 2)]
    for n in (1, 2):
        capped, ran = kmeans_centroids_converged(
            df, n_centroids=2, tol=0.0, max_iterations=n
        )
        assert ran == n and model(capped) == models[n]
    audit = {
        r.iteration: (r.n_live, r.max_move)
        for r in kmeans_training_trajectory(df, n_centroids=2, n_iterations=2).collect()
    }
    for it in (1, 2):
        prev, cur = models[it - 1], models[it]
        live = set(prev) & set(cur)
        move = max(abs(a - b) for c in live for a, b in zip(cur[c], prev[c]))
        # Spark's round(double, 6) is HALF_UP on the double's decimal repr
        rounded = float(Decimal(repr(move)).quantize(Decimal("1e-6"), ROUND_HALF_UP))
        assert audit[it] == (len(live), rounded)
    # and assignments split the two planted groups
    assigned = (
        df.crossJoin(F.broadcast(cents))
        .select("vec_id", "centroid_id", cosine(F.col("embedding"), F.col("c_emb")).alias("c"))
    )
    from pyspark.sql import Window as W2

    top = (
        assigned.withColumn(
            "r", F.row_number().over(W2.partitionBy("vec_id").orderBy(F.desc("c")))
        )
        .filter("r = 1")
        .collect()
    )
    by_cluster = {}
    for r in top:
        by_cluster.setdefault(r["centroid_id"], set()).add(r["vec_id"] < 100)
    assert all(len(v) == 1 for v in by_cluster.values())


def test_hourly_counts_stream_equals_q80(spark, sf_dir, tmp_path):
    """One definition for batch and stream: the events fixture drained
    through `hourly_counts` as a file-source stream (complete mode),
    formatted as q80 formats it, is q80's result row for row."""
    from airflow_scraping_etl_tutorial_spark.plans.streaming_queries import (
        q80_events_hourly_tumbling,
    )
    from airflow_scraping_etl_tutorial_spark.sources.tables import load
    from airflow_scraping_etl_tutorial_spark.streaming.events import (
        hourly_counts,
        stream_from_dir,
    )

    # the fixture's TIMESTAMP(NANOS) is unreadable by a streaming scan;
    # load() yields microseconds
    src = str(tmp_path / "events")
    load(spark, sf_dir, "events").write.parquet(src)
    q = (
        hourly_counts(stream_from_dir(spark, src))
        .writeStream.format("memory")
        .queryName("hourly_q80")
        .outputMode("complete")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        "SELECT date_format(window_start, 'yyyy-MM-dd HH:mm:ss') AS window_start,"
        " event_type, n_events, total_value FROM hourly_q80"
        " ORDER BY window_start, event_type"
    ).collect()
    want = q80_events_hourly_tumbling(spark, sf_dir).collect()
    assert len(want) > 0
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
