"""r14 vectorized-kernel equivalence contracts (guide §4.2).

The NumPy kernels added in round 14 (bucket_keys' plane scoring,
within_cell_near_pairs' Gram accumulation) must be BIT-IDENTICAL to the
HOF fold forms they replaced — the oracle hash gate depends on it.
These tests rebuild the old zip_with/aggregate forms inline and assert
exact equality on the sf0.001 fixture plus hand-made degenerate rows
(NULL vector, ragged length, NULL element, NaN element, zero vector).
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F
from pyspark.sql import types as T

from airflow_scraping_etl_tutorial_spark.operators.similarity import (
    EMBED_DIM,
    as_double,
    bucket_keys,
    dot,
    within_cell_near_pairs,
    _deterministic_planes,
)
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


def _hof_bucket_keys(emb, n_planes, id_col="vec_id"):
    """The pre-r14 zip_with/aggregate form, verbatim."""
    pre = emb.select(F.col(id_col), as_double(F.col("embedding")).alias("_e"))
    v = F.col("_e")
    bucket = None
    for p, plane in enumerate(_deterministic_planes(n_planes)):
        plane_col = F.array(*[F.lit(w) for w in plane])
        bit = F.when(dot(v, plane_col) > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, p)
        bucket = term if bucket is None else bucket + term
    return pre.select(F.col(id_col), bucket.alias("bucket"))


def test_bucket_keys_matches_hof_fold_on_fixture(spark):
    emb = load(spark, SF_DIR, "embeddings")
    got = {r["vec_id"]: r["bucket"] for r in bucket_keys(emb, 6).collect()}
    want = {r["vec_id"]: r["bucket"] for r in _hof_bucket_keys(emb, 6).collect()}
    assert got == want and len(got) > 0


def test_bucket_keys_degenerate_rows_bucket_zero(spark):
    """NULL vector, ragged length, NULL element, NaN element all yield a
    NULL/NaN dot under the fold -> every plane bit 0 -> bucket 0; a
    well-formed row keeps its computed bucket."""
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType(), True), True),
        ]
    )
    base = [1.0, 2.0, 3.0, 4.0] * (EMBED_DIM // 4)
    rows = [
        Row(vec_id=0, embedding=base),
        Row(vec_id=1, embedding=None),
        Row(vec_id=2, embedding=base[:2]),  # ragged
        Row(vec_id=3, embedding=[1.0, None] + base[2:]),  # NULL element
        Row(vec_id=4, embedding=[1.0, float("nan")] + base[2:]),  # NaN
        Row(vec_id=5, embedding=[0.0] * EMBED_DIM),  # zero vector
    ]
    df = spark.createDataFrame(rows, schema)
    got = {r["vec_id"]: r["bucket"] for r in bucket_keys(df, 5).collect()}
    want = {r["vec_id"]: r["bucket"] for r in _hof_bucket_keys(df, 5).collect()}
    assert got == want
    # NULL vector / ragged / NULL element -> NULL dot -> bucket 0;
    # NaN element -> NaN dot, and Spark orders NaN above every double,
    # so every plane bit is set (2^5 - 1 = 31)
    assert got[1] == 0 and got[2] == 0 and got[3] == 0
    assert got[4] == 31


def test_dense_rows_validity_rule():
    """The one row rule of the three kernels, without Spark: a row is
    scored iff it is non-NULL, has length dim and no NULL element; a
    NaN element is a value, not a NULL, and stays in the matrix."""
    import numpy as np
    import pyarrow as pa

    from airflow_scraping_etl_tutorial_spark.operators.similarity import _dense_rows

    nan = float("nan")
    arr = pa.array(
        [
            [1.0, 2.0, 3.0],
            None,  # NULL vector
            [1.0, None, 3.0],  # NULL element
            [nan, 5.0, 6.0],  # NaN element: kept
            [1.0, 2.0],  # ragged
            [7.0, 8.0, 9.0],
        ],
        type=pa.list_(pa.float32()),
    )
    ok, V = _dense_rows(arr, 3)
    assert ok.tolist() == [True, False, False, True, False, True]
    assert V.dtype == np.float64 and V.shape == (3, 3)
    assert V[0].tolist() == [1.0, 2.0, 3.0] and V[2].tolist() == [7.0, 8.0, 9.0]
    assert math.isnan(V[1, 0]) and V[1, 1:].tolist() == [5.0, 6.0]

    # a slice reads the same rows as the whole array
    ok_s, V_s = _dense_rows(arr.slice(3, 3), 3)
    assert ok_s.tolist() == [True, False, True]
    assert np.array_equal(V_s, V[1:], equal_nan=True)

    # dim inferred from the first non-NULL row (here length 2)
    ok2, V2 = _dense_rows(pa.array([None, [1.0, 2.0], [3.0, 4.0, 5.0], [6.0, 7.0]]))
    assert ok2.tolist() == [False, True, False, True]
    assert V2.tolist() == [[1.0, 2.0], [6.0, 7.0]]

    # all-invalid batch and empty batch: nothing scored, a (0, dim) matrix
    ok3, V3 = _dense_rows(pa.array([None, [1.0, None]], type=pa.list_(pa.float64())), 2)
    assert ok3.tolist() == [False, False] and V3.shape == (0, 2)
    ok4, V4 = _dense_rows(pa.array([], type=pa.list_(pa.float64())), 4)
    assert ok4.tolist() == [] and V4.shape == (0, 4)
    ok5, V5 = _dense_rows(pa.array([None, None], type=pa.list_(pa.float64())))
    assert ok5.tolist() == [False, False] and V5.shape[0] == 0


def _cells(spark, emb):
    """Cell frame in the q154 shape (cid, vec_id, _e, _n)."""
    return emb.select(
        "vec_id",
        as_double(F.col("embedding")).alias("_e"),
        (F.col("vec_id") % 4).alias("cid"),
        F.sqrt(dot(as_double(F.col("embedding")), as_double(F.col("embedding")))).alias(
            "_n"
        ),
    )


def test_within_cell_pairs_match_hof_join_bit_exact(spark):
    """Every (pair, cosine double) above the guard agrees exactly with
    the join+fold form — same pairs, same raw doubles."""
    emb = load(spark, SF_DIR, "embeddings").limit(300)
    cells = _cells(spark, emb).persist()
    try:
        got = {
            (r["id_a"], r["id_b"]): r["cos_raw"]
            for r in within_cell_near_pairs(cells, cos_guard=0.25).collect()
        }
        a = cells.select(
            "cid", F.col("vec_id").alias("id_a"), F.col("_e").alias("ea"), F.col("_n").alias("na")
        )
        b = cells.select(
            "cid", F.col("vec_id").alias("id_b"), F.col("_e").alias("eb"), F.col("_n").alias("nb")
        )
        pair_cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        want = {
            (r["id_a"], r["id_b"]): r["_c"]
            for r in a.join(b, ["cid"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", pair_cos.alias("_c"))
            .filter(F.col("_c") > 0.25)
            .collect()
        }
        assert set(got) == set(want) and len(got) > 0
        for k in got:
            assert got[k] == want[k], (k, got[k], want[k])  # bit-identical doubles
    finally:
        cells.unpersist()


def test_within_cell_pairs_degenerate_rows_match_join_form(spark):
    """End-to-end threshold parity on degenerate rows: after the
    caller-side JVM filter (round(cos,6) >= tau), the kernel selects
    exactly the pairs the join+fold form selects — NULL-cosine rows
    (NULL vector / NULL element / ragged) emit nothing, NaN cosines
    (NaN element, zero-norm 0/0) pass on both paths because Spark
    orders NaN above every double."""
    dim = 4
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("cid", T.LongType()),
            T.StructField("_e", T.ArrayType(T.DoubleType(), True), True),
            T.StructField("_n", T.DoubleType()),
        ]
    )

    def n(v):
        if v is None or any(x is None for x in v):
            return None
        return math.sqrt(sum(float(x) * float(x) for x in v if not math.isnan(x)))

    vecs = {
        0: [1.0, 2.0, 3.0, 4.0],
        1: [1.0, 2.0, 3.0, 4.0],
        2: None,
        3: [1.0, 2.0],
        4: [0.0, 0.0, 0.0, 0.0],
        5: [1.0, float("nan"), 3.0, 4.0],
        6: [1.0, None, 3.0, 4.0],
    }
    rows = [Row(vec_id=k, cid=0, _e=v, _n=n(v)) for k, v in vecs.items()]
    df = spark.createDataFrame(rows, schema).persist()
    try:
        got = {
            (r["id_a"], r["id_b"])
            for r in within_cell_near_pairs(df, cos_guard=0.1)
            .filter(F.round(F.col("cos_raw"), 6) >= 0.3)
            .collect()
        }
        # the join+fold reference: the zero-norm row (4) is excluded
        # from it because under ANSI mode the join form RAISES
        # DIVIDE_BY_ZERO on a 0/0 cosine — the kernel (like the DuckDB
        # oracle, where 0/0 is NaN) yields a NaN pair instead, asserted
        # separately below
        ref = df.filter(F.col("vec_id") != 4)
        a = ref.select(
            "cid", F.col("vec_id").alias("id_a"), F.col("_e").alias("ea"), F.col("_n").alias("na")
        )
        b = ref.select(
            "cid", F.col("vec_id").alias("id_b"), F.col("_e").alias("eb"), F.col("_n").alias("nb")
        )
        pair_cos = dot(F.col("ea"), F.col("eb")) / (F.col("na") * F.col("nb"))
        want = {
            (r["id_a"], r["id_b"])
            for r in a.join(b, ["cid"])
            .filter(F.col("id_a") < F.col("id_b"))
            .filter(F.round(pair_cos, 6) >= 0.3)
            .collect()
        }
        # the one documented out-of-contract corner — two vectors of the
        # same NON-standard length — is absent from this input on purpose
        assert {p for p in got if 4 not in p} == want
        assert (0, 1) in got  # well-formed identical pair survives
        assert (0, 5) in got  # NaN element: NaN orders above the cutoff
        # zero-norm 0/0 = NaN passes the threshold, oracle-style
        assert (0, 4) in got and (1, 4) in got
        assert not any(2 in p or 3 in p or 6 in p for p in got)  # NULL/ragged
    finally:
        df.unpersist()


def _hof_assign_argmax(df, vec_col, cents, out_cid="centroid_id"):
    """The pre-r14 packed-model HOF fold form of assign_argmax_cosine,
    verbatim (the semantics of record the Arrow kernel must match)."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import l2_norm

    packed = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col(out_cid).cast("long").alias("cid"),
                    as_double(F.col("c_emb")).alias("ce"),
                )
            )
        ).alias("_cl0")
    ).select(
        F.transform(
            F.col("_cl0"),
            lambda c: F.struct(
                c["cid"].alias("cid"),
                c["ce"].alias("ce"),
                l2_norm(c["ce"]).alias("cn"),
            ),
        ).alias("_cl")
    )
    vec_type = df.schema[vec_col].dataType
    vec = (
        F.col(vec_col)
        if isinstance(vec_type, T.ArrayType)
        and isinstance(vec_type.elementType, T.DoubleType)
        else as_double(F.col(vec_col))
    )
    scored = F.transform(
        F.col("_cl"),
        lambda c: F.struct(
            (dot(vec, c["ce"]) / c["cn"]).alias("s"),
            c["cid"].alias("cid"),
        ),
    )
    best = F.aggregate(
        scored,
        F.struct(
            F.lit(None).cast("double").alias("s"),
            F.lit(None).cast("long").alias("cid"),
        ),
        lambda acc, s: F.when(
            s["s"].isNotNull() & (acc["s"].isNull() | (s["s"] > acc["s"])), s
        ).otherwise(acc),
    )
    return (
        df.crossJoin(F.broadcast(packed))
        .withColumn("_best", best)
        .withColumn(
            out_cid,
            F.when(
                F.col("_best.cid").isNull(), F.element_at("_cl", 1)["cid"]
            ).otherwise(F.col("_best.cid")),
        )
        .drop("_cl", "_best")
    )


def test_assign_argmax_kernel_matches_fold_on_fixture(spark):
    """Arrow-kernel assignment == HOF fold on the real embeddings
    fixture with kmeans-style centroids (first 8 in md5 order), and
    the pass-through columns come back untouched."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
    )

    emb = load(spark, SF_DIR, "embeddings")
    cents = (
        emb.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(8)
        .select(
            F.col("vec_id").alias("centroid_id"),
            as_double(F.col("embedding")).alias("c_emb"),
        )
    )
    vecs = emb.select("vec_id", as_double(F.col("embedding")).alias("_e"))
    got = {
        r["vec_id"]: (r["centroid_id"], r["_e"])
        for r in assign_argmax_cosine(vecs, "_e", cents).collect()
    }
    want = {
        r["vec_id"]: (r["centroid_id"], r["_e"])
        for r in _hof_assign_argmax(vecs, "_e", cents).collect()
    }
    assert got == want

    # float32 input path: the kernel widens exactly as as_double does
    got32 = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_argmax_cosine(
            emb.select("vec_id", "embedding"), "embedding", cents
        ).collect()
    }
    want32 = {
        r["vec_id"]: r["centroid_id"]
        for r in _hof_assign_argmax(
            emb.select("vec_id", "embedding"), "embedding", cents
        ).collect()
    }
    assert got32 == want32


def test_assign_argmax_kernel_degenerate_rows_match_fold(spark):
    """Degenerate vectors (NULL, ragged, NULL element, NaN element,
    zero, +/-Inf element) land on the same cid under kernel and fold."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
    )

    nan = float("nan")
    inf = float("inf")
    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("_e", T.ArrayType(T.DoubleType())),
        ]
    )
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, None),                      # NULL vector
        (3, [1.0, 2.0]),                # ragged (shorter)
        (4, [1.0, 2.0, 3.0, 4.0]),      # ragged (longer)
        (5, [1.0, None, 3.0]),          # NULL element
        (6, [nan, 1.0, 1.0]),           # NaN element -> all scores NaN
        (7, [0.0, 0.0, 0.0]),           # zero vector -> all scores 0.0
        (8, [inf, 1.0, 0.0]),           # Inf element
        (9, [inf, -inf, 0.0]),          # Inf + -Inf -> NaN dot
        (10, [-0.5, 0.25, -1.5]),
    ]
    vecs = spark.createDataFrame(rows, schema)
    cents = spark.createDataFrame(
        [
            Row(centroid_id=11, c_emb=[0.5, 0.5, 0.5]),
            Row(centroid_id=-3, c_emb=[1.0, 0.0, 0.0]),
            Row(centroid_id=4, c_emb=[0.0, -1.0, 0.0]),
        ]
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_argmax_cosine(vecs, "_e", cents).collect()
    }
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in _hof_assign_argmax(vecs, "_e", cents).collect()
    }
    assert got == want


def test_assign_argmax_malformed_model_falls_back_to_fold(spark):
    """A model with a NULL element (or duplicate cids) must refuse the
    kernel path and still answer via the fold; the fold skips the
    NULL-scoring centroid per-row rather than falling back wholesale."""
    from airflow_scraping_etl_tutorial_spark.operators.similarity import (
        assign_argmax_cosine,
    )

    schema = T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("_e", T.ArrayType(T.DoubleType())),
        ]
    )
    vecs = spark.createDataFrame([(1, [0.0, 1.0])], schema)
    cschema = T.StructType(
        [
            T.StructField("centroid_id", T.LongType()),
            T.StructField("c_emb", T.ArrayType(T.DoubleType())),
        ]
    )
    cents = spark.createDataFrame(
        [(5, [None, 1.0]), (9, [0.0, 1.0])], cschema
    )
    got = {
        r["vec_id"]: r["centroid_id"]
        for r in assign_argmax_cosine(vecs, "_e", cents).collect()
    }
    # centroid 5 scores NULL (null element poisons the dot); 9 wins
    assert got == {1: 9}
