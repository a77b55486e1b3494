"""Similarity search over embedding columns (array<float>).

What the module holds, one of each:
- exact cosine top-k (`brute_force_topk_cosine`): queries broadcast
  against the corpus (the corpus — the big side — never shuffles).
  O(|queries| * n) — right when the query batch is small.
- sign-random-projection LSH (`bucket_keys`, `lsh_topk_cosine`,
  `embedding_near_dup_pairs`): deterministic hyperplanes -> bucket
  key; same-bucket vectors are candidates. Turns n-vs-n search into
  O(sum(bucket^2)) — the 100 TB path.
- IVF search (`ivf_topk_cosine`): Voronoi cells around k-means
  centroids, queries probe their 4 nearest cells.
- deterministic k-means: one Lloyd loop (`_lloyd_models`) behind
  `kmeans_centroids`, `kmeans_training_trajectory` and
  `kmeans_centroids_converged`.
- one per-query top-k tail (`_top_k`) for every search, and one exact
  re-rank of ANN candidates (`_rerank`) for LSH and IVF.

Vector math defaults to higher-order functions (zip_with/aggregate) on
array columns — JVM-side, no UDFs. Three measured hot loops run in
Arrow-vectorized NumPy kernels instead (guide §4.2: hand whole batches
to vectorized native code): the LSH plane scoring (`bucket_keys`), the
within-cell pair stage (`within_cell_near_pairs`) and the argmax
assignment (`assign_argmax_cosine`). All three read vectors through one
row reader, `_dense_rows`, so they share one rule for which rows are
valid, and each accumulates in the SAME left-fold order as the HOF dot,
so every emitted double is bit-identical to the fold form.
"""

from __future__ import annotations

import hashlib
import math
import struct
from functools import reduce
from itertools import islice, pairwise

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import Window as W
from pyspark.sql import types as T

from ..functions.partitioning import fan_out

# Width of the fixture's embeddings: the LSH hyperplanes and the oracle
# SQL of the vector queries are built for vectors of this length.
EMBED_DIM = 64


def as_double(vec: Column) -> Column:
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Dot product via zip_with + in-order fold (deterministic order)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def _dense_rows(list_array, dim: int | None = None):
    """The vector rows of an Arrow list array that a HOF fold can score.

    Returns ``(ok, V)``: ``ok`` is a bool mask over the rows, True where
    the vector is non-NULL, has length ``dim`` and has no NULL element;
    ``V`` is the float64 (ok.sum() x dim) matrix of those rows, in row
    order. ``dim=None`` takes the length of the first non-NULL vector
    (0 when there is none). These are exactly the rows whose fold dot
    is not NULL: under zip_with a NULL vector, a NULL element or a
    ragged length pads/poisons the fold to NULL. A NaN element is a
    valid Arrow value and stays in ``V`` — Arrow validity, not the
    value, tells a NULL element from a NaN. float32 elements widen to
    float64 exactly, as the JVM cast in ``as_double`` does.

    The list array may be a slice: ``offsets`` index the whole child
    array, which ``values`` returns unsliced."""
    import numpy as np

    n = len(list_array)
    offsets = list_array.offsets.to_numpy(zero_copy_only=False).astype(np.int64)
    lens = np.diff(offsets)
    ok = (
        ~list_array.is_null().to_numpy(zero_copy_only=False)
        if list_array.null_count
        else np.ones(n, dtype=bool)
    )
    if dim is None:
        first = np.flatnonzero(ok)
        dim = int(lens[first[0]]) if len(first) else 0
    ok &= lens == dim
    child = list_array.values
    if child.null_count:
        valid = child.is_valid().to_numpy(zero_copy_only=False)
        seen = np.concatenate(([0], np.cumsum(valid, dtype=np.int64)))
        ok &= (seen[offsets[1:]] - seen[offsets[:-1]]) == lens
    starts = offsets[:-1][ok]
    if not len(starts):
        return ok, np.zeros((0, dim), dtype=np.float64)
    flat = child.to_numpy(zero_copy_only=False).astype(np.float64)
    return ok, flat[starts[:, None] + np.arange(dim)[None, :]]


def assign_argmax_cosine(
    df: DataFrame,
    vec_col: str,
    cents: DataFrame,
) -> DataFrame:
    """Map-side argmax-cosine assignment against a model-sized
    centroid set — no (n x m) row explosion, no hash exchange, no
    per-vector window sort (the round-9 replacement for the
    row_number(PARTITION BY vec ORDER BY cos DESC, cid) form, which
    shuffled n x m rows to rank m of them).

    Ranks by dot(v, c) / ||c|| — cosine times the POSITIVE per-row
    constant ||v||, so the argmax (and every tie) is identical to
    ranking by cosine while skipping m redundant O(dim) row-norm
    folds per row (centroid norms are precomputed once per model).
    The walk is in ascending centroid_id order and keeps a strictly
    GREATER score, so ties resolve to the smallest centroid_id — the
    same vector lands in the same cell as under the window form,
    including the zero-vector case (all scores 0.0 -> smallest cid,
    matching the window's all-NaN ordering) and the all-NULL case
    (null/mismatched embedding -> fall back to the smallest
    centroid_id, matching NULLS LAST). Assumes the model is
    non-empty; the returned id column is long.

    r14 (guide §4.2): when the vector column is array<double/float>
    and the collected model is well-formed (unique non-null long
    cids, one dim, no null elements), the per-row scoring runs in an
    Arrow-vectorized NumPy kernel (`_assign_argmax_cosine_arrow`)
    instead of the interpreted per-centroid HOF fold — the kernel
    replays the IDENTICAL IEEE left-fold dot, the identical
    division, and the identical strictly-greater / NaN-is-greatest /
    first-NaN-wins walk, so every assignment is bit-identical
    (pytest-pinned against the fold form, incl. degenerate rows).
    The model is collected driver-side — the same model-sized-collect
    precedent as q76's centroids; anything malformed falls back to
    the fold form below, which remains the semantics of record. The
    collect makes the call EAGER (it runs the cents plan once);
    every call site passes a checkpointed or limit-m model.
    """
    vec_type = df.schema[vec_col].dataType
    if (
        isinstance(vec_type, T.ArrayType)
        and isinstance(vec_type.elementType, (T.DoubleType, T.FloatType))
        and "centroid_id" not in df.columns
        and _arrow_passable(df.schema)
    ):
        # as_double here = the packed form's as_double: a float32
        # model widens identically on both paths
        model = [
            (r["cid"], None if r["ce"] is None else list(r["ce"]))
            for r in cents.select(
                F.col("centroid_id").cast("long").alias("cid"),
                as_double(F.col("c_emb")).alias("ce"),
            ).collect()
        ]
        if (
            model
            and all(
                cid is not None
                and ce is not None
                and all(x is not None for x in ce)
                for cid, ce in model
            )
            and len({cid for cid, _ in model}) == len(model)
            and len({len(ce) for _, ce in model}) == 1
        ):
            model.sort(key=lambda t: t[0])
            return _assign_argmax_cosine_arrow(df, vec_col, model)
    packed = cents.agg(
        F.array_sort(
            F.collect_list(
                F.struct(
                    F.col("centroid_id").cast("long").alias("cid"),
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
    # r14 (guide §1.2 per-task work): skip the as_double transform when
    # the input is ALREADY array<double> — the identity cast is not
    # optimized away by Catalyst, so each of the m per-centroid dots
    # would otherwise rebuild a casted copy of the vector per row
    # (m array allocations + m x dim interpreted cast evals). A double
    # -> double cast is the identity, so the scores are bit-identical.
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
            "centroid_id",
            F.when(
                F.col("_best.cid").isNull(), F.element_at("_cl", 1)["cid"]
            ).otherwise(F.col("_best.cid")),
        )
        .drop("_cl", "_best")
    )


def _arrow_passable(dt) -> bool:
    """True when every field round-trips a mapInArrow pass-through
    untouched (the kernel yields the input batch's arrays back
    verbatim, so anything Arrow-convertible is safe; exotic types —
    UDTs, VARIANT, maps-of-structs we have not needed — fall back to
    the JVM fold instead of risking a conversion error)."""
    if isinstance(dt, T.StructType):
        return all(_arrow_passable(f.dataType) for f in dt.fields)
    if isinstance(dt, T.ArrayType):
        return _arrow_passable(dt.elementType)
    return isinstance(
        dt,
        (
            T.ByteType,
            T.ShortType,
            T.IntegerType,
            T.LongType,
            T.FloatType,
            T.DoubleType,
            T.StringType,
            T.BooleanType,
            T.BinaryType,
            T.DateType,
            T.TimestampType,
            T.DecimalType,
        ),
    )


def _assign_argmax_cosine_arrow(
    df: DataFrame,
    vec_col: str,
    model: list[tuple[int, list[float]]],
) -> DataFrame:
    """Arrow-vectorized body of `assign_argmax_cosine` (guide §4.2):
    one mapInArrow pass appends the argmax cid to each input batch.

    Bit-exactness vs the HOF fold (the semantics of record, kept in
    the caller as the fallback path):
    - each dot is accumulated as dim sequential vectorized steps
      ``S = S + V[:, k] * C[:, k]`` from 0.0 — the identical IEEE
      mul-then-add left fold as ``dot()``;
    - centroid norms are computed driver-side with the same scalar
      left fold + sqrt as ``l2_norm`` (Python floats ARE IEEE
      doubles; math.sqrt == Math.sqrt, correctly rounded);
    - the winner walk is ascending-cid, strictly-greater, with
      Spark's double ordering: a NaN score beats every number (first
      NaN wins, later NaNs never displace it), so an all-NaN row
      lands on the smallest cid exactly as the fold does;
    - a NULL vector, NULL element, or ragged length nulls every dot
      in the fold (zip_with pads with NULL, the sum poisons), which
      falls back to the smallest cid — `_dense_rows` leaves those
      rows out and the kernel assigns them the smallest cid directly.

    The input batch's own arrays are yielded back untouched (no
    pandas coercion anywhere), so pass-through columns — including
    the vector itself — are byte-identical."""
    import numpy as np
    import pyarrow as pa

    cids = np.asarray([cid for cid, _ in model], dtype=np.int64)
    C = np.asarray([ce for _, ce in model], dtype=np.float64)
    norms = []
    for _, ce in model:
        acc = 0.0
        for x in ce:
            acc = acc + float(x) * float(x)
        norms.append(math.sqrt(acc))
    cn = np.asarray(norms, dtype=np.float64)
    m, dim = C.shape
    vec_idx = df.columns.index(vec_col)
    out_schema = T.StructType(
        list(df.schema.fields) + [T.StructField("centroid_id", T.LongType())]
    )
    smallest = int(cids[0])

    def assign_batches(batches):
        for batch in batches:
            ok, V = _dense_rows(batch.column(vec_idx), dim)
            out = np.full(batch.num_rows, smallest, dtype=np.int64)
            nv = len(V)
            if nv:
                S = np.zeros((nv, m), dtype=np.float64)
                for k in range(dim):
                    S = S + V[:, k : k + 1] * C[None, :, k]
                # errstate wraps the division too: a zero-norm centroid
                # (cn contains 0.0) must not spam RuntimeWarning to
                # executor stderr per batch — the VALUES already match
                # Spark (x/0.0=Inf, 0.0/0.0=NaN), this is log hygiene
                # (r14 ADVICE; within_cell_near_pairs does the same).
                with np.errstate(divide="ignore", invalid="ignore"):
                    S = S / cn[None, :]
                best = S[:, 0].copy()
                best_nan = np.isnan(best)
                best_j = np.zeros(nv, dtype=np.int64)
                with np.errstate(invalid="ignore"):
                    for j in range(1, m):
                        cur = S[:, j]
                        cnan = np.isnan(cur)
                        take = (cnan & ~best_nan) | (
                            ~cnan & ~best_nan & (cur > best)
                        )
                        best = np.where(take, cur, best)
                        best_nan = np.where(take, cnan, best_nan)
                        best_j = np.where(take, j, best_j)
                out[ok] = cids[best_j]
            yield batch.append_column(
                pa.field("centroid_id", pa.int64()), pa.array(out, type=pa.int64())
            )

    return df.mapInArrow(assign_batches, out_schema)


def cosine(a: Column, b: Column) -> Column:
    da, db = as_double(a), as_double(b)
    return dot(da, db) / (l2_norm(da) * l2_norm(db))


def _top_k(scored: DataFrame, k: int) -> DataFrame:
    """Per-query top-k of scored (query_id, neighbor_id, cos_raw) pairs.
    Ranking happens on the UNROUNDED cosine with the unique neighbor id
    as tiebreak, so the selected set is deterministic; the output
    cosine is rounded for comparability."""
    w = W.partitionBy("query_id").orderBy(F.desc("cos_raw"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= k)
        .select("query_id", "neighbor_id", F.round("cos_raw", 6).alias("cosine"), "rnk")
    )


def _rerank(cand: DataFrame, queries: DataFrame, corpus: DataFrame, k: int) -> DataFrame:
    """Exact cosine re-rank of ANN candidate pairs (query_id,
    neighbor_id): self-pairs and repeats dropped, then each pair scored
    against the broadcast query vectors and the corpus vectors."""
    pairs = (
        cand.filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .distinct()
    )
    q = queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb"))
    c = corpus.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb"))
    scored = (
        pairs.join(F.broadcast(q), "query_id")
        .join(c, "neighbor_id")
        .select("query_id", "neighbor_id", cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_raw"))
    )
    return _top_k(scored, k)


def brute_force_topk_cosine(queries: DataFrame, corpus: DataFrame, k: int = 5) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    The query side is broadcast (small by construction); the corpus
    streams through map tasks, and `_top_k` ranks each query's scores.
    """
    q = queries.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q_emb")
    )
    c = fan_out(corpus).select(
        F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("c_emb")
    )
    # r14: an Arrow-kernel rewrite of this O(|q| x n) scoring stage was
    # built and MEASURED WORSE at sf0.1 (interleaved A/B x5: join form
    # min 0.521 s vs kernel min 0.734 s) — the per-build queries
    # collect plus the fixed Python-stage cost exceed the interpreted
    # HOF work saved at a 5-query batch, unlike the argmax-assignment
    # kernel where every row pays m per-centroid folds. Rejected per
    # guide §1.1's gotcha rule; the join form stays.
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .select(
            "query_id",
            "neighbor_id",
            cosine(F.col("q_emb"), F.col("c_emb")).alias("cos_raw"),
        )
    )
    return _top_k(scored, k)


def _deterministic_planes(n_planes: int) -> list[list[float]]:
    """Pseudo-random unit-free hyperplanes of EMBED_DIM components,
    derived from md5 — identical on every run/machine (no RNG state,
    driver computes constants once)."""
    planes = []
    for p in range(n_planes):
        row = []
        for i in range(EMBED_DIM):
            digest = hashlib.md5(f"plane:{p}:{i}".encode()).digest()
            (u,) = struct.unpack(">I", digest[:4])
            row.append((u / 2**32) * 2.0 - 1.0)
        planes.append(row)
    return planes


def bucket_keys(emb: DataFrame, n_planes: int = 16) -> DataFrame:
    """Sign-random-projection bucket key per vector: an n_planes-bit int
    (sign of the dot product with each deterministic hyperplane).
    Map-only — no shuffle; the joins downstream are where data moves.

    r14 (guide §4.2): the per-plane dots run in an Arrow-vectorized
    NumPy kernel (mapInArrow over (id, embedding)) — the plane loop
    accumulates ``acc = acc + E[:, i] * plane[i]`` in the SAME IEEE
    mul-then-add left-fold order as the HOF ``dot()``, and float32
    embeddings widen to float64 exactly as the JVM cast does, so every
    bucket value is bit-identical to the zip_with/aggregate form
    (tests/test_vectorized_pairs.py asserts equality against the fold
    on fixture + edge rows).

    Degenerate rows keep the fold's semantics exactly (pytest-pinned):
    under zip_with a NULL vector, a NULL element, or a length != EMBED_DIM
    yields a NULL dot (NULL dominates the fold), so every plane bit is
    0 and the bucket is 0 — `_dense_rows` leaves those rows out. A NaN
    ELEMENT, by contrast, makes every dot NaN, and Spark's comparison
    semantics order NaN above every value, so the fold sets every bit:
    the kernel mirrors that with ``(acc > 0) | isnan(acc)``."""
    import numpy as np
    import pyarrow as pa

    planes = np.array(_deterministic_planes(n_planes), dtype=np.float64)

    def score(batches):
        for batch in batches:
            ok, E = _dense_rows(batch.column(1), EMBED_DIM)
            vb = np.zeros(len(E), dtype=np.int64)
            for p in range(n_planes):
                acc = np.zeros(len(E), dtype=np.float64)
                for i in range(EMBED_DIM):
                    # left fold: mul then add, the dot() IEEE order
                    acc = acc + E[:, i] * planes[p, i]
                # Spark orders NaN above every double: NaN dot -> bit 1
                vb |= ((acc > 0) | np.isnan(acc)).astype(np.int64) << p
            buckets = np.zeros(batch.num_rows, dtype=np.int64)
            buckets[ok] = vb
            yield pa.RecordBatch.from_arrays(
                [batch.column(0), pa.array(buckets, type=pa.int64())],
                names=["vec_id", "bucket"],
            )

    schema = T.StructType(
        [
            T.StructField("vec_id", emb.schema["vec_id"].dataType),
            T.StructField("bucket", T.LongType()),
        ]
    )
    return fan_out(emb).select("vec_id", "embedding").mapInArrow(score, schema)


def lsh_bucket_candidates(emb: DataFrame) -> DataFrame:
    """16-plane bucket_keys + per-bucket population (the reporting form:
    lets a caller inspect the candidate-set size the bucket join would
    produce). Internal consumers use bucket_keys directly and skip the
    window shuffle this count costs."""
    keyed = bucket_keys(emb)
    w = W.partitionBy("bucket")
    return keyed.select(
        "vec_id", "bucket", F.count(F.lit(1)).over(w).alias("bucket_size")
    )


def lsh_topk_cosine(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    n_planes: int = 8,
    multi_probe: bool = False,
) -> DataFrame:
    """ANN top-k: LSH bucket join for candidates, exact cosine re-rank.

    Recall < 1 by construction (bucket collisions only); raise recall by
    lowering n_planes (bigger buckets) or multi_probe=True, which also
    probes every bucket at Hamming distance 1 from the query's bucket
    (the n_planes near-miss buckets — a vector near a hyperplane falls
    on either side with near-equal probability, so flipping one bit
    recovers exactly those borderline misses at (n_planes+1)x the
    candidate lookups, corpus state unchanged).
    """
    qb = bucket_keys(queries, n_planes).select(
        F.col("vec_id").alias("query_id"), "bucket"
    )
    if multi_probe:
        probes = F.array(
            F.col("bucket"), *[F.col("bucket").bitwiseXOR(1 << p) for p in range(n_planes)]
        )
        qb = qb.select("query_id", F.explode(probes).alias("bucket"))
    cb = bucket_keys(corpus, n_planes).select(
        F.col("vec_id").alias("neighbor_id"), "bucket"
    )
    return _rerank(qb.join(cb, "bucket"), queries, corpus, k)


def embedding_near_dup_pairs(
    emb: DataFrame,
    threshold: float = 0.95,
    n_planes: int = 8,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the vector twin of MinHash
    text dedup): LSH buckets generate candidates, exact cosine keeps
    pairs >= threshold.

    High-cosine pairs collide in sign-projection buckets with
    probability (1 - theta/pi)^n_planes, so near-identical vectors
    (theta ~ 0) are found with near-certainty while the bucket join stays
    O(sum(bucket^2)). Raise recall with fewer planes or multi-probe.

    r14 (guide §4.2 / §2.4): the within-bucket pair stage runs in the
    Arrow-vectorized NumPy kernel (within_cell_near_pairs, the q154
    machinery) instead of a bucket SELF-JOIN scoring one interpreted
    HOF dot per candidate pair. The kernel replays the identical IEEE
    left-fold dot and divides by the same precomputed norms, so every
    emitted cos_raw double is bit-identical; the kernel's guard is the
    largest double strictly BELOW `threshold`, and the caller-visible
    cutoff stays this exact JVM filter (``cos_raw >= threshold``), so
    threshold decisions never leave the JVM. Plan effect: the keyed
    set crosses ONE bucket exchange into the grouped kernel instead of
    TWO self-join exchanges, and the persist the self-join needed is
    gone (the keyed set now has a single consumer). Contract notes
    (shared with q154's use, pytest-pinned in
    tests/test_vectorized_pairs.py): ids must be integral (they ride
    the kernel as int64), NULL/ragged/NULL-element vectors never pair
    (their cosine was NULL in the join form), and a zero-norm 0/0 pair
    — impossible for real embeddings — would yield +Infinity here
    where ANSI mode raised DIVIDE_BY_ZERO in the join form.
    """
    # The L2 norm is precomputed ONCE PER VECTOR — computing cosine()
    # per pair would redo both norms for every candidate pair (a vector
    # in a k-vector bucket pays its norm k-1 times).
    dbl = as_double(F.col("embedding"))
    b = (
        bucket_keys(emb, n_planes)
        .join(
            emb.select(
                F.col("vec_id"),
                dbl.alias("_emb"),
                F.sqrt(dot(dbl, dbl)).alias("_norm"),
            ),
            "vec_id",
        )
        .select(F.col("vec_id").alias("_id"), "bucket", "_emb", "_norm")
    )
    pairs = within_cell_near_pairs(
        b,
        cos_guard=math.nextafter(threshold, -math.inf),
        id_col="_id",
        cell_col="bucket",
        vec_col="_emb",
        norm_col="_norm",
    )
    return (
        pairs.filter(F.col("cos_raw") >= threshold)
        .select(
            F.col("id_a").alias("vec_id_a"),
            F.col("id_b").alias("vec_id_b"),
            F.round("cos_raw", 6).alias("cosine"),
        )
        .distinct()
    )


def ivf_topk_cosine(
    queries: DataFrame, corpus: DataFrame, n_iterations: int = 0
) -> DataFrame:
    """IVF (inverted-file) ANN top-5: partition the corpus into 16
    Voronoi cells around centroids; queries search only their 4
    nearest cells.

    The centroids are `kmeans_centroids(corpus, 16, n_iterations)`.
    With the default n_iterations=0 they are its deterministic init
    sample (the 16 vectors with the smallest md5(id) — a hash-ordered
    top-k, so md5 shuffles the ids uniformly and TakeOrderedAndProject
    picks the sample with per-partition partial top-k: no global sort, no count(), no driver
    action; md5 is cross-engine, so the oracle selects the same
    centroids). With n_iterations >= 1 they are Lloyd-trained: on
    clustered corpora training is what makes IVF competitive (cells
    track the data's modes); on near-uniform data it reshapes cells
    without a guaranteed recall win. Either way the partition/probe/
    re-rank machinery is the same; a trained model arrives
    localCheckpointed, so its two consumers below ship the model
    instead of re-running the Lloyd lineage.
    Scale: corpus assignment is a broadcast-centroid map stage; the
    search join touches 4/16 of the corpus per query.
    """
    centroids = kmeans_centroids(corpus, 16, n_iterations)
    # corpus side: map-side argmax, no (n x m) shuffle. The float32
    # embeddings are pre-cast to double ONCE per row (r14, guide §1.2),
    # so the per-centroid dots skip the m identity casts — same ops
    # applied once, bit-identical scores
    corpus_cells = assign_argmax_cosine(
        fan_out(corpus).select("vec_id", as_double(F.col("embedding")).alias("_ed")),
        "_ed",
        centroids,
    ).select(F.col("vec_id").alias("neighbor_id"), "centroid_id")
    scored = (
        queries.select("vec_id", "embedding")
        .crossJoin(F.broadcast(centroids))
        .select(
            F.col("vec_id").alias("query_id"),
            F.col("centroid_id"),
            cosine(F.col("embedding"), F.col("c_emb")).alias("c_cos"),
        )
    )
    w = W.partitionBy("query_id").orderBy(F.desc("c_cos"), F.asc("centroid_id"))
    q_cells = (
        scored.withColumn("_cr", F.row_number().over(w))
        .filter(F.col("_cr") <= 4)
        .select("query_id", "centroid_id")
    )
    return _rerank(q_cells.join(corpus_cells, "centroid_id"), queries, corpus, 5)


def _lloyd_models(corpus: DataFrame, n_centroids: int):
    """The one Lloyd loop: yields the init model, then the model after
    each Lloyd iteration, without end.

    - the init model is the md5-hash-ordered top-k sample (no RNG
      state, reproducible anywhere), left lazy: it is a limit-m plan,
      cheap to re-run, and an unused generator costs nothing;
    - each later model is `_lloyd_step` of the one before, after an
      eager localCheckpoint: it is m tiny rows, and iteration i+1
      broadcasts iteration i's result — without the checkpoint that
      broadcast would re-execute the whole prior Lloyd lineage, so
      each step is trained once and the model is shipped.

    Models are (centroid_id, c_emb: array<double>)."""
    model = (
        corpus.orderBy(F.md5(F.col("vec_id").cast("string")), F.col("vec_id"))
        .limit(n_centroids)
        .select(F.col("vec_id").alias("centroid_id"), as_double(F.col("embedding")).alias("c_emb"))
    )
    yield model
    vecs = fan_out(corpus).select(as_double(F.col("embedding")).alias("_e"))
    while True:
        model = _lloyd_step(vecs, model).localCheckpoint(eager=True)
        yield model


def _moves(new: DataFrame, old: DataFrame) -> DataFrame:
    """Per-centroid largest component movement (`_move`) between two
    models, over the centroids live in both."""
    return (
        new.alias("n")
        .join(old.alias("o"), "centroid_id")
        .select(
            F.array_max(
                F.zip_with("n.c_emb", "o.c_emb", lambda a, b: F.abs(a - b))
            ).alias("_move")
        )
    )


def kmeans_centroids(
    corpus: DataFrame,
    n_centroids: int = 16,
    n_iterations: int = 2,
) -> DataFrame:
    """Spherical-k-means-style centroid training, fully deterministic:

    - init = the md5-hash-ordered top-k sample (`_lloyd_models`; what
      ivf_topk_cosine uses at n_iterations=0);
    - each Lloyd iteration assigns every vector to its argmax-cosine
      centroid (broadcast map stage) and recomputes per-cluster
      component means with the DECIMAL-exact sum pattern
      (functions/compare.py), so the trained centroids are
      order-independent — the same doubles on any partitioning, any
      engine. Normalization is skipped on purpose: cosine ranking is
      scale-invariant, so the un-normalized mean ranks identically.
    - FIXED iteration count (no convergence test): determinism and a
      bounded plan beat a data-dependent loop for a pipeline stage.

    Scale: per iteration one broadcast of m centroids + one map-side-
    combined aggregation of m x dim decimal sums. Clusters that win no
    vectors drop out (standard Lloyd behavior, mirrored by the oracle).
    Returns (centroid_id, c_emb: array<double>).
    """
    return next(islice(_lloyd_models(corpus, n_centroids), n_iterations, None))


def _lloyd_step(vecs: DataFrame, cents: DataFrame) -> DataFrame:
    """One Lloyd iteration: argmax-cosine assignment (broadcast map
    stage) + per-cluster component means.

    Component means go via posexplode + (centroid, position) groupBy
    instead of dim wide aggregate expressions: the expression tree
    stays O(1) in dim (a 64-agg projection costs seconds of
    analysis/codegen per iteration and wouldn't survive dim=4096).
    Decimal-exact sums keep the means order-independent; the array is
    rebuilt position-sorted, so the result is bit-identical to the
    wide form. Assignment is the map-side argmax fold
    (assign_argmax_cosine) — no (n x m) shuffle per iteration. `vecs`
    carries only the `_e` column: the kernel is an opaque boundary (no
    column pruning through mapInArrow — guide §4.1)."""
    assigned = assign_argmax_cosine(vecs, "_e", cents).select("centroid_id", "_e")
    comp = assigned.select("centroid_id", F.posexplode("_e").alias("_pos", "_val"))
    means = comp.groupBy("centroid_id", "_pos").agg(
        (
            F.sum(F.col("_val").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("_mean")
    )
    return means.groupBy("centroid_id").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("_pos", "_mean"))),
            lambda s: s["_mean"],
        ).alias("c_emb")
    )


def kmeans_training_trajectory(
    corpus: DataFrame,
    n_centroids: int = 8,
    n_iterations: int = 2,
) -> DataFrame:
    """Per-iteration k-means convergence audit: for each Lloyd
    iteration, the number of live centroids (clusters that won >= 1
    vector — losers drop out, standard Lloyd) and the largest
    per-component centroid movement vs the previous iteration's model.

    This is the training-run health check a 100-TB pipeline logs every
    round: movement trending to zero says the model rested; a live-count
    drop says cells collapsed. Built entirely from bounded model-sized
    DataFrames (m rows per model, from the same `_lloyd_models` loop as
    kmeans_centroids), so the audit itself is a union of m-row
    aggregates — no data-sized collect anywhere. The movement doubles
    come from the same decimal-exact means the oracle replays, so the
    whole trajectory sits under the value-hash gate.

    Returns (iteration int, n_live bigint, max_move double round 6)."""
    models = islice(_lloyd_models(corpus, n_centroids), n_iterations + 1)
    return reduce(
        DataFrame.unionByName,
        [
            _moves(cur, prev).agg(
                F.lit(it).cast("int").alias("iteration"),
                F.count(F.lit(1)).cast("bigint").alias("n_live"),
                F.round(F.max("_move"), 6).alias("max_move"),
            )
            for it, (prev, cur) in enumerate(pairwise(models), 1)
        ],
    )


def kmeans_centroids_converged(
    corpus: DataFrame,
    n_centroids: int = 16,
    tol: float = 1e-6,
    max_iterations: int = 20,
) -> tuple[DataFrame, int]:
    """Lloyd training run to CONVERGENCE: iterate the `_lloyd_models`
    loop until the largest per-component centroid movement drops below
    `tol` (or `max_iterations` caps the loop). The convergence test is
    one driver-side SCALAR per iteration — the same bounded-collect
    pattern as the connected-components fixpoint (cluster.py): an
    aggregate of m centroids, never data. Each iteration's centroids
    are localCheckpoint'ed (they are m tiny rows) so the loop's
    lineage doesn't stack Lloyd steps into one unbounded plan.

    Unlike the fixed-count `kmeans_centroids` (whose bounded plan the
    q96 oracle replays exactly), the data-dependent trip count here is
    for library use — pipelines that want trained-to-rest centroids
    and accept a driver round-trip per iteration.

    Returns (centroids DataFrame, iterations actually run)."""
    models = _lloyd_models(corpus, n_centroids)
    cents = next(models)
    for it in range(1, max_iterations + 1):
        prev, cents = cents, next(models)
        movement = _moves(cents, prev).agg(F.max("_move")).collect()[0][0]
        if movement is not None and movement < tol:
            return cents, it
    return cents, max_iterations


# Row-stripe height of the within_cell_near_pairs Gram matrix: bounds a
# kernel call's memory at _BLOCK_ROWS x cell doubles.
_BLOCK_ROWS = 4096


def within_cell_near_pairs(
    cells: DataFrame,
    cos_guard: float,
    id_col: str = "vec_id",
    cell_col: str = "cid",
    vec_col: str = "_e",
    norm_col: str = "_n",
) -> DataFrame:
    """All ordered within-cell pairs (id_a < id_b) whose precomputed-norm
    cosine EXCEEDS `cos_guard`, scored by an Arrow-vectorized NumPy
    kernel (guide §4.2) that reproduces the HOF fold bit-for-bit.

    Returns (id_a, id_b, cos_raw double). `cos_guard` is a coarse
    vectorized prefilter, NOT the semantic threshold: callers pass a
    guard strictly below their real cutoff and apply the EXACT
    threshold expression (e.g. ``F.round(cos_raw, 6) >= tau``) in Spark
    on the returned rows, so the decision semantics — including Java
    BigDecimal rounding — never leave the JVM. Only near/above-guard
    pairs cross the Python->JVM boundary.

    Bit-exactness of cos_raw: the Gram accumulation runs as dim
    sequential vectorized steps, ``acc = acc + E[:, k] * E[:, k].T``,
    so each pair's dot is the identical IEEE mul-then-add left fold the
    HOF ``dot()`` performs (((0 + a0*b0) + a1*b1) + ...); the divisor
    is ``norm_col[i] * norm_col[j]`` — the caller's own precomputed
    doubles — multiplied then divided exactly as the column expression
    ``dot / (na * nb)``. Verified value-equal against the HOF join form
    by tests/test_vectorized_pairs.py and by the unchanged q154 oracle.

    Degenerate rows behave as the HOF join form does (pytest-pinned):
    a NULL vector, a vector with NULL elements, or a ragged length
    gives a NULL cosine in the join form — NULL never passes a
    threshold — so `_dense_rows` excludes such rows (a cell's dim is
    the length of its first non-NULL vector). NaN cosines (NaN
    elements, zero-norm 0/0) are EMITTED **as +Infinity**: Spark's
    comparison semantics order NaN above every double, so a NaN pair
    passes any threshold filter, and +Infinity passes every
    ``round(cos_raw, 6) >= tau`` exactly as NaN does (Spark's round is
    the identity on NaN/Infinity; the DuckDB oracle's NaN likewise
    orders above every threshold). Callers that copy cos_raw into
    OUTPUT columns therefore must not rely on NaN pairs — q154
    consumes only the ids. Two divergences from the join form, both
    out of contract: vectors sharing the same NON-standard length
    would dot normally there but are excluded here (cells are
    fixed-dim by construction), and a zero-norm 0/0 pair RAISES
    DIVIDE_BY_ZERO there under ANSI mode while this kernel keeps the
    oracle's NaN-passes behavior.

    Scale: cells arrive via a groupBy(cell) applyInArrow — the
    quadratic term stays bounded per cell exactly as in the self-join
    form, and the Gram matrix is computed in `_BLOCK_ROWS`-row stripes
    so memory is O(_BLOCK_ROWS x cell), never O(cell^2). One cell must
    fit a worker's memory as (n x dim) doubles — the SemDeDup cell-size
    cap (SCALE.md hot-bucket doctrine) is what bounds n at corpus scale, for
    this kernel and the self-join form alike.
    """
    import numpy as np
    import pyarrow as pa

    guard = float(cos_guard)

    def score(table):
        ok, E = _dense_rows(table.column(vec_col).combine_chunks())
        ids = table.column(id_col).to_numpy()[ok]
        norms = table.column(norm_col).to_numpy().astype(np.float64)[ok]
        # id-sorted so i < j in matrix order <=> id_a < id_b
        order = np.argsort(ids, kind="stable")
        E, ids, norms = E[order], ids[order], norms[order]
        n = len(ids)
        out_a, out_b, out_c = [], [], []
        for lo in range(0, n, _BLOCK_ROWS):
            hi = min(lo + _BLOCK_ROWS, n)
            acc = np.zeros((hi - lo, n), dtype=np.float64)
            for k in range(E.shape[1]):
                # left fold: mul then add, same IEEE sequence as dot()
                acc = acc + E[lo:hi, k:k + 1] * E[None, :, k]
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = acc / (norms[lo:hi, None] * norms[None, :])
            # NaN cosines pass every threshold in Spark; they are
            # emitted as +Infinity, which passes the same filters
            # (docstring)
            ii, jj = np.nonzero((cos > guard) | np.isnan(cos))
            upper = (lo + ii) < jj  # strict upper triangle: id_a < id_b
            ii, jj = ii[upper], jj[upper]
            vals = cos[ii, jj]
            out_a.append(ids[lo + ii])
            out_b.append(ids[jj])
            out_c.append(np.where(np.isnan(vals), np.inf, vals))
        return pa.table(
            {
                "id_a": pa.array(np.concatenate(out_a) if out_a else [], pa.int64()),
                "id_b": pa.array(np.concatenate(out_b) if out_b else [], pa.int64()),
                "cos_raw": pa.array(np.concatenate(out_c) if out_c else [], pa.float64()),
            }
        )

    schema = T.StructType(
        [
            T.StructField("id_a", T.LongType()),
            T.StructField("id_b", T.LongType()),
            T.StructField("cos_raw", T.DoubleType()),
        ]
    )
    return (
        cells.select(cell_col, id_col, vec_col, norm_col)
        .groupBy(cell_col)
        .applyInArrow(score, schema)
    )
