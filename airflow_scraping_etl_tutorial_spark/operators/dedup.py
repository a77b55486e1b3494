"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Scale doctrine shared by all of them:
- never shuffle raw text: hash first (32-hex md5 / 8-byte xxhash), move
  the digest;
- never all-pairs: candidate pairs come from shared keys (content hash,
  LSH band bucket, shared shingle) so join cost is O(sum(bucket^2));
- everything below is built-in column expressions — shingling, hashing,
  banding and Jaccard all stay in the JVM, no UDFs. Higher-order-function
  lambdas run interpreted, once per array element, so no lambda body
  re-derives a per-row value (``text.let`` binds it once).

Hash choice: every hash is md5-derived so the DuckDB oracle reproduces
the VALUES bit-for-bit, not just the shapes. The expensive digest runs
ONCE per shingle/token; the per-seed MinHash family is then derived
from the digest's two 60-bit halves with rotate-XOR mixing (shift/and/
or/xor only — wrap-free under ANSI, and expressible in DuckDB with
HUGEINT shifts). Cost vs the xxhash64-only alternative is ~2x on the
hashing map stage — bought: the whole LSH pipeline (signatures,
candidates, verified pairs) sits under the cross-engine hash gate.

The 60-bit words: conv(substr(md5(s), 1, 15), 16, 10) in Spark ==
CAST('0x' || SUBSTR(MD5(s), 1, 15) AS BIGINT) in DuckDB (verified
identical); 15 hex chars keep the value positive in a signed int64 in
both engines.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.partitioning import fan_out
from .text import let, tokens


# The catalog's shingle-based operators all use 3-word shingles, and
# every MinHash signature has 8 hashes; the oracle SQL replays both.
_N_HASHES = 8
_SHINGLE_SIZE = 3


def exact_dedup(df: DataFrame) -> DataFrame:
    """Exact dedup by content hash: (md5(text), representative doc_id,
    copy count). The groupBy key is the 32-hex digest, so the shuffle
    carries ~40 bytes/row regardless of document size."""
    return df.groupBy(F.md5(F.col("text")).alias("text_md5")).agg(
        F.min("doc_id").alias("keep_doc_id"),
        F.count(F.lit(1)).alias("n_copies"),
    )


def word_shingles(text: Column, k: int) -> Column:
    """Distinct k-word shingles as array<string> (empty when < k words).

    Built with sequence+transform+slice over the words split once per
    row (``let``) — no explode (the array stays row-local until a
    consumer needs rows).
    """
    def shingles(words: Column) -> Column:
        n = F.size(words)
        return F.when(
            n >= k,
            F.array_distinct(
                F.transform(
                    F.sequence(F.lit(1), n - k + 1),
                    lambda i: F.concat_ws(" ", F.slice(words, i, k)),
                )
            ),
        ).otherwise(F.array().cast("array<string>"))

    return let(tokens(text), shingles)


M60 = (1 << 60) - 1


def _hex60(md5_col: Column, start: int) -> Column:
    """60-bit int from 15 hex chars of an md5 hex digest — bit-identical
    to DuckDB's CAST('0x' || SUBSTR(md5, start, 15) AS BIGINT)."""
    return F.conv(F.substring(md5_col, start, 15), 16, 10).cast("long")


def _rotl60(c: Column, r: int) -> Column:
    """Rotate a 60-bit value left by r (0 < r < 60). shiftleft wraps on
    int64 silently (shifts are unchecked even under ANSI); the wrapped
    high bits are masked away, so the result matches DuckDB's HUGEINT
    form ((x::HUGEINT << r) & M60) | (x >> (60 - r))."""
    return (
        F.shiftleft(c, r).bitwiseAND(F.lit(M60)).bitwiseOR(F.shiftright(c, 60 - r))
    )


def mix_rotations(j: int) -> tuple[int, int]:
    """Per-seed rotation amounts for the MinHash family — never 0 and
    pairwise distinct for j < 16 (shared with the oracle SQL builder)."""
    return (7 * j + 3) % 60, (13 * j + 5) % 60


def _mix60(x: Column, v: Column, j: int) -> Column:
    """Seed-j hash of a shingle from its two md5-half words: rotate each
    60-bit half by a seed-specific amount and XOR. Cheap bit math per
    seed — the md5 digest itself is computed once per shingle."""
    rj, sj = mix_rotations(j)
    return _rotl60(x, rj).bitwiseXOR(_rotl60(v, sj))


def shingle_hashes(text: Column, k: int) -> Column:
    """Distinct k-word shingles pre-hashed to a 60-bit int64
    (array<long>), cross-engine reproducible (md5-derived). Hash
    collisions merely merge two shingles (negligible at 2^-60) — the
    standard shingle-fingerprint trade."""
    return F.transform(word_shingles(text, k), lambda s: _hex60(F.md5(s), 1))


def _minhash_cols(xs: Column, vs: Column, n_hashes: int) -> list[Column]:
    """n_hashes MinHash values: min over shingles of the seed-j mix of
    the shingle's two 60-bit md5-half words. min over int64 is a valid
    MinHash; the whole signature is 8*n_hashes bytes per doc.

    One walk per seed, on purpose. A single ``aggregate`` over
    ``arrays_zip(xs, vs)`` with an 8-field accumulator gives the same
    signatures but was slower on q68 at sf0.1 (3 interleaved rounds of
    5 reps, 4 cores): wall 0.276-0.351 s against 0.257-0.305 s for the
    eight ``array_min(zip_with(...))`` walks, executor CPU 604-672 ms
    against 534-605 ms. Settled: do not revisit without a new
    measurement."""
    return [
        F.array_min(F.zip_with(xs, vs, lambda x, v: _mix60(x, v, j))).alias(f"mh_{j}")
        for j in range(n_hashes)
    ]


def shingle_words(df: DataFrame, shingle_size: int) -> DataFrame:
    """(doc_id, xs, vs): per-shingle 60-bit word pairs from one md5 pass.

    Two-step projection on purpose: materializing the md5 array as its
    own column keeps Catalyst from re-inlining the shingle pipeline
    into each derived expression (CollapseProject skips expensive
    multiply-referenced expressions) — measured ~17x at sf0.1."""
    pre = fan_out(df).select(
        F.col("doc_id"),
        F.transform(
            word_shingles(F.col("text"), shingle_size), lambda s: F.md5(s)
        ).alias("m"),
    )
    return pre.select(
        F.col("doc_id"),
        F.transform(F.col("m"), lambda m: _hex60(m, 1)).alias("xs"),
        F.transform(F.col("m"), lambda m: _hex60(m, 17)).alias("vs"),
    )


def minhash_signatures(df: DataFrame) -> DataFrame:
    """Per-document MinHash signature (mh_0..mh_7). Pure map work;
    every value is reproducible in the DuckDB oracle."""
    pre = shingle_words(df, _SHINGLE_SIZE)
    return pre.select(
        F.col("doc_id"), *_minhash_cols(F.col("xs"), F.col("vs"), _N_HASHES)
    )


def minhash_signature_table(df: DataFrame) -> DataFrame:
    """(doc_id, shingles, mh_0..mh_7): the shareable signature table.

    Build once, persist, and pass to several `minhash_near_duplicates`
    calls via ``signatures=`` to band the SAME signatures differently
    (parameter sweeps, tiered thresholds) without re-running the
    shingle+hash pass — at 100 TB the signature pass dominates, so a
    b x r sweep must not pay it per setting. The caller owns the
    persist/unpersist lifecycle: unpersist once every consumer has run
    or has been localCheckpointed."""
    pre = shingle_words(df, _SHINGLE_SIZE)
    return pre.select(
        F.col("doc_id"),
        F.col("xs").alias("shingles"),
        *_minhash_cols(F.col("xs"), F.col("vs"), _N_HASHES),
    )


def minhash_near_duplicates(
    df: DataFrame,
    bands: int = 4,
    jaccard_threshold: float = 0.5,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """MinHash+LSH near-duplicate pairs with exact-Jaccard verification.

    Stages (the MMDS banding scheme):
      1. signature: 8 MinHashes per doc (map-only);
      2. banding: r = 8/bands rows per band -> band bucket key =
         xxhash64(band_idx, mh_i..mh_j); explode to (band, bucket, id);
      3. candidate pairs: self-join on (band, bucket), id_a < id_b,
         distinct — cost O(sum over buckets of bucket^2), never O(n^2);
      4. verify: exact Jaccard on the candidates' shingle sets only.

    Probability a pair with true Jaccard s becomes a candidate:
    1 - (1 - s^r)^bands — tune bands for the recall target.
    """
    if _N_HASHES % bands:
        raise ValueError(f"bands must divide the {_N_HASHES} hashes")
    r = _N_HASHES // bands

    # Two-step projection (see shingle_words) + persist: the LSH
    # self-join and the two shingle-set lookups would otherwise recompute
    # shingling+hashing three times. The exact-Jaccard verify runs on the
    # hashed shingle sets, so raw text never shuffles. Spark tracks the
    # persisted blocks; a run-a-query-then-clean loop frees them with
    # functions.caching.release_session_intermediates once materialized.
    # With ``signatures=`` (a minhash_signature_table result) the
    # build is skipped entirely and the CALLER owns persist/unpersist —
    # the form for plans that must free the table at a point of their
    # own (after an eager localCheckpoint of the pairs, say).
    sig = (
        minhash_signature_table(df).persist()
        if signatures is None
        else signatures
    )

    band_keys = F.array(
        *[
            F.xxhash64(F.lit(b), *[F.col(f"mh_{b * r + i}") for i in range(r)])
            for b in range(bands)
        ]
    )
    buckets = sig.select(
        F.col("doc_id"), F.posexplode(band_keys).alias("band", "bucket")
    )

    left = buckets.alias("a")
    right = buckets.alias("b")
    cand = (
        left.join(
            right,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .distinct()
    )

    sh_a = sig.select(F.col("doc_id").alias("doc_id_a"), F.col("shingles").alias("sh_a"))
    sh_b = sig.select(F.col("doc_id").alias("doc_id_b"), F.col("shingles").alias("sh_b"))
    inter = F.size(F.array_intersect("sh_a", "sh_b"))
    union = F.size("sh_a") + F.size("sh_b") - inter
    out = (
        cand.join(sh_a, "doc_id_a")
        .join(sh_b, "doc_id_b")
        .select(
            "doc_id_a",
            "doc_id_b",
            F.round(inter.cast("double") / union, 6).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= jaccard_threshold)
    )
    return out


# SimHash fingerprint width (see simhash).
_N_BITS = 60


def simhash(df: DataFrame) -> DataFrame:
    """SimHash fingerprint: md5-derived 60-bit per-token hash, bitwise
    vote, sign -> fingerprint bit. Near-dups have low Hamming distance.

    60 bits keep the reassembled fingerprint positive in a signed
    long AND match the 15-hex-char word DuckDB can reproduce, so the
    fingerprint VALUES sit under the oracle hash gate. The bit votes are
    60 aggregate expressions over the exploded token stream —
    partial aggregation collapses them map-side, so the shuffle carries
    60 longs per doc, not per token.
    """
    tok = (
        fan_out(df)
        .select(F.col("doc_id"), F.explode(tokens(F.col("text"))).alias("tok"))
        .withColumn("h", _hex60(F.md5("tok"), 1))
    )
    votes = [
        F.sum(
            (F.shiftright(F.col("h"), b).bitwiseAND(F.lit(1)) * 2 - 1)
        ).alias(f"v_{b}")
        for b in range(_N_BITS)
    ]
    agg = tok.groupBy("doc_id").agg(*votes, F.count(F.lit(1)).alias("n_tokens"))
    fp = None
    for b in range(_N_BITS):
        bit = F.when(F.col(f"v_{b}") > 0, F.lit(1).cast("long")).otherwise(
            F.lit(0).cast("long")
        )
        term = F.shiftleft(bit, b)
        fp = term if fp is None else fp + term
    return agg.select(F.col("doc_id"), fp.alias("simhash"), "n_tokens")


def simhash_near_duplicates(df: DataFrame, max_hamming: int = 3) -> DataFrame:
    """SimHash near-dup pairs via block candidate generation: split the
    fingerprint into (max_hamming+1) blocks — any pair within the Hamming
    radius shares at least one identical block (pigeonhole), so the
    self-join is on block values, never all-pairs."""
    fps = simhash(df)
    n_blocks = max_hamming + 1
    width = _N_BITS // n_blocks
    blocks = F.array(
        *[
            F.shiftright(F.col("simhash"), i * width).bitwiseAND(
                F.lit((1 << width) - 1)
            )
            for i in range(n_blocks)
        ]
    )
    keyed = fps.select(
        F.col("doc_id"), F.col("simhash"), F.posexplode(blocks).alias("blk", "blk_val")
    )
    a, b = keyed.alias("a"), keyed.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.blk") == F.col("b.blk"))
            & (F.col("a.blk_val") == F.col("b.blk_val"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
            F.col("a.simhash").alias("fp_a"),
            F.col("b.simhash").alias("fp_b"),
        )
        .distinct()
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return cand.select(
        "doc_id_a", "doc_id_b", hamming.alias("hamming")
    ).filter(F.col("hamming") <= max_hamming)


def ngram_jaccard_pairs(df: DataFrame) -> DataFrame:
    """Exact 3-gram Jaccard for every pair sharing >= 1 shingle.

    Candidate generation is an inverted-index self-join: explode
    distinct shingles to (shingle, doc_id), join on shingle — pairs
    with zero overlap never materialize. The index join counts the
    common shingles itself, so no second pass over the shingle arrays
    is needed.
    """
    # persist: BOTH sides of the inverted-index self-join read the
    # shingle sets — without it the shingling map runs twice. Freed by
    # the session release path (functions/caching.py).
    # r14 (guide §2.4 "remove shuffles outright"): the per-doc set SIZE
    # rides along the index rows (one extra long per posting) and is
    # recovered per pair with MIN (constant within the pair group), so
    # the two id-keyed size joins of the previous shape — two full
    # exchanges of the pair set at any scale — are gone. jaccard is
    # computed from the same three integers, so values are unchanged.
    sh = fan_out(df).select(
        F.col("doc_id"), shingle_hashes(F.col("text"), _SHINGLE_SIZE).alias("shingles")
    ).persist()
    inv = sh.select(
        F.col("doc_id"),
        F.size("shingles").alias("_n"),
        F.explode("shingles").alias("shingle"),
    )
    a, b = inv.alias("a"), inv.alias("b")
    common = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .groupBy(
            F.col("a.doc_id").alias("doc_id_a"),
            F.col("b.doc_id").alias("doc_id_b"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_common"),
            F.min("a._n").alias("n_a"),
            F.min("b._n").alias("n_b"),
        )
    )
    return common.select(
        "doc_id_a",
        "doc_id_b",
        F.round(
            F.col("n_common").cast("double")
            / (F.col("n_a") + F.col("n_b") - F.col("n_common")),
            6,
        ).alias("jaccard"),
    )


def decontaminate(corpus: DataFrame, eval_df: DataFrame) -> DataFrame:
    """Benchmark decontamination: flag corpus documents that share at
    least one 3-word shingle with any document of a held-out eval set
    (the train/test-overlap scrub every pretraining corpus build runs
    before training).

    Shape: explode each side to 60-bit md5 shingle hashes, equi-join on
    the hash, aggregate hits per corpus document. The eval side is
    reduced to ONE row per distinct shingle hash (with the minimum
    eval-doc id as witness) and is broadcast: benchmark suites are MBs
    while the corpus is the 100 TB side, so contamination checking is a
    map-side broadcast-hash-join over the corpus scan — the corpus
    itself never shuffles, and the shuffled/broadcast payload is 8-byte
    hashes, never text.

    Returns (doc_id, n_shared_ngrams, min_eval_doc) for contaminated
    corpus docs only.
    """

    # Explode the shingles, then hash them: hashing inside the explode
    # (as in shingle_hashes) gives Catalyst a different plan.
    shingle = F.explode(word_shingles(F.col("text"), _SHINGLE_SIZE)).alias("_s")
    h = _hex60(F.md5("_s"), 1).alias("_h")
    eval_hashes = (
        eval_df.select("doc_id", shingle)
        .select("doc_id", h)
        .groupBy("_h")
        .agg(F.min("doc_id").alias("_min_eval_doc"))
    )
    hits = corpus.select("doc_id", shingle).select("doc_id", h).join(
        F.broadcast(eval_hashes), "_h"
    )
    return hits.groupBy("doc_id").agg(
        F.count_distinct("_h").alias("n_shared_ngrams"),
        F.min("_min_eval_doc").alias("min_eval_doc"),
    )


def block_dedup_stats(df: DataFrame, block_words: int = 16) -> DataFrame:
    """Block-level dedup audit — the C4/Dolma LINE-dedup pass for flat
    word streams: split each document into fixed `block_words`-word
    blocks, mark every block occurrence a duplicate unless it is the
    global first occurrence (min (id, position) per block digest), and
    report per-document (n_blocks, n_dup_blocks, dup_block_frac). The
    C4 rule then DROPS the duplicate blocks; the fraction is the audit
    number a pipeline thresholds on.

    Scale: the first-occurrence window shuffles only (16-byte digest,
    id, position) tuples — block text never moves — and the per-doc
    re-agg partial-aggregates on id. Two digest-keyed shuffles of
    ~24 bytes per block at any corpus size."""
    from pyspark.sql import Window as W

    def blocks_of(words: Column) -> Column:
        n_blocks = F.greatest(
            F.ceil(F.size(words) / F.lit(float(block_words))).cast("int"), F.lit(1)
        )
        return F.transform(
            F.sequence(F.lit(0), n_blocks - 1),
            lambda i: F.array_join(
                F.slice(words, i * block_words + 1, block_words), " "
            ),
        )

    blocks = let(tokens(F.col("text")), blocks_of)
    e = df.select("doc_id", F.posexplode(blocks).alias("block_idx", "block"))
    ranked = e.select(
        "doc_id",
        F.row_number()
        .over(W.partitionBy(F.md5("block")).orderBy("doc_id", "block_idx"))
        .alias("rn"),
    )
    dup = F.sum(F.when(F.col("rn") > 1, 1).otherwise(0))
    return ranked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
        dup.cast("bigint").alias("n_dup_blocks"),
        F.round(dup.cast("double") / F.count(F.lit(1)), 6).alias("dup_block_frac"),
    )
