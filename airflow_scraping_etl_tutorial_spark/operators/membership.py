"""Bloom-filter membership sketch: build a bitmap from a key column,
probe candidate keys against it — the incremental-ingest screen.

Why this exists at 100 TB: the cheap way to ask "is this new document
already in the corpus?" is NOT joining the new shard against billions
of stored digests — it is probing a precomputed bitmap sketch of those
digests. An m-bit / k-hash Bloom filter over n keys false-positives at
~(1 - e^(-kn/m))^k and never false-negatives, so the screen partitions
new documents into "definitely new" (skip the expensive path entirely)
and "maybe dup" (the only rows that pay the exact verify join). At
m = 2^33 bits the bitmap is ~1 GiB — broadcastable to every executor —
while the digest set it summarizes is hundreds of GiB.

Spark shape:
- build: one map stage computes the k bit positions per key (md5-derived
  60-bit mixing, the dedup.py hash family — cross-engine reproducible),
  one groupBy(word_idx) with BIT_OR partial aggregation produces the
  bitmap as (word_idx, bits) rows. Only set words materialize, so a
  sparse filter costs O(set bits), not O(m).
- probe: explode the k positions per candidate, key-equality join
  against the broadcast bitmap (never all-pairs), then one
  groupBy(key) checking all k bits hit.

Bit layout: 60 bits per word (word_idx = pos div 60, bit = pos % 60) so
every mask 1<<bit stays in 0..2^59 — positive in a signed int64 in both
Spark and DuckDB (DuckDB's BIGINT << overflow-checks; Spark's wraps;
at <60 neither path wraps, so the oracle replays masks bit-for-bit).

Reference parity: the reference has no membership sketch (its daily
volume is one row — dags/Final_app.py:79-149); this generalizes its
"is this day already loaded?" idempotency gate (insert_data.py:20-104)
to corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .dedup import _hex60, _mix60

WORD_BITS = 60


def _positions(digest: Column, m_bits: int, k_hashes: int) -> list[Column]:
    """k bit positions in [0, m_bits) for a 32-hex md5 digest column:
    seed-j rotate-XOR mix of the digest's two 60-bit halves, mod m."""
    x = _hex60(digest, 1)
    v = _hex60(digest, 17)
    return [(_mix60(x, v, j) % F.lit(m_bits)) for j in range(k_hashes)]


def bloom_bitmap(df: DataFrame, m_bits: int = 65536, k_hashes: int = 4) -> DataFrame:
    """Build the bitmap of the `text` keys: (word_idx BIGINT, bits
    BIGINT) with one row per 60-bit word that has at least one set bit.
    The shuffle carries (word_idx, mask) int64 pairs — never the keys
    themselves."""
    digest = F.md5(F.col("text"))
    pos = F.explode(F.array(*_positions(digest, m_bits, k_hashes))).alias("pos")
    return (
        df.select(pos)
        .select(
            F.expr(f"pos div {WORD_BITS}").cast("bigint").alias("word_idx"),
            F.expr(
                f"shiftleft(cast(1 as bigint), cast(pos % {WORD_BITS} as int))"
            ).alias("mask"),
        )
        .groupBy("word_idx")
        .agg(F.bit_or("mask").alias("bits"))
    )


def bloom_probe(
    probe: DataFrame, bitmap: DataFrame, m_bits: int = 65536, k_hashes: int = 4
) -> DataFrame:
    """Probe the `text` keys against a bitmap: (doc_id, bloom_hit) where
    bloom_hit is 1 iff ALL k bits are set (possible member) and 0
    otherwise (definitely absent). One explode, one key-equality join,
    one groupBy(doc_id) — the join is broadcast (the bitmap is the
    small, bounded side)."""
    digest = F.md5(F.col("text"))
    pos = F.explode(F.array(*_positions(digest, m_bits, k_hashes))).alias("pos")
    probes = probe.select(F.col("doc_id"), pos).select(
        "doc_id",
        F.expr(f"pos div {WORD_BITS}").cast("bigint").alias("word_idx"),
        (F.col("pos") % WORD_BITS).cast("int").alias("bit"),
    )
    hit = F.when(
        F.expr("shiftright(bits, bit)").bitwiseAND(F.lit(1)) == 1, 1
    ).otherwise(0)
    return (
        probes.join(F.broadcast(bitmap), "word_idx", "left")
        .select("doc_id", F.coalesce(hit, F.lit(0)).alias("_hit"))
        .groupBy("doc_id")
        .agg(F.min("_hit").cast("int").alias("bloom_hit"))
    )
