"""Mergeable HyperLogLog machinery, shared by the batch catalog
(plans/llm_ops7.py q215, plans/llm_ops8.py q231, plans/llm_ops26.py
q320) and tests; every map-side and MAX/COUNT/SUM reduction below is
stream-legal, so a stream calls the same functions.

Everything is cross-engine deterministic by construction: 60-bit
md5-derived hashes, exact-integer harmonic denominators (each register
contributes 2^(30-reg), empty buckets 2^30), a shared repr()-text
double literal for the bias constant, and Flajolet's linear-counting
small-range correction with the LN output quantized to DECIMAL(18,6)
(the q166/q199 doctrine) so a last-ulp libm difference cannot flip a
rounded output. The DuckDB twin `SQL_HLL_EST` is the same formula
text; oracles paste it into a grouped SELECT over (reg) rows.

The sketch state — 256 small ints — merges by elementwise MAX across
any partition of the data (partitions, streams, corpora), which is the
whole 100 TB story: cardinality questions become 256-byte exchanges.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

HLL_M = 256
_HLL_ALPHA_M2 = 0.7213 / (1.0 + 1.079 / HLL_M) * HLL_M * HLL_M
HLL_NUM = repr(_HLL_ALPHA_M2 * float(1 << 30))
# In oracle SQL this literal MUST go through CAST('...' AS DOUBLE):
# DuckDB parses a bare decimal-point literal as DECIMAL, whose re-cast
# to double is not guaranteed correctly rounded (the q229 lesson);
# string->double parsing is, and matches Spark's parse of repr() text.


def hll_hash() -> Column:
    """60-bit md5-derived hash of a `tok` column, aliased `hv`."""
    return F.conv(F.substring(F.md5("tok"), 1, 15), 16, 10).cast("long").alias("hv")


def hll_rho() -> Column:
    """Leading-zero rank of the 52 bits above the bucket byte of `hv`."""
    return (
        F.when(F.expr(f"hv div {HLL_M}") == 0, F.lit(53))
        .otherwise(
            F.lit(52) - F.length(F.conv(F.expr(f"hv div {HLL_M}"), 10, 2)) + 1
        )
        .alias("rho")
    )


def hll_bucket_rho(tok_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., tok) -> (keys..., bucket, rho) rows — the map-side
    form of the sketch, valid on batch AND streaming DataFrames (no
    distinct needed: MAX over duplicate tokens is idempotent)."""
    hv = tok_df.select(*keys, hll_hash())
    return hv.select(*keys, (F.col("hv") % HLL_M).alias("bucket"), hll_rho())


def hll_registers(tok_df: DataFrame) -> DataFrame:
    """(tok) -> (bucket, reg, n): the register vector plus the exact
    per-bucket distinct count the q215 audit compares against.

    The sketch state is `reg` alone: register vectors built on any
    partition of the data merge to the whole-data vector by
    elementwise MAX (tested) — `n` is audit bookkeeping and merges
    only for disjoint token sets."""
    r = hll_bucket_rho(tok_df.distinct())
    return r.groupBy("bucket").agg(
        F.max("rho").alias("reg"), F.count(F.lit(1)).alias("n")
    )


def hll_register_max(tok_df: DataFrame, *keys: str) -> DataFrame:
    """(keys..., tok) -> (keys..., bucket, reg): one register vector
    per key group, whose vectors combine by elementwise MAX across any
    group subset (set-union algebra; q231 uses it for vocabulary
    overlap, q320 per sliding window). MAX over duplicate tokens is
    idempotent, so no distinct is needed: on a stream in complete
    mode the aggregate's state IS the sketch."""
    r = hll_bucket_rho(tok_df, *keys)
    return r.groupBy(*keys, "bucket").agg(F.max("rho").alias("reg"))


def hll_estimate_agg() -> Column:
    """Aggregate Column: the HLL cardinality estimate over grouped
    (reg) rows — exact-integer harmonic denominator, shared double
    literal numerator, quantized-LN linear-counting correction below
    2.5m. Use inside groupBy(...).agg(...). Bit-identical to the SQL
    twin SQL_HLL_EST."""
    denom = F.sum(
        F.expr("shiftleft(CAST(1 AS BIGINT), CAST(30 - LEAST(reg, 30) AS INT))")
    ) + F.expr(f"shiftleft(CAST({HLL_M} AS BIGINT) - COUNT(1), 30)")
    raw = F.lit(float(HLL_NUM)) / denom
    used = F.count(F.lit(1))
    lc = F.lit(float(HLL_M)) * (
        F.log(F.lit(float(HLL_M)) / (F.lit(HLL_M) - used))
        .cast("decimal(18,6)")
        .cast("double")
    )
    return F.when((raw < 2.5 * HLL_M) & (used < HLL_M), lc).otherwise(raw)


# DuckDB twin of hll_estimate_agg(): paste into a grouped SELECT over
# (reg) rows. Same formula text both places; the numerator literal goes
# through CAST('...' AS DOUBLE) (see the HLL_NUM note above).
SQL_HLL_RAW = (
    f"CAST('{HLL_NUM}' AS DOUBLE)"
    f" / (SUM(CAST(1 AS BIGINT) << (30 - LEAST(reg, 30)))"
    f" + (({HLL_M} - COUNT(*)) << 30))"
)
SQL_HLL_EST = (
    f"CASE WHEN {SQL_HLL_RAW} < 2.5 * {HLL_M} AND COUNT(*) < {HLL_M}"
    f" THEN {HLL_M} * CAST(CAST(LN(CAST({HLL_M} AS DOUBLE)"
    f" / ({HLL_M} - COUNT(*))) AS DECIMAL(18,6)) AS DOUBLE)"
    f" ELSE {SQL_HLL_RAW} END"
)


# ---------------------------------------------------------------------------
# Count-min sketch machinery (q216)
# ---------------------------------------------------------------------------

CM_D = 4  # hash rows
CM_W = 64  # counters per row


def cm_hash(d: int) -> Column:
    """Counter column of `tok` for hash row d: md5-derived, mod CM_W —
    identical in the DuckDB oracle's replay."""
    return (
        F.conv(
            F.substring(F.md5(F.concat(F.col("tok"), F.lit(f":cm{d}"))), 1, 15),
            16,
            10,
        ).cast("long")
        % CM_W
    )


def cm_cells(tok_df: DataFrame) -> DataFrame:
    """(tok) -> (row, k) counter-cell coordinates, one per hash row —
    the map-side form of the CM sketch; summing cell hits yields the
    counter matrix on batch or streaming input alike."""
    return tok_df.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(d).alias("row"), cm_hash(d).alias("k")
                    )
                    for d in range(CM_D)
                ]
            )
        ).alias("c")
    ).select("c.row", "c.k")


def cm_counters(tok_df: DataFrame) -> DataFrame:
    """(tok) -> (row, k, v): the CM_D x CM_W counter matrix, each cell
    a COUNT of its hits — linear state that merges by + and needs no
    watermark, so a stream in complete mode holds a live matrix that
    upper-bounds every token's frequency seen so far."""
    return cm_cells(tok_df).groupBy("row", "k").agg(F.count(F.lit(1)).alias("v"))


# ---------------------------------------------------------------------------
# Fixed-edge histogram — the fourth mergeable-state shape
# ---------------------------------------------------------------------------


def fixed_bin(value: Column, lo: float, hi: float, n_bins: int) -> Column:
    """Bin index for a FIXED-edge equi-width histogram: floor of the
    subtract-divide, clamped into [0, n_bins-1] (out-of-range values
    land in the edge bins rather than being dropped — a streaming
    ingest cannot re-derive edges, so the edges must tolerate drift).
    The same IEEE subtract/divide/floor runs in the q267/q278 batch
    estimators and their DuckDB oracles, so batch, stream, and oracle
    agree bit-for-bit on the bin of every value."""
    width = (hi - lo) / float(n_bins)
    return F.least(
        F.lit(n_bins - 1),
        F.greatest(F.lit(0), F.floor((value - F.lit(lo)) / F.lit(width))),
    ).cast("int")


def histogram_fixed(
    df: DataFrame, value_col: str, lo: float, hi: float, n_bins: int = 256
) -> DataFrame:
    """(bin, cnt) equi-width histogram with FIXED edges — the
    executor-local structure q278 proves partition-mergeable (counts
    merge by +). Stream-legal as written: on a stream in complete mode
    the state is <= n_bins rows, and a snapshot is the exact histogram
    of everything ingested so far. NULL values are excluded."""
    return (
        df.filter(F.col(value_col).isNotNull())
        .select(fixed_bin(F.col(value_col), lo, hi, n_bins).alias("bin"))
        .groupBy("bin")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


# ---------------------------------------------------------------------------
# AMS second-moment (F2 / self-join size) sketch
# ---------------------------------------------------------------------------

AMS_N_EST = 8


def ams_sign(key: Column, j: int) -> Column:
    """±1 sign hash for AMS estimator j: md5-parity of the key — the
    q314 catalog audit and `ams_sums` (batch or stream) share this
    exact expression, and its DuckDB twin is llm_ops24._sql_sign, so
    batch, stream, and oracle build the identical sketch."""
    return F.when(
        F.conv(
            F.substring(
                F.md5(F.concat(key.cast("string"), F.lit(f":ams{j}"))), 1, 1
            ),
            16,
            10,
        ).cast("int")
        % 2
        == 0,
        1,
    ).otherwise(-1)


def ams_sign_rows(df: DataFrame, key_col: str, n_est: int = AMS_N_EST) -> DataFrame:
    """(key) -> (est, sign) rows, one per estimator per input ROW.
    Because Σ_k s_j(k)·f_k = Σ_rows s_j(key(row)), the AMS state is a
    plain SUM over these rows — LINEAR state that needs no per-key
    frequency table, merges across partitions/streams by +, and is
    valid on batch and streaming DataFrames alike."""
    pairs = F.array(
        *[
            F.struct(
                F.lit(j).alias("est"),
                ams_sign(F.col(key_col), j).alias("sign"),
            )
            for j in range(n_est)
        ]
    )
    return df.select(F.explode(pairs).alias("p")).select("p.est", "p.sign")


def ams_sums(df: DataFrame, key_col: str, n_est: int = AMS_N_EST) -> DataFrame:
    """(est, s) running signed sums — the fifth mergeable-state shape
    (HLL merges by MAX, count-min by +, Bloom by OR, histograms by +;
    AMS counters also merge by +, but estimate a JOIN-size moment:
    each s² is an unbiased estimate of Σ f², audited against the exact
    value by q314). State is n_est integers regardless of stream
    length."""
    return ams_sign_rows(df, key_col, n_est).groupBy("est").agg(
        F.sum("sign").alias("s")
    )
