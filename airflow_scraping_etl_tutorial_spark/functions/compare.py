"""Cross-engine-deterministic aggregate expressions.

A double SUM's last ulp depends on aggregation order, which depends on
partitioning — so ROUND(SUM(double), 2) can flip a .xx5 boundary
between engines OR between two Spark sessions with different shuffle
partitioning (observed: q01 revenue 102470172.545 rounding to .55 vs
.54). These helpers make money aggregates order-independent:

  each term: double -> DECIMAL(18,6)   (deterministic per-term rounding;
                                        a binary double is never exactly
                                        at a 1e-7 tie, so no tie-breaks)
  sum:       exact decimal arithmetic  (associative, order-free)
  output:    ROUND(dec, scale) -> double  (same exact decimal -> same
                                        double in every engine)

Averages divide the exact decimal sum (as double) by the exact count —
one deterministic double division instead of an order-dependent mean.

Integer-valued doubles (quantities, counts) don't need this: their sums
are exact in double up to 2^53. Moment aggregates (stddev/corr) can't
be decimal-summed; they keep documented last-ulp risk.

The oracle-side SQL twins are `ORACLE_SUM` / `ORACLE_MEAN` format
strings so catalog entries stay textually in lockstep.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

DEC = "decimal(18,6)"


def money_sum(col: Column, scale: int = 2) -> Column:
    """Order-independent SUM of a real-valued double column."""
    return F.round(F.sum(col.cast(DEC)), scale).cast("double")


def money_mean(col: Column, scale: int = 6) -> Column:
    """Order-independent mean, rounded HALF-UP at `scale` via EXACT
    decimal arithmetic end to end: with m = SUM(dec)·10^scale (an
    exact integral decimal) and n = COUNT, the half-up quotient is
        q = (m - m%n)/n  +  (1 if 2·(m%n) >= n else 0)
    — modulo, subtraction, and the exact-multiple division are all
    exact in DECIMAL(38,_) in both engines, so no doubles exist before
    the final q/10^scale. This replaces the earlier
    FLOOR(double(m)/double(n) + 0.5) form whose CAST(m AS BIGINT)
    silently wrapped once a group's decimal sum exceeded ~9.2e12 at
    scale 6 (int64 ceiling / 10^6) — Spark's non-ANSI cast nulls/wraps
    where DuckDB's errors, so the engines failed DIFFERENTLY beyond
    the tested fixtures (round-6 ADVICE). The exact form's only bound
    is DECIMAL(38) itself (~3.2e25 at scale 6 after the 10^scale
    shift). Nonnegative domains only (the previous ROUND(sum/count)
    form hit a .5 midpoint at sf0.1 where Spark rounds half-up and
    DuckDB half-to-even: q138's 1545.7828125 → 813 vs 812)."""
    pow10 = 10**scale
    m = F.sum(col.cast(DEC)) * pow10  # integral value, decimal(38,6)
    n = F.count(col).cast("decimal(38,0)")
    r = m % n
    q = ((m - r) / n).cast("bigint") + F.when(
        r + r >= n, F.lit(1)
    ).otherwise(F.lit(0))
    return q.cast("double") / F.lit(float(pow10))


def det_round(col: Column, scale: int) -> Column:
    """Engine-independent HALF-UP rounding of a NONNEGATIVE double:
    FLOOR(x*10^s + 0.5)/10^s in pure IEEE ops. Spark's ROUND rounds
    the SHORTEST DECIMAL REPR half-up while DuckDB rounds numerically;
    they disagree when the binary value and its repr straddle a tie
    (q98 at sf0.1: rms_error 0.000712 vs 0.000711). For signed
    domains use sign-aware: SIGN(x)*FLOOR(ABS(x)*10^s + 0.5)/10^s."""
    p = float(10**scale)
    return F.floor(col * F.lit(p) + F.lit(0.5)).cast("bigint").cast(
        "double"
    ) / F.lit(p)


def det_half_up(col: Column) -> Column:
    """Sign-aware deterministic half-up to the nearest INTEGER:
    FLOOR(x+0.5) for x >= 0, -FLOOR(-x+0.5) otherwise — pure IEEE
    ops, identical on both engines (the signed companion of
    det_round; q98's int8 quantizer is the canonical user)."""
    return F.when(col >= 0, F.floor(col + F.lit(0.5))).otherwise(
        -F.floor(-col + F.lit(0.5))
    )


# DuckDB twins (format with the expression and scale).
ORACLE_SUM = "CAST(ROUND(SUM(CAST(({expr}) AS DECIMAL(18,6))), {scale}) AS DOUBLE)"
# money_mean's twin: the same exact half-up integer quotient, in
# DuckDB's exact int128 (HUGEINT) arithmetic — m//n is truncation,
# equal to floor on the nonnegative domain, +1 when 2·(m%n) >= n.
# No doubles before the final division, no int64 ceiling (the earlier
# CAST(... AS BIGINT) micros form overflowed past ~9.2e12 sums).
ORACLE_MEAN = (
    "(CAST(CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) * {pow10} AS HUGEINT)"
    " // CAST(COUNT({cnt}) AS HUGEINT)"
    " + CASE WHEN 2 * (CAST(SUM(CAST(({expr}) AS DECIMAL(18,6))) * {pow10}"
    " AS HUGEINT) % CAST(COUNT({cnt}) AS HUGEINT))"
    " >= CAST(COUNT({cnt}) AS HUGEINT) THEN 1 ELSE 0 END AS BIGINT)"
    " / CAST({pow10} AS DOUBLE))"
)
