"""LLM-ops wave 72 (staged round 14, promoted round 16): six engine
surfaces a fresh 0-hit grep of the 462-entry catalog confirmed
uncovered —

- q463: the map HIGHER-ORDER-FUNCTION family (transform_keys /
  transform_values / map_zip_with / map_filter) — q38-q42 cover array
  HOFs and map construction; these are the map-rewriting lambdas.
  Outputs are scalar extractions / counts, and the oracle replays
  each one as CLOSED-FORM arithmetic over the base columns the map
  was built from (the q460 doctrine: state what the result must be,
  never reimplement the operator in the oracle engine).
- q464: timestampdiff / timestampadd unit arithmetic — the JDBC-ish
  escape-function surface beyond q459's interval family. The MONTH
  unit is the divergence trap: Spark counts FULL months elapsed
  (Jan 31 -> Feb 28 = 0) while DuckDB's date_diff counts month
  BOUNDARIES crossed (= 1), so the oracle replays the full-month
  rule closed-form from y/m/d parts (equal time-of-day on both
  endpoints by construction makes day-of-month the only tiebreak);
  DAY/HOUR replay as exact integer epoch-second division.
- q465: convert_timezone over TIMESTAMP_NTZ — the reference's
  UTC -> Asia/Taipei posture (time_zone.py:15-17, P10) through the
  Spark-4 three-argument form. Asia/Taipei is a fixed +08:00 zone
  across the fixture's 1992-1998 dates (Taiwan last observed DST in
  1979) and 'UTC+05:30' is fixed by definition, so the oracle is
  pure +8h / +5h30m interval arithmetic; a round-trip-identity
  boolean pins the inverse conversion.
- q466: string SURGERY (overlay, format_string, initcap,
  char_length vs octet_length) — q30/q31/q47 cover search/trim/
  split; these are the in-place editors. overlay replays as
  substring concatenation, format_string's %05d as lpad, initcap
  per-word as upper(first)||rest over pre-lowered input (DuckDB has
  no initcap — the replay IS the closed form).
- q467: binary ENCODING bridges (base64/unhex/hex, to_binary,
  encode/decode round-trip, try_to_binary quarantine) — outputs stay
  STRING-typed (hex/base64 render identically in both engines;
  raw BLOB vs bytearray would diverge at the Python compare layer,
  so binary is always an intermediate, never an output column).
  try_to_binary's hex lane quarantines invalid hex characters to
  NULL (Spark PADS odd-length input instead of rejecting it —
  measured), probed per-row with an 'A'/'G' parity suffix.
- q468: bround HALF-EVEN money rounding + the bit family (getbit,
  bit_count, shiftleft/shiftright, factorial). bround rides exact
  cents: DECIMAL(18,2)/100 is exact at result scale 6, and the
  oracle replays banker's rounding as integer div/mod with a parity
  CASE — r<50 down, r>50 up, r=50 to the even quotient. Bit ops
  replay as >>/&/* arithmetic; factorial is capped at 12! (BIGINT,
  DuckDB's HUGEINT cast back down).

Round-13 lint doctrine holds: money rides exact BIGINT cents, nothing
locale-sensitive (date_format/strftime emit digits only), floats
appear nowhere (every output is INT/BIGINT/STRING/BOOLEAN/DATE),
row-level entries bound to deterministic dense-key slices with
presentation ORDER BY o_orderkey.

Reference parity: the reference's pipeline is parse -> scrub ->
reshape -> date bookkeeping (Final_app.py:52-58, 100-104;
time_zone.py:15-17). q465 is its timezone conversion on the engine's
native NTZ type; q466/q467 are the scrub/serialize surface over the
remaining string/binary editors; q463/q464/q468 extend the
engine-native function catalog the same way q457-q462 did.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..sources.tables import load
from .registry import query

_CENTS = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"

_MAP_KEY_CAP = 1024


@query(
    "q463_map_hof_family",
    oracle=f"""
    SELECT o_orderkey,
           CAST(ascii(o_orderstatus) * 2 + 1 AS INT) AS doubled_s,
           CAST(({_CENTS} % 1000) * 5 AS BIGINT) AS zipped_c,
           'C|P|S' AS upper_keys,
           CAST((CASE WHEN ascii(o_orderstatus) % 2 = 0 THEN 1 ELSE 0 END)
              + (CASE WHEN CAST(substring(o_orderpriority, 1, 1) AS INT) % 2 = 0
                      THEN 1 ELSE 0 END)
              + (CASE WHEN ({_CENTS} % 1000) % 2 = 0 THEN 1 ELSE 0 END)
             AS INT) AS n_even
    FROM orders
    WHERE o_orderkey <= {_MAP_KEY_CAP}
    ORDER BY o_orderkey
    """,
    tags=("map", "hof", "functions"),
)
def q463_map_hof_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The map-rewriting lambda family over a map built from typed row
    fields: transform_values (value lambda sees the key — doubled_s =
    2*v + length(k)), map_zip_with against a constant weight map
    (zipped_c = 5 * c), transform_keys (upper-cased keys re-assembled
    sorted, proving the key set survived), and map_filter + cardinality
    (parity count). The oracle replays every output as closed-form
    arithmetic over the base columns — a lambda that saw the wrong
    (k, v) binding or dropped an entry hash-fails. Scale: map-only
    expressions inside whole-stage codegen; one pruned scan, no
    shuffle but the presentation sort."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH b AS (
          SELECT o_orderkey,
                 ascii(o_orderstatus) AS s_ord,
                 CAST(substring(o_orderpriority, 1, 1) AS INT) AS p_dig,
                 {_CENTS} % 1000 AS c_small
          FROM orders WHERE o_orderkey <= {_MAP_KEY_CAP}
        ),
        m AS (
          SELECT o_orderkey,
                 map('s', CAST(s_ord AS BIGINT), 'p', CAST(p_dig AS BIGINT),
                     'c', c_small) AS m1,
                 map('s', CAST(2 AS BIGINT), 'p', CAST(3 AS BIGINT),
                     'c', CAST(5 AS BIGINT)) AS m2
          FROM b
        )
        SELECT o_orderkey,
               CAST(transform_values(m1, (k, v) -> v * 2 + length(k))['s']
                 AS INT) AS doubled_s,
               CAST(map_zip_with(m1, m2, (k, a, b) -> a * b)['c']
                 AS BIGINT) AS zipped_c,
               concat_ws('|', array_sort(map_keys(
                 transform_keys(m1, (k, v) -> upper(k))))) AS upper_keys,
               CAST(cardinality(map_filter(m1, (k, v) -> v % 2 = 0))
                 AS INT) AS n_even
        FROM m ORDER BY o_orderkey
        """
    )


_TS_KEY_CAP = 1024


@query(
    "q464_timestamp_unit_arithmetic",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d1,
             CAST(o_orderdate AS DATE) + CAST((o_orderkey % 397 + 1) AS INT) AS d2,
             o_orderkey % 86400 AS s1,
             (o_orderkey * 7) % 86400 AS s2
      FROM orders WHERE o_orderkey <= {_TS_KEY_CAP}
    ),
    e AS (
      SELECT *,
             date_diff('day', d1, d2) * 86400 + (s2 - s1) AS sec_diff
      FROM b
    )
    SELECT o_orderkey,
           CAST((date_part('year', d2) - date_part('year', d1)) * 12
                + (date_part('month', d2) - date_part('month', d1))
                - CASE WHEN date_part('day', d2) < date_part('day', d1)
                       THEN 1 ELSE 0 END AS BIGINT) AS months_elapsed,
           CAST(sec_diff // 86400 AS BIGINT) AS full_days,
           CAST(sec_diff // 3600 AS BIGINT) AS full_hours,
           strftime(CAST(d1 AS TIMESTAMP) + s1 * INTERVAL 1 SECOND
                    + (o_orderkey % 50) * INTERVAL 1 HOUR,
                    '%Y-%m-%d %H:%M:%S') AS plus_hours
    FROM e ORDER BY o_orderkey
    """,
    tags=("timestamp", "date", "arithmetic"),
)
def q464_timestamp_unit_arithmetic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """timestampdiff/timestampadd unit arithmetic on TIMESTAMP_NTZ.
    The MONTH unit is replayed closed-form under Spark's FULL-months-
    elapsed rule ((Δy*12 + Δm) minus one when the end day-of-month is
    smaller — Jan 31 -> Feb 28 is 0 months, verified divergent from
    DuckDB's boundary-crossing date_diff which says 1), with equal
    time-of-day on both endpoints by construction so day-of-month is
    the only tiebreak. DAY/HOUR are full elapsed periods — exact
    integer epoch-second division on both engines. timestampadd lands
    as a digits-only formatted string (locale-free). Scale: map-only
    expressions, one pruned scan."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH b AS (
          SELECT o_orderkey,
                 CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP_NTZ) AS t1,
                 CAST(date_add(CAST(o_orderdate AS DATE),
                               CAST(o_orderkey % 397 + 1 AS INT))
                      AS TIMESTAMP_NTZ) AS t2,
                 o_orderkey % 86400 AS s1,
                 (o_orderkey * 7) % 86400 AS s2
          FROM orders WHERE o_orderkey <= {_TS_KEY_CAP}
        ),
        t AS (
          SELECT o_orderkey,
                 t1, t2,
                 timestampadd(SECOND, s1, t1) AS ts1,
                 timestampadd(SECOND, s2, t2) AS ts2
          FROM b
        )
        SELECT o_orderkey,
               CAST(timestampdiff(MONTH, t1, t2) AS BIGINT) AS months_elapsed,
               CAST(timestampdiff(DAY, ts1, ts2) AS BIGINT) AS full_days,
               CAST(timestampdiff(HOUR, ts1, ts2) AS BIGINT) AS full_hours,
               date_format(timestampadd(HOUR, o_orderkey % 50, ts1),
                           'yyyy-MM-dd HH:mm:ss') AS plus_hours
        FROM t ORDER BY o_orderkey
        """
    )


_TZ_KEY_CAP = 1024


@query(
    "q465_convert_timezone_ntz",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey,
             CAST(o_orderdate AS DATE) AS d,
             o_orderkey % 86400 AS s
      FROM orders WHERE o_orderkey <= {_TZ_KEY_CAP}
    ),
    t AS (SELECT o_orderkey, CAST(d AS TIMESTAMP) + s * INTERVAL 1 SECOND AS ts
          FROM b)
    SELECT o_orderkey,
           strftime(ts + INTERVAL 8 HOUR, '%Y-%m-%d %H:%M:%S') AS taipei,
           strftime(ts + INTERVAL 19800 SECOND, '%Y-%m-%d %H:%M:%S') AS ist,
           TRUE AS roundtrip_ok
    FROM t ORDER BY o_orderkey
    """,
    tags=("timezone", "timestamp", "functions"),
)
def q465_convert_timezone_ntz(spark: SparkSession, sf_dir: str) -> DataFrame:
    """convert_timezone (the Spark-4 three-argument NTZ form) over the
    reference's own conversion (time_zone.py:15-17: UTC ->
    Asia/Taipei, P10 — q34 covers the from_utc_timestamp spelling).
    Asia/Taipei is fixed +08:00 across the fixture's 1992-1998 dates
    (no DST since 1979) and UTC+05:30 is fixed by definition, so the
    oracle is pure interval arithmetic — a wrong-direction or
    DST-guessing implementation hash-fails on every row. The inverse
    conversion is pinned by a round-trip-identity boolean computed
    engine-side (Taipei -> UTC == source). Outputs are digits-only
    formatted strings (locale-free). Scale: map-only."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH b AS (
          SELECT o_orderkey,
                 timestampadd(SECOND, o_orderkey % 86400,
                   CAST(CAST(o_orderdate AS DATE) AS TIMESTAMP_NTZ)) AS ts
          FROM orders WHERE o_orderkey <= {_TZ_KEY_CAP}
        ),
        c AS (
          SELECT o_orderkey, ts,
                 convert_timezone('UTC', 'Asia/Taipei', ts) AS tp,
                 convert_timezone('UTC', 'UTC+05:30', ts) AS ist_ts
          FROM b
        )
        SELECT o_orderkey,
               date_format(tp, 'yyyy-MM-dd HH:mm:ss') AS taipei,
               date_format(ist_ts, 'yyyy-MM-dd HH:mm:ss') AS ist,
               convert_timezone('Asia/Taipei', 'UTC', tp) = ts AS roundtrip_ok
        FROM c ORDER BY o_orderkey
        """
    )


_STR_KEY_CAP = 1024


@query(
    "q466_string_surgery",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey, o_orderstatus AS s, o_orderpriority AS p,
             lower(o_orderpriority) AS lp
      FROM orders WHERE o_orderkey <= {_STR_KEY_CAP}
    ),
    w AS (
      SELECT *,
             split_part(lp, ' ', 1) AS w1,
             split_part(lp, ' ', 2) AS w2
      FROM b
    )
    SELECT o_orderkey,
           substring(p, 1, 1) || '###' || substring(p, 5) AS patched,
           s || '|' || lpad(CAST(o_orderkey % 100000 AS VARCHAR), 5, '0')
             || '|' || substring(p, 1, 1) AS formatted,
           CASE WHEN w2 = ''
                THEN upper(substring(w1, 1, 1)) || substring(w1, 2)
                ELSE upper(substring(w1, 1, 1)) || substring(w1, 2) || ' '
                     || upper(substring(w2, 1, 1)) || substring(w2, 2)
           END AS titled,
           CAST(length(p) AS INT) AS n_chars,
           CAST(octet_length(encode(p)) AS INT) AS n_bytes
    FROM w ORDER BY o_orderkey
    """,
    tags=("string", "surgery", "functions"),
)
def q466_string_surgery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The in-place string editors q30/q31/q47's search/trim/split
    family does not touch: overlay (chars 2-4 replaced with '###',
    replayed as substring concatenation), format_string's %05d
    (replayed as lpad — the Java format path must agree with pure
    string arithmetic), initcap over pre-lowered priorities (DuckDB
    has no initcap; the per-word upper(first)||rest replay IS the
    closed form, including the '4-not Specified' hyphen-is-not-a-
    word-break case), and char_length vs octet_length pinned equal on
    ASCII input. Scale: map-only expressions in codegen."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderkey,
               overlay(o_orderpriority PLACING '###' FROM 2 FOR 3) AS patched,
               format_string('%s|%05d|%s', o_orderstatus,
                             o_orderkey % 100000,
                             substring(o_orderpriority, 1, 1)) AS formatted,
               initcap(lower(o_orderpriority)) AS titled,
               CAST(char_length(o_orderpriority) AS INT) AS n_chars,
               CAST(octet_length(o_orderpriority) AS INT) AS n_bytes
        FROM orders
        WHERE o_orderkey <= {_STR_KEY_CAP}
        ORDER BY o_orderkey
        """
    )


_BIN_KEY_CAP = 1024


@query(
    "q467_binary_encoding_bridges",
    oracle=f"""
    SELECT o_orderkey,
           to_base64(unhex(md5(o_orderpriority
                               || CAST(o_orderkey AS VARCHAR)))) AS b64_digest,
           hex(o_orderstatus) AS status_hex,
           hex(encode(substring(o_orderpriority, 1, 6))) AS prio_hex,
           o_orderpriority AS roundtrip,
           TRUE AS prio_not_hex,
           o_orderkey % 2 = 0 AS digits_hex_ok
    FROM orders
    WHERE o_orderkey <= {_BIN_KEY_CAP}
    ORDER BY o_orderkey
    """,
    tags=("binary", "encoding", "functions"),
)
def q467_binary_encoding_bridges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The string<->binary bridges: base64 over an unhex'd md5 digest
    (both engines agree on md5 hex, the 16-byte blob, and RFC-4648
    base64), hex of raw strings and of to_binary(..., 'UTF-8') (both
    engines emit uppercase hex), an encode/decode UTF-8 round-trip
    identity, and the try_to_binary hex lane's quarantine: priorities
    contain '-' (never hex — constant TRUE), and a per-row probe
    appends 'A' (hex) or 'G' (not hex) by key parity so both the
    accept and quarantine branches run (the q461 NULL-on-error
    posture on the binary path; NOTE Spark's hex lane PADS odd-length
    input with a leading zero rather than quarantining — measured, so
    a length-parity probe would never fire). BLOB is
    always an intermediate, never an output column — bytes render
    differently per engine at the compare layer. Scale: map-only."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        SELECT o_orderkey,
               base64(unhex(md5(concat(o_orderpriority,
                                       CAST(o_orderkey AS STRING)))))
                 AS b64_digest,
               hex(o_orderstatus) AS status_hex,
               hex(to_binary(substring(o_orderpriority, 1, 6), 'UTF-8'))
                 AS prio_hex,
               decode(encode(o_orderpriority, 'UTF-8'), 'UTF-8') AS roundtrip,
               try_to_binary(o_orderpriority, 'hex') IS NULL AS prio_not_hex,
               try_to_binary(concat(CAST(o_orderkey AS STRING),
                                    CASE WHEN o_orderkey % 2 = 0
                                         THEN 'A' ELSE 'G' END),
                             'hex') IS NOT NULL AS digits_hex_ok
        FROM orders
        WHERE o_orderkey <= {_BIN_KEY_CAP}
        ORDER BY o_orderkey
        """
    )


_BIT_KEY_CAP = 4096


@query(
    "q468_bround_bit_family",
    oracle=f"""
    WITH b AS (
      SELECT o_orderkey, {_CENTS} AS cents
      FROM orders WHERE o_orderkey <= {_BIT_KEY_CAP}
    )
    SELECT o_orderkey,
           CAST(cents // 100
                + CASE WHEN cents % 100 > 50 THEN 1
                       WHEN cents % 100 = 50 AND (cents // 100) % 2 = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS dollars_half_even,
           CAST(cents // 10
                + CASE WHEN cents % 10 > 5 THEN 1
                       WHEN cents % 10 = 5 AND (cents // 10) % 2 = 1 THEN 1
                       ELSE 0 END AS BIGINT) AS tenths_half_even,
           CAST((o_orderkey >> 5) & 1 AS INT) AS bit5,
           CAST(bit_count(o_orderkey) AS INT) AS n_bits,
           CAST((o_orderkey % 1024) * 8 AS BIGINT) AS shifted_left,
           CAST(o_orderkey // 16 AS BIGINT) AS shifted_right,
           CAST(factorial(CAST(o_orderkey % 13 AS INT)) AS BIGINT) AS fact
    FROM b ORDER BY o_orderkey
    """,
    tags=("math", "rounding", "bitwise"),
)
def q468_bround_bit_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banker's rounding on exact money plus the bit-manipulation
    family. bround (HALF_EVEN — the IEEE-754 default the plain ROUND
    family never exercises) rides exact cents: DECIMAL(18,2)/100 is
    exact at result scale 6, and the oracle replays the tie-to-even
    rule as integer div/mod with a parity CASE (r<50 down, r>50 up,
    r=50 to the even quotient; both the 0-dp and 1-dp grains so the
    tie path is hit at two scales). getbit / bit_count / shiftleft /
    shiftright replay as >> & * // arithmetic; factorial is capped at
    12! so the BIGINT cast is lossless on both engines (DuckDB's
    factorial returns HUGEINT). Scale: map-only expressions, one
    pruned scan, no shuffle but the presentation sort."""
    load(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        f"""
        WITH b AS (
          SELECT o_orderkey, {_CENTS} AS cents
          FROM orders WHERE o_orderkey <= {_BIT_KEY_CAP}
        )
        SELECT o_orderkey,
               CAST(bround(CAST(cents AS DECIMAL(18,2)) / 100, 0) AS BIGINT)
                 AS dollars_half_even,
               CAST(bround(CAST(cents AS DECIMAL(18,2)) / 100, 1) * 10
                 AS BIGINT) AS tenths_half_even,
               CAST(getbit(o_orderkey, 5) AS INT) AS bit5,
               CAST(bit_count(o_orderkey) AS INT) AS n_bits,
               CAST(shiftleft(o_orderkey % 1024, 3) AS BIGINT) AS shifted_left,
               CAST(shiftright(o_orderkey, 4) AS BIGINT) AS shifted_right,
               CAST(factorial(CAST(o_orderkey % 13 AS INT)) AS BIGINT) AS fact
        FROM b ORDER BY o_orderkey
        """
    )
