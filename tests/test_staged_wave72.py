"""Wave-72 entries (plans/llm_ops71.py — map HOFs, timestamp unit
arithmetic, convert_timezone NTZ, string surgery, binary encoding
bridges, bround/bit family): pure-Python replays — map lambdas from
base columns, the full-months-elapsed rule in datetime arithmetic,
+08:00 wall-clock shifts, str-slicing surgery, hashlib/base64 digests,
and banker's rounding via integer parity."""

from __future__ import annotations

import base64 as b64mod
import datetime as dt
import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops71  # noqa: F401
from airflow_scraping_etl_tutorial_spark.plans.llm_ops71 import (
    _BIN_KEY_CAP,
    _BIT_KEY_CAP,
    _MAP_KEY_CAP,
    _STR_KEY_CAP,
    _TS_KEY_CAP,
    _TZ_KEY_CAP,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"

STAGED = [
    "q463_map_hof_family",
    "q464_timestamp_unit_arithmetic",
    "q465_convert_timezone_ntz",
    "q466_string_surgery",
    "q467_binary_encoding_bridges",
    "q468_bround_bit_family",
]


def test_audited_rows_present_for_wave72():
    from staged_oracle import load_explain_audit

    assert set(STAGED) <= set(load_explain_audit().AUDITED)


# ---------------------------------------------------------------------------
# Replays
# ---------------------------------------------------------------------------

_CENTS_SQL = "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"


def _orders(duck, cap, cols="o_orderkey, o_orderstatus, o_orderpriority"):
    return duck.sql(
        f"SELECT {cols} FROM orders WHERE o_orderkey <= {cap} "
        "ORDER BY o_orderkey"
    ).fetchall()


def test_map_hofs_python_replay(spark, duck):
    """Every map-lambda output recomputed from the base columns: the
    value lambda saw (k, v) (doubled = 2v + len(k)), zip_with paired
    the right keys (c * 5), transform_keys preserved the key set, and
    map_filter counted exactly the even values."""
    base = _orders(
        duck,
        _MAP_KEY_CAP,
        f"o_orderkey, ascii(o_orderstatus), "
        f"CAST(substring(o_orderpriority, 1, 1) AS INT), {_CENTS_SQL} % 1000",
    )
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[0]].fn(spark, SF_DIR).collect()}
    assert len(got) == len(base)
    for key, s_ord, p_dig, c_small in base:
        r = got[key]
        assert r.doubled_s == 2 * s_ord + 1
        assert r.zipped_c == 5 * c_small
        assert r.upper_keys == "C|P|S"
        assert r.n_even == sum(v % 2 == 0 for v in (s_ord, p_dig, c_small))


def test_timestamp_units_python_replay(spark, duck):
    """Spark's FULL-months-elapsed rule (day-of-month tiebreak at
    equal times), and DAY/HOUR as floored epoch-second division —
    all in python datetime arithmetic."""
    base = _orders(duck, _TS_KEY_CAP, "o_orderkey, o_orderdate")
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[1]].fn(spark, SF_DIR).collect()}
    for key, d1 in base:
        if isinstance(d1, dt.datetime):
            d1 = d1.date()
        d2 = d1 + dt.timedelta(days=key % 397 + 1)
        s1, s2 = key % 86400, (key * 7) % 86400
        r = got[key]
        months = (d2.year - d1.year) * 12 + (d2.month - d1.month) - (
            1 if d2.day < d1.day else 0
        )
        assert r.months_elapsed == months
        sec = (d2 - d1).days * 86400 + (s2 - s1)
        assert r.full_days == sec // 86400
        assert r.full_hours == sec // 3600
        plus = (
            dt.datetime.combine(d1, dt.time())
            + dt.timedelta(seconds=s1, hours=key % 50)
        )
        assert r.plus_hours == plus.strftime("%Y-%m-%d %H:%M:%S")


def test_convert_timezone_python_replay(spark, duck):
    """+08:00 and +05:30 wall-clock shifts replayed with timedelta;
    the engine-side round-trip boolean must be True on every row."""
    base = _orders(duck, _TZ_KEY_CAP, "o_orderkey, o_orderdate")
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[2]].fn(spark, SF_DIR).collect()}
    for key, d in base:
        if isinstance(d, dt.datetime):
            d = d.date()
        ts = dt.datetime.combine(d, dt.time()) + dt.timedelta(
            seconds=key % 86400
        )
        r = got[key]
        assert r.taipei == (ts + dt.timedelta(hours=8)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        assert r.ist == (ts + dt.timedelta(hours=5, minutes=30)).strftime(
            "%Y-%m-%d %H:%M:%S"
        )
        assert r.roundtrip_ok is True


def test_string_surgery_python_replay(spark, duck):
    """overlay as slicing, %05d as zfill, initcap as per-word
    capitalization of the pre-lowered string, and the ASCII
    char==byte length pin."""
    base = _orders(duck, _STR_KEY_CAP)
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[3]].fn(spark, SF_DIR).collect()}
    for key, s, p in base:
        r = got[key]
        assert r.patched == p[0] + "###" + p[4:]
        assert r.formatted == f"{s}|{key % 100000:05d}|{p[0]}"
        assert r.titled == " ".join(
            w[:1].upper() + w[1:] for w in p.lower().split(" ")
        )
        assert r.n_chars == len(p) == r.n_bytes


def test_binary_bridges_python_replay(spark, duck):
    """base64(md5-blob) via hashlib+base64, uppercase hex via
    bytes.hex(), the UTF-8 round-trip, and both branches of the
    hex-lane quarantine probe."""
    base = _orders(duck, _BIN_KEY_CAP)
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[4]].fn(spark, SF_DIR).collect()}
    seen_probe = set()
    for key, s, p in base:
        r = got[key]
        digest = hashlib.md5((p + str(key)).encode()).digest()
        assert r.b64_digest == b64mod.b64encode(digest).decode()
        assert r.status_hex == s.encode().hex().upper()
        assert r.prio_hex == p[:6].encode().hex().upper()
        assert r.roundtrip == p
        assert r.prio_not_hex is True
        assert r.digits_hex_ok is (key % 2 == 0)
        seen_probe.add(r.digits_hex_ok)
    assert seen_probe == {True, False}, "both probe branches must run"


def test_bround_bit_python_replay(spark, duck):
    """Banker's rounding replayed as integer div/mod with the parity
    tie rule (python round() is also half-even on exact halves of
    ints/10), plus the bit family as >>, &, bit_count, and
    factorial."""
    base = _orders(duck, _BIT_KEY_CAP, f"o_orderkey, {_CENTS_SQL}")
    got = {r.o_orderkey: r for r in _REGISTRY[STAGED[5]].fn(spark, SF_DIR).collect()}
    fact = [1] * 13
    for i in range(2, 13):
        fact[i] = fact[i - 1] * i
    seen_tie = False
    for key, cents in base:
        r = got[key]

        def half_even(q: int, rem: int, half: int) -> int:
            if rem > half:
                return q + 1
            if rem == half:
                return q + (q % 2)
            return q

        assert r.dollars_half_even == half_even(cents // 100, cents % 100, 50)
        assert r.tenths_half_even == half_even(cents // 10, cents % 10, 5)
        if cents % 10 == 5:
            seen_tie = True
        assert r.bit5 == (key >> 5) & 1
        assert r.n_bits == bin(key).count("1")
        assert r.shifted_left == (key % 1024) * 8
        assert r.shifted_right == key >> 4
        assert r.fact == fact[key % 13]
    assert seen_tie, "fixture must exercise the exact-half tie path"
