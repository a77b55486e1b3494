"""Wave-70 catalog entries (plans/llm_ops69.py): python replays — the
bitmap distinct vs a set(), the percentiles vs statistics/sorted
indexing, the Luhn checksum vs a hand-rolled python implementation,
width_bucket vs integer division, parse_url vs urllib."""

from __future__ import annotations

import pytest

from airflow_scraping_etl_tutorial_spark.plans import llm_ops69  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops69 import (
    _URL_CAP,
    _WB_HI,
    _WB_N,
    _WB_WIDTH,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def orders_rows(duck):
    return duck.sql(
        "SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "FROM orders ORDER BY 1"
    ).fetchall()


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_bitmap_distinct_python_replay(spark, orders_rows):
    per, glob = {}, set()
    for _, ck, st, _, _ in orders_rows:
        per.setdefault(st, set()).add(ck)
        glob.add(ck)
    got = {
        r.status: (r.n_distinct_custs, r.n_distinct_global)
        for r in _REGISTRY["q452_bitmap_exact_distinct"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (len(v), len(glob)) for s, v in per.items()}


def test_percentiles_python_replay(spark, orders_rows):
    per: dict[str, list[int]] = {}
    for _, _, st, _, cents in orders_rows:
        per.setdefault(st, []).append(cents)

    def disc(v, p):
        # smallest value with cumulative distribution >= p
        import math

        v = sorted(v)
        return v[max(0, math.ceil(p * len(v)) - 1)]

    def cont(v, p):
        v = sorted(v)
        pos = p * (len(v) - 1)
        lo, f = int(pos), pos - int(pos)
        return v[lo] + (v[min(lo + 1, len(v) - 1)] - v[lo]) * f

    got = {
        r.status: (r.p25_cents, r.median_cents, r.p75_cents, r.n_orders)
        for r in _REGISTRY["q453_inverse_distribution_percentiles"]
        .fn(spark, SF_DIR)
        .collect()
    }
    assert got == {
        s: (disc(v, 0.25), cont(v, 0.5), disc(v, 0.75), len(v))
        for s, v in per.items()
    }


def _luhn_ok(s: str) -> bool:
    tot = 0
    for i, ch in enumerate(s):  # i from the left, 1-based parity from right
        d = int(ch)
        if (len(s) - 1 - i) % 2 == 1:
            d = d * 2 - (9 if d >= 5 else 0)
        tot += d
    return tot % 10 == 0


def test_luhn_python_replay(spark, orders_rows):
    want: dict[str, list[bool]] = {}
    for key, _, st, _, _ in orders_rows:
        acct = str(key * 37 + 11).zfill(11) + str(key % 10)
        want.setdefault(st, []).append(_luhn_ok(acct))
    got = {
        r.status: (r.n_valid, r.n_invalid)
        for r in _REGISTRY["q454_luhn_checksum_validation"].fn(spark, SF_DIR).collect()
    }
    assert got == {s: (sum(v), len(v) - sum(v)) for s, v in want.items()}
    # both branches are non-trivially weighted
    assert all(nv > 0 and ni > 0 for nv, ni in got.values())
    # the python replay itself is sane: a known-valid card passes
    assert _luhn_ok("79927398713") and not _luhn_ok("79927398710")


def test_width_bucket_python_replay(spark, orders_rows):
    from collections import defaultdict

    hist = defaultdict(list)
    for _, _, _, _, cents in orders_rows:
        b = _WB_N + 1 if cents >= _WB_HI else cents // _WB_WIDTH + 1
        hist[b].append(cents)
    got = {
        r.bucket: (r.n_orders, r.min_cents, r.max_cents)
        for r in _REGISTRY["q455_width_bucket_histogram"].fn(spark, SF_DIR).collect()
    }
    assert got == {
        b: (len(v), min(v), max(v)) for b, v in hist.items()
    }
    # no overflow bucket at fixture scale, and >1 bucket is populated
    assert _WB_N + 1 not in got and len(got) > 5


def test_parse_url_python_replay(spark, orders_rows):
    from urllib.parse import parse_qs, urlsplit

    want = {}
    for key, _, st, prio, _ in orders_rows:
        if key > _URL_CAP:
            continue
        url = (
            f"https://docs.example.com/{st}/{key}"
            f"?prio={prio.replace(' ', '_')}&k={key}"
        )
        sp = urlsplit(url)
        want[key] = (sp.hostname, sp.path, parse_qs(sp.query)["prio"][0])
    got = {
        r.o_orderkey: (r.host, r.path, r.prio)
        for r in _REGISTRY["q456_parse_url_components"].fn(spark, SF_DIR).collect()
    }
    assert got == want
