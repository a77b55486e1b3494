"""Wave-65 catalog entries (plans/llm_ops64.py): python replays of the
Little's-law identity, the systematic-sample bias, and the temporal
contract."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops64  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops64 import _SYS_K
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def _epoch_day(ts):
    import datetime

    return (ts.date() - datetime.date(1970, 1, 1)).days


def test_littles_law_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT o.o_orderpriority, o.o_orderkey,
               CAST(o.o_orderdate AS TIMESTAMP), CAST(l.l_shipdate AS TIMESTAMP)
        FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        """
    ).fetchall()
    iv: dict[tuple[str, int], list[int]] = {}
    for pri, okey, od, sd in rows:
        s = _epoch_day(od)
        e = max(_epoch_day(sd) + 1, s + 1)
        cur = iv.get((pri, okey))
        if cur is None:
            iv[(pri, okey)] = [s, e]
        else:
            cur[1] = max(cur[1], e)
    out = {
        r.priority: r
        for r in _REGISTRY["q435_littles_law_flow_identity"].fn(spark, SF_DIR).collect()
    }
    pris = {pri for pri, _ in iv}
    assert set(out) == pris
    for pri in pris:
        ivs = [v for (p, _), v in iv.items() if p == pri]
        n = len(ivs)
        dur = sum(e - s for s, e in ivs)
        lo = min(s for s, _ in ivs)
        hi = max(e for _, e in ivs)
        # direct WIP integration over every day of the horizon
        wip_area = sum(
            sum(1 for s, e in ivs if s <= d < e) for d in range(lo, hi)
        )
        r = out[pri]
        assert (r.n_orders, r.horizon_days) == (n, hi - lo)
        assert (r.sum_duration_days, r.wip_day_units) == (dur, wip_area)
        assert wip_area == dur  # Little's identity itself
        assert r.identity_ok == 1
        assert r.lambda_micro == n * 1_000_000 // (hi - lo)
        assert r.w_milli == dur * 1000 // n
        assert r.l_milli == wip_area * 1000 // (hi - lo)


def test_systematic_sample_python_replay(spark, duck):
    from decimal import Decimal

    rows = duck.sql("SELECT o_orderkey, o_totalprice FROM orders").fetchall()
    per: dict[int, list[int]] = {}
    for k, p in rows:
        cents = int(
            Decimal(repr(p)).quantize(Decimal("0.01"), rounding="ROUND_HALF_UP")
            * 100
        )
        per.setdefault(k % _SYS_K, []).append(cents)
    pop_sum = sum(sum(v) for v in per.values())
    n_pop = sum(len(v) for v in per.values())
    pop_mean_milli = pop_sum * 1000 // n_pop
    out = {
        r.sample_offset: r
        for r in _REGISTRY["q436_systematic_sample_bias"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(per)
    for off, cents in per.items():
        r = out[off]
        samp_mean_milli = sum(cents) * 1000 // len(cents)
        assert (r.n_sample, r.samp_mean_milli) == (len(cents), samp_mean_milli)
        assert r.pop_mean_milli == pop_mean_milli
        assert r.bias_ppm == abs(samp_mean_milli - pop_mean_milli) * 1_000_000 // (
            pop_mean_milli
        )
        # a dense keyspace interleave is a near-unbiased design: every
        # offset's sample mean sits within 10% of the population mean
        assert r.bias_ppm < 100_000


def test_temporal_integrity_catches_fixture_anomaly(spark, duck):
    rows = duck.sql(
        """
        SELECT o.o_orderstatus,
               DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE))
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    per: dict[str, list[int]] = {}
    for st, lead in rows:
        per.setdefault(st, []).append(lead)
    out = {
        r.o_orderstatus: r
        for r in _REGISTRY["q437_temporal_integrity_audit"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(per)
    total_viol = 0
    for st, leads in per.items():
        viol = sum(1 for x in leads if x < 0)
        total_viol += viol
        r = out[st]
        assert (r.n_items, r.n_ship_before_order) == (len(leads), viol)
        assert r.violation_ppm == viol * 1_000_000 // len(leads)
        assert (r.min_lead_days, r.max_lead_days) == (min(leads), max(leads))
    # the audit's reason to exist: this fixture REALLY violates the
    # orderdate <= shipdate contract for a large share of lineitems
    assert total_viol > 0
