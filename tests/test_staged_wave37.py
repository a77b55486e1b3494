"""Wave-37 catalog entries (plans/llm_ops36.py): python replays of the
randomized-response simulation and the bit-width arithmetic, and the
structural invariants (debiasing is exactly 2*obs - n/k, RR noise
actually fires, funnel counts are monotone in the window width, and
packed always beats raw on wide blocks)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops36  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants and python replays
# ---------------------------------------------------------------------------


def test_randomized_response_python_replay(spark, duck):
    """Re-run the md5-coined mechanism in python: observed counts,
    debiased estimates, and the fact that noise actually fired
    (some events reported a type other than their own)."""
    import hashlib

    rows = duck.sql("SELECT event_id, event_type FROM events").fetchall()
    types = sorted({t for _, t in rows})
    k = len(types)
    obs: dict[str, int] = {t: 0 for t in types}
    true: dict[str, int] = {t: 0 for t in types}
    n_flipped = 0
    for eid, t in rows:
        true[t] += 1
        if hashlib.md5(f"{eid}:rr1".encode()).hexdigest()[0] < "8":
            rep = t
        else:
            h = int(hashlib.md5(f"{eid}:rr2".encode()).hexdigest()[:15], 16)
            rep = types[h % k]
            n_flipped += rep != t
        obs[rep] += 1
    assert n_flipped > 0  # the mechanism must actually add noise
    n = len(rows)
    out = (
        _REGISTRY["q349_randomized_response_debias"].fn(spark, SF_DIR).collect()
    )
    assert {r.event_type for r in out} == set(types)
    for r in out:
        assert (r.n_true, r.n_obs) == (true[r.event_type], obs[r.event_type])
        est = 2 * r.n_obs * 1_000_000 - n * 1_000_000 // k
        assert r.est_micro == est
        assert (
            r.abs_err_ppm_of_total
            == abs(est - r.n_true * 1_000_000) // n
        )


def test_bitpacking_widths_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT o_orderkey // 512, COUNT(*),
               MAX(o_orderkey) - MIN(o_orderkey)
        FROM orders GROUP BY 1
        """
    ).fetchall()
    by_bits: dict[int, list] = {}
    for _, cnt, delta in rows:
        bits = 0 if delta == 0 else delta.bit_length()
        by_bits.setdefault(bits, []).append(cnt)
    out = _REGISTRY["q350_bitpacking_benefit"].fn(spark, SF_DIR).collect()
    assert {r.bits for r in out} == set(by_bits)
    for r in out:
        cnts = by_bits[r.bits]
        assert r.n_blocks == len(cnts)
        assert r.n_values == sum(cnts)
        assert r.raw_bits == 64 * r.n_values
        assert r.packed_bits == r.bits * r.n_values + 72 * r.n_blocks
        # 64-bit raw always loses to <=50-bit deltas on full-ish blocks
        assert r.savings_ppm == (
            (r.raw_bits - r.packed_bits) * 1_000_000 // r.raw_bits
        )


def test_funnel_monotone_in_window(spark):
    rows = sorted(
        _REGISTRY["q351_windowed_funnel_sweep"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.window_days,
    )
    assert [r.window_days for r in rows] == [1, 3, 7]
    # a wider window can only admit more users at each stage
    for a, b in zip(rows, rows[1:]):
        assert a.n_viewed == b.n_viewed  # stage-1 is window-free
        assert a.n_clicked_in_window <= b.n_clicked_in_window
        assert a.n_converted_in_window <= b.n_converted_in_window
    for r in rows:
        assert (
            r.n_viewed
            >= r.n_clicked_in_window
            >= r.n_converted_in_window
            >= 0
        )
        assert r.conversion_ppm == (
            r.n_converted_in_window * 1_000_000 // r.n_viewed
        )
