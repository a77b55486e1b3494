"""Wave-51 catalog entries (plans/llm_ops50.py): python replays of the
growth identity, the OLS slope rationals, and the cascade set
arithmetic."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops50  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_growth_identity_exact(spark):
    """Every row satisfies d_rev = volume + price + interaction +
    residual EXACTLY, and the residual is bounded by the two
    truncating means' worst case (n + n_prev micro-units)."""
    rows = _REGISTRY["q393_growth_decomposition"].fn(spark, SF_DIR).collect()
    assert len(rows) >= 2
    months = [r.month for r in rows]
    assert months == sorted(months)
    for r in rows:
        assert (
            r.volume_effect_u + r.price_effect_u + r.interaction_u + r.residual_u
            == r.d_rev_u
        )
        # residual comes only from the two v-mean truncations
        assert abs(r.residual_u) <= 2 * r.n + 2_000_000


def test_growth_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
                 + EXTRACT(MONTH FROM o_orderdate) - 1,
               COUNT(*),
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT)
        FROM orders GROUP BY 1 ORDER BY 1
        """
    ).fetchall()
    out = {r.month: r for r in _REGISTRY["q393_growth_decomposition"].fn(spark, SF_DIR).collect()}
    for (m_p, n_p, rev_p), (m_t, n_t, rev_t) in zip(rows, rows[1:]):
        v_p, v_t = rev_p // n_p, rev_t // n_t
        r = out[m_t]
        assert (r.n, r.rev_u, r.d_rev_u) == (n_t, rev_t, rev_t - rev_p)
        assert r.volume_effect_u == (n_t - n_p) * v_p
        assert r.price_effect_u == n_p * (v_t - v_p)
        assert r.interaction_u == (n_t - n_p) * (v_t - v_p)


def test_elasticity_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT p.p_brand, CAST(ROUND(l.l_discount * 100, 0) AS BIGINT),
               CAST(ROUND(l.l_quantity, 0) AS BIGINT)
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        """
    ).fetchall()
    per: dict[str, list] = {}
    for b, x, y in rows:
        per.setdefault(b, []).append((int(x), int(y)))
    out = {r.brand: r for r in _REGISTRY["q394_discount_quantity_elasticity"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for b, xy in per.items():
        n = len(xy)
        sx = sum(x for x, _ in xy)
        sy = sum(y for _, y in xy)
        sxx = sum(x * x for x, _ in xy)
        sxy = sum(x * y for x, y in xy)
        num, den = n * sxy - sx * sy, n * sxx - sx * sx
        r = out[b]
        assert (r.n, r.mean_qty_micro) == (n, sy * 1_000_000 // n)
        assert r.mean_disc_pct_micro == sx * 1_000_000 // n
        assert r.slope_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.slope_abs_ppm == (0 if den == 0 else abs(num) * 1_000_000 // den)
        # random discounts: no real demand signal — at sf0.001's ~100
        # lines per brand the sampling noise still allows |slope| of a
        # unit or two per discount point, never the tens a real
        # elasticity would show
        assert r.slope_abs_ppm < 5_000_000


def test_deletion_cascade_python_replay(spark, duck):
    custs = [c for (c,) in duck.sql("SELECT c_custkey FROM customer").fetchall()]
    victims = {
        c
        for c in custs
        if hashlib.md5(f"{c}:gdpr".encode()).hexdigest()[:2] == "00"
    }
    vorders = {
        o
        for (o, ck) in duck.sql(
            "SELECT o_orderkey, o_custkey FROM orders"
        ).fetchall()
        if ck in victims
    }
    out = {r.tbl: r for r in _REGISTRY["q395_deletion_cascade_impact"].fn(spark, SF_DIR).collect()}
    assert set(out) == {"customer", "orders", "events", "lineitem"}
    assert (out["customer"].cascade_depth, out["lineitem"].cascade_depth) == (0, 2)
    assert out["customer"].n_deleted == len(victims)
    assert out["orders"].n_deleted == len(vorders)
    ev = duck.sql("SELECT user_id FROM events").fetchall()
    assert out["events"].n_deleted == sum(1 for (u,) in ev if u in victims)
    li = duck.sql("SELECT l_orderkey FROM lineitem").fetchall()
    assert out["lineitem"].n_deleted == sum(1 for (o,) in li if o in vorders)
    for r in out.values():
        assert r.deleted_ppm == r.n_deleted * 1_000_000 // r.n_rows
