"""Wave-58 catalog entries (plans/llm_ops57.py): python replays of the
fan-out distribution, the moment arithmetic, and the basket lift
matrix."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops57  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops57 import FANOUT_EDGES
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_fanout_python_replay(spark, duck):
    out = {r.edge: r for r in _REGISTRY["q414_join_fanout_audit"].fn(spark, SF_DIR).collect()}
    assert set(out) == {e[0] for e in FANOUT_EDGES}
    for label, child, fk, parent, pk in FANOUT_EDGES:
        parents = {v for (v,) in duck.sql(f"SELECT DISTINCT {pk} FROM {parent}").fetchall()}
        fans: dict[int, int] = {}
        for (v,) in duck.sql(
            f"SELECT {fk} FROM {child} WHERE {fk} IS NOT NULL"
        ).fetchall():
            if v in parents:
                fans[v] = fans.get(v, 0) + 1
        r = out[label]
        assert r.n_parents == len(parents)
        assert r.matched_parents == len(fans)
        assert r.n_children == sum(fans.values())
        assert r.max_fanout == (max(fans.values()) if fans else 0)
        assert r.mean_fanout_micro == sum(fans.values()) * 1_000_000 // len(parents)
        assert r.childless_ppm == (len(parents) - len(fans)) * 1_000_000 // len(parents)
    # the lineitem->orders edge fans out by design (multi-line orders)
    assert out["lineitem.l_orderkey->orders"].max_fanout > 1


def test_overdispersion_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT event_type, CAST(ts AS DATE), COUNT(*) FROM events"
        " GROUP BY 1, 2"
    ).fetchall()
    per: dict[str, list[int]] = {}
    for et, _, c in rows:
        per.setdefault(et, []).append(int(c))
    out = {r.event_type: r for r in _REGISTRY["q415_overdispersion_audit"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per)
    for et, cs in per.items():
        n = len(cs)
        s1 = sum(cs)
        s2 = sum(c * c for c in cs)
        r = out[et]
        assert (r.n_days, r.mean_micro) == (n, s1 * 1_000_000 // n)
        assert r.vmr_micro == (n * s2 - s1 * s1) * 1_000_000 // (s1 * (n - 1))
        assert r.dispersion_stat == (n * s2 - s1 * s1) // s1
        assert r.overdispersed == (1 if r.dispersion_stat > 2 * (n - 1) else 0)
        # thinned-Poisson daily arrivals: VMR stays within a small band
        assert r.vmr_micro < 5_000_000


def test_cooccurrence_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT DISTINCT user_id, CAST(ts AS DATE), event_type FROM events"
    ).fetchall()
    baskets: dict[tuple, set] = {}
    for u, d, t in rows:
        baskets.setdefault((u, d), set()).add(t)
    n = len(baskets)
    counts: dict[str, int] = {}
    pairs: dict[tuple, int] = {}
    for types in baskets.values():
        ts = sorted(types)
        for t in ts:
            counts[t] = counts.get(t, 0) + 1
        for i, a in enumerate(ts):
            for b in ts[i + 1 :]:
                pairs[(a, b)] = pairs.get((a, b), 0) + 1
    out = {(r.type_a, r.type_b): r for r in _REGISTRY["q416_event_cooccurrence_lift"].fn(spark, SF_DIR).collect()}
    types = sorted(counts)
    assert set(out) == {(a, b) for a in types for b in types if a < b}
    for (a, b), r in out.items():
        tog = pairs.get((a, b), 0)
        exp = counts[a] * counts[b] * 1_000_000 // (n * n)
        assert (r.together, r.obs_ppm, r.exp_ppm) == (
            tog,
            tog * 1_000_000 // n,
            exp,
        )
        assert r.lift_ppm == (
            -1 if exp == 0 else (tog * 1_000_000 // n) * 1_000_000 // exp
        )
