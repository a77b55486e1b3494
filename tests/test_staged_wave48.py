"""Wave-48 catalog entries (plans/llm_ops47.py): python replays of the
adaptation counts, the FK orphan arithmetic, and the repeat-pair
window."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops47  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops47 import FK_EDGES
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_term_adaptation_python_replay(spark, duck):
    texts = duck.sql("SELECT doc_id, text FROM documents").fetchall()
    per_term: dict[str, list[int]] = {}
    for _, text in texts:
        counts: dict[str, int] = {}
        for tok in text.split(" "):
            counts[tok] = counts.get(tok, 0) + 1
        for tok, c in counts.items():
            agg = per_term.setdefault(tok, [0, 0, 0])
            agg[0] += 1
            agg[1] += 1 if c >= 2 else 0
            agg[2] += c
    top = sorted(per_term.items(), key=lambda kv: (-kv[1][0], kv[0]))[:20]
    out = _REGISTRY["q384_term_adaptation"].fn(spark, SF_DIR).collect()
    assert len(out) == 20
    for r, (term, (df1, df2, cf)) in zip(out, top):
        assert (r.term, r.df1, r.df2, r.cf) == (term, df1, df2, cf)
        assert r.adaptation_ppm == df2 * 1_000_000 // df1
    # stopword-like terms are bursty: the top df term repeats in some docs
    assert out[0].adaptation_ppm > 0


def test_referential_integrity_python_replay(spark, duck):
    out = {r.edge: r for r in _REGISTRY["q385_referential_integrity"].fn(spark, SF_DIR).collect()}
    assert set(out) == {e[0] for e in FK_EDGES}
    for label, child, fk, parent, pk in FK_EDGES:
        n_child, n_null = duck.sql(
            f"SELECT COUNT(*), SUM(CASE WHEN {fk} IS NULL THEN 1 ELSE 0 END)"
            f" FROM {child}"
        ).fetchone()
        parents = {v for (v,) in duck.sql(f"SELECT DISTINCT {pk} FROM {parent}").fetchall()}
        orphans = duck.sql(
            f"SELECT COUNT(*) FROM {child} WHERE {fk} IS NOT NULL"
        ).fetchone()[0] - duck.sql(
            f"SELECT COUNT(*) FROM {child} WHERE {fk} IN"
            f" (SELECT {pk} FROM {parent})"
        ).fetchone()[0]
        r = out[label]
        assert (r.n_child, r.n_null_fk, r.n_orphans) == (
            n_child,
            int(n_null or 0),
            orphans,
        )
        nn = n_child - int(n_null or 0)
        assert r.orphan_ppm == (0 if nn == 0 else orphans * 1_000_000 // nn)
    # the synthetic fixture is referentially clean: the audit certifies it
    assert all(r.n_orphans == 0 for r in out.values())


def test_rapid_repeat_orders_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT o_custkey, o_orderkey, CAST(o_orderdate AS DATE),"
        " o_totalprice FROM orders"
    ).fetchall()
    by_cust: dict[int, list] = {}
    for ck, ok, d, p in rows:
        by_cust.setdefault(ck, []).append((ok, d, p))
    pairs = []
    for ck, orders in by_cust.items():
        for i, (ka, da, pa) in enumerate(orders):
            for kb, db, pb in orders:
                if ka < kb and abs((da - db).days) <= 7:
                    pairs.append((abs((da - db).days), ka, kb, ck, pa, pb))
    pairs.sort()
    out = _REGISTRY["q386_rapid_repeat_orders"].fn(spark, SF_DIR).collect()
    assert len(out) == min(20, len(pairs))
    assert len(pairs) > 0  # the 7-day window has real signal at sf0.001
    for r, (days, ka, kb, ck, pa, pb) in zip(out, pairs[:20]):
        assert (r.days_apart, r.key_a, r.key_b, r.o_custkey) == (days, ka, kb, ck)
        assert (r.price_a, r.price_b) == (pa, pb)
        assert r.n_pairs_total == len(pairs)
