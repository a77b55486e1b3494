"""Wave-46 catalog entries (plans/llm_ops45.py): python replays of the
FS weight arithmetic, the winner's-curse cohort split, and the
nearest-rank decile quantiles."""

from __future__ import annotations

import datetime
import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops45  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops import _sql_minhash_pairs
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_fs_weights_python_replay(spark, duck):
    docs = duck.sql(
        "SELECT doc_id, lang, source, GREATEST(n_chars, 1) FROM documents"
    ).fetchall()
    feats = {
        d: (lang, src, int(nc).bit_length()) for d, lang, src, nc in docs
    }
    bucket = {
        d: hashlib.md5(f"{d}:fs".encode()).hexdigest()[:2] for d in feats
    }
    matches = {
        (a, b)
        for a, b in duck.sql(
            f"WITH {_sql_minhash_pairs(0.5)} SELECT doc_id_a, doc_id_b FROM pairs"
        ).fetchall()
    }
    upairs = [
        (a, b)
        for a in feats
        for b in feats
        if a < b and bucket[a] == bucket[b] and (a, b) not in matches
    ]
    out = {r.field: r for r in _REGISTRY["q378_fellegi_sunter_weights"].fn(spark, SF_DIR).collect()}
    assert set(out) == {"lang", "source", "wclass"}
    for i, field in [(0, "lang"), (1, "source"), (2, "wclass")]:
        t_m = sum(1 for a, b in matches if feats[a][i] == feats[b][i])
        t_u = sum(1 for a, b in upairs if feats[a][i] == feats[b][i])
        r = out[field]
        assert (r.n_m, r.t_m, r.n_u, r.t_u) == (len(matches), t_m, len(upairs), t_u)
        m_ppm = t_m * 1_000_000 // len(matches)
        u_ppm = t_u * 1_000_000 // len(upairs)
        assert (r.m_ppm, r.u_ppm) == (m_ppm, u_ppm)
        assert r.w_agree_ppm == (-1 if u_ppm == 0 else m_ppm * 1_000_000 // u_ppm)
        assert r.w_disagree_ppm == (
            -1
            if u_ppm == 1_000_000
            else (1_000_000 - m_ppm) * 1_000_000 // (1_000_000 - u_ppm)
        )
    # near-dups agree on language far above chance: the linker's signal
    assert out["lang"].w_agree_ppm > 1_000_000
    # length width-class is near-deterministic among true near-dups
    assert out["wclass"].m_ppm > out["wclass"].u_ppm


def test_regression_to_mean_python_replay(spark, duck):
    rows = duck.sql("SELECT user_id, CAST(ts AS DATE) FROM events").fetchall()
    epoch = datetime.date(1970, 1, 1)
    per: dict[int, list[int]] = {}
    for uid, day in rows:
        c = per.setdefault(uid, [0, 0])
        c[(day - epoch).days % 2] += 1  # [even, odd]
    top5 = sorted(per, key=lambda u: (-per[u][1], u))[:5]
    out = {r.cohort: r for r in _REGISTRY["q379_selection_regression_to_mean"].fn(spark, SF_DIR).collect()}
    assert set(out) == {"top5", "rest", "all"}
    for cohort, uids in [
        ("top5", top5),
        ("rest", [u for u in per if u not in set(top5)]),
        ("all", list(per)),
    ]:
        odd = sum(per[u][1] for u in uids)
        even = sum(per[u][0] for u in uids)
        r = out[cohort]
        assert (r.n_users, r.odd_events, r.even_events) == (len(uids), odd, even)
        assert r.odd_mean_micro == odd * 1_000_000 // len(uids)
        assert r.even_mean_micro == even * 1_000_000 // len(uids)
        assert r.even_to_odd_ppm == (-1 if odd == 0 else even * 1_000_000 // odd)
    # selecting on odd-day performance inflates it: the top cohort's
    # even:odd ratio cannot beat the ratio it was selected on by much —
    # structurally its odd mean dominates everyone's
    assert out["top5"].odd_mean_micro >= out["all"].odd_mean_micro


def test_decile_qte_python_replay(spark, duck):
    rows = duck.sql("SELECT user_id, COUNT(*) FROM events GROUP BY 1").fetchall()
    arms: dict[int, list[int]] = {0: [], 1: []}
    for uid, c in rows:
        t = 1 if hashlib.md5(f"{uid}:exp2".encode()).hexdigest()[0] < "8" else 0
        arms[t].append(c)
    for v in arms.values():
        v.sort()
    out = {r.decile: r for r in _REGISTRY["q380_decile_qte"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(range(10, 100, 10))
    for d, r in out.items():
        assert (r.n_t, r.n_c) == (len(arms[1]), len(arms[0]))
        qt = arms[1][(d * len(arms[1]) + 99) // 100 - 1]
        qc = arms[0][(d * len(arms[0]) + 99) // 100 - 1]
        assert (r.q_t, r.q_c, r.qte) == (qt, qc, qt - qc)
    # quantiles are monotone in the decile
    qts = [out[d].q_t for d in sorted(out)]
    assert qts == sorted(qts)
