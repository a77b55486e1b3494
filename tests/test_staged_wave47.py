"""Wave-47 catalog entries (plans/llm_ops46.py): python replays of the
TV distance, the TTL hit arithmetic, and the greedy hub attack."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops46  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops import _sql_minhash_pairs
from airflow_scraping_etl_tutorial_spark.plans.llm_ops46 import TTLS_US
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_ldiversity_tcloseness_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT lang, GREATEST(n_chars, 1), source FROM documents"
    ).fetchall()
    data = [(lang, int(nc).bit_length(), src) for lang, nc, src in rows]
    n = len(data)
    sources = sorted({s for _, _, s in data})
    c_s = {s: sum(1 for r in data if r[2] == s) for s in sources}
    groups: dict[tuple, list] = {}
    for lang, w, s in data:
        groups.setdefault((lang, w), []).append(s)
    out = {(r.lang, r.wclass): r for r in _REGISTRY["q381_ldiversity_tcloseness"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(groups)
    for (lang, w), members in groups.items():
        n_g = len(members)
        l_div = len(set(members))
        tv2 = sum(
            abs(
                members.count(s) * 1_000_000 // n_g
                - c_s[s] * 1_000_000 // n
            )
            for s in sources
        )
        r = out[(lang, w)]
        assert (r.n_docs, r.l_diversity, r.tv_ppm) == (n_g, l_div, tv2 // 2)
        assert r.violates_l3 == (1 if l_div < 3 else 0)
        assert 0 <= r.tv_ppm <= 1_000_000


def test_ttl_hit_curve_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT user_id, CAST(EPOCH_US(ts) AS BIGINT), event_id FROM events"
    ).fetchall()
    per: dict[int, list] = {}
    for uid, us, eid in rows:
        per.setdefault(uid, []).append((us, eid))
    gaps = []
    for evs in per.values():
        evs.sort()
        gaps.extend(b[0] - a[0] for a, b in zip(evs, evs[1:]))
    n = len(rows)
    out = {r.ttl: r for r in _REGISTRY["q382_ttl_cache_hit_curve"].fn(spark, SF_DIR).collect()}
    assert set(out) == {lbl for lbl, _ in TTLS_US}
    prev_hits = -1
    for lbl, us in TTLS_US:
        hits = sum(1 for g in gaps if g <= us)
        r = out[lbl]
        assert (r.ttl_us, r.n_lookups, r.n_users, r.hits) == (us, n, len(per), hits)
        assert r.hit_ppm == hits * 1_000_000 // n
        # the curve is monotone in TTL
        assert hits >= prev_hits
        prev_hits = hits
    # compulsory misses bound the curve: hits can never exceed n - users
    assert out["1d"].hits <= n - len(per)


def test_hub_removal_python_replay(spark, duck):
    edges = set(
        duck.sql(
            f"WITH {_sql_minhash_pairs(0.5)} SELECT doc_id_a, doc_id_b FROM pairs"
        ).fetchall()
    )
    m0 = len(edges)
    out = {r.k: r for r in _REGISTRY["q383_hub_removal_robustness"].fn(spark, SF_DIR).collect()}
    assert set(out) == {0, 1, 2, 3}
    cur = set(edges)
    for k in range(4):
        nodes = {x for e in cur for x in e}
        r = out[k]
        if k == 0:
            assert r.removed_id is None
        else:
            assert r.removed_id == removed  # noqa: F821  (set in prior loop step)
        assert (r.n_edges, r.n_nodes) == (len(cur), len(nodes))
        assert r.edge_survival_ppm == (
            1_000_000 if m0 == 0 else len(cur) * 1_000_000 // m0
        )
        if k < 3 and cur:
            deg: dict[int, int] = {}
            for a, b in cur:
                deg[a] = deg.get(a, 0) + 1
                deg[b] = deg.get(b, 0) + 1
            removed = min(deg, key=lambda v: (-deg[v], v))
            cur = {(a, b) for a, b in cur if a != removed and b != removed}
        elif k < 3:
            removed = None
    # survival is non-increasing
    surv = [out[k].edge_survival_ppm for k in range(4)]
    assert surv == sorted(surv, reverse=True)
