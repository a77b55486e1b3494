"""Wave-62 catalog entries (plans/llm_ops61.py): python replays of the
winner matrix, the decay ratios, and the delta attribution."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops61  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops import _sql_minhash_pairs
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_winner_bias_python_replay(spark, duck):
    pairs = duck.sql(
        f"WITH {_sql_minhash_pairs(0.5)} SELECT doc_id_a, doc_id_b FROM pairs"
    ).fetchall()
    src = dict(duck.sql("SELECT doc_id, source FROM documents").fetchall())
    m = len(pairs)
    cells: dict[tuple, int] = {}
    wins: dict[str, int] = {}
    losses: dict[str, int] = {}
    for a, b in pairs:
        assert a < b  # the keep rule's premise
        w, l = src[a], src[b]
        cells[(w, l)] = cells.get((w, l), 0) + 1
        wins[w] = wins.get(w, 0) + 1
        losses[l] = losses.get(l, 0) + 1
    out = {(r.winner_source, r.loser_source): r for r in _REGISTRY["q426_dedup_winner_bias"].fn(spark, SF_DIR).collect()}
    srcs = sorted(set(src.values()))
    assert set(out) == {(a, b) for a in srcs for b in srcs}
    for (w, l), r in out.items():
        assert r.n_pairs == cells.get((w, l), 0)
        assert r.share_ppm == cells.get((w, l), 0) * 1_000_000 // m
        assert r.winner_total_wins == wins.get(w, 0)
        assert r.winner_total_losses == losses.get(w, 0)
    assert sum(r.n_pairs for r in out.values()) == m


def test_retention_decay_python_replay(spark, duck):
    rows = duck.sql(
        "SELECT user_id, DATEDIFF('day', DATE '1970-01-01',"
        " CAST(ts AS DATE)) // 7 FROM events GROUP BY 1, 2"
    ).fetchall()
    weeks: dict[int, set] = {}
    for u, w in rows:
        weeks.setdefault(u, set()).add(int(w))
    pooled: dict[int, int] = {}
    for u, ws in weeks.items():
        c = min(ws)
        for w in ws:
            pooled[w - c] = pooled.get(w - c, 0) + 1
    offs = sorted(pooled)
    ratios = [
        (o, pooled[o], pooled[po], pooled[o] * 1_000_000 // pooled[po])
        for po, o in zip(offs, offs[1:])
    ]
    med = sorted((d, o) for o, _, _, d in ratios)[(len(ratios) + 1) // 2 - 1][0]
    out = {r.offset_weeks: r for r in _REGISTRY["q427_retention_decay"].fn(spark, SF_DIR).collect()}
    assert set(out) == {o for o, _, _, _ in ratios}
    for o, ret, prev, d in ratios:
        r = out[o]
        assert (r.retained, r.prev_retained, r.decay_ppm) == (ret, prev, d)
        assert r.median_decay_ppm == med


def test_change_contributors_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT (EXTRACT(YEAR FROM o_orderdate) - 1970) * 12
                 + EXTRACT(MONTH FROM o_orderdate) - 1,
               o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT)
        FROM orders GROUP BY 1, 2
        """
    ).fetchall()
    months = sorted({int(m) for m, _, _ in rows})
    m1, m0 = months[-1], months[-1] - 1
    cur = {k: int(r) for m, k, r in rows if m == m1}
    prev = {k: int(r) for m, k, r in rows if m == m0}
    deltas = {
        k: cur.get(k, 0) - prev.get(k, 0) for k in set(cur) | set(prev)
    }
    total = sum(deltas.values())
    top = sorted(deltas.items(), key=lambda kv: (-abs(kv[1]), kv[0]))[:10]
    out = _REGISTRY["q428_change_contributors"].fn(spark, SF_DIR).collect()
    assert [(r.custkey, r.delta_u) for r in out] == top
    for r in out:
        assert r.rev_cur_u - r.rev_prev_u == r.delta_u
        assert r.total_delta == total
        if total == 0:
            assert r.abs_contribution_ppm == -1
        elif r.delta_u == 0:
            assert r.abs_contribution_ppm == 0
        else:
            assert r.abs_contribution_ppm == abs(r.delta_u) * 1_000_000 // abs(total)
