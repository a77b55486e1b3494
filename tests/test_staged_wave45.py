"""Wave-45 catalog entries (plans/llm_ops44.py): python replays of the
modularity rationals, the Benford chi-square, and the varint byte
pricing."""

from __future__ import annotations

from fractions import Fraction

from airflow_scraping_etl_tutorial_spark.plans import llm_ops44  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops import _sql_minhash_pairs
from airflow_scraping_etl_tutorial_spark.plans.llm_ops44 import BENFORD_PPM
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_benford_constants():
    """The import-time ppm expectations are a probability distribution
    and monotone decreasing in the digit (Benford's shape)."""
    ppms = [p for _, p in BENFORD_PPM]
    assert sum(ppms) == 1_000_000
    assert ppms == sorted(ppms, reverse=True)
    assert [d for d, _ in BENFORD_PPM] == [str(i) for i in range(1, 10)]


def test_lang_modularity_python_replay(spark, duck):
    pairs = duck.sql(
        f"WITH {_sql_minhash_pairs(0.5)} SELECT doc_id_a, doc_id_b FROM pairs"
    ).fetchall()
    langs = dict(duck.sql("SELECT doc_id, lang FROM documents").fetchall())
    m = len(pairs)
    assert m > 0
    deg: dict[str, int] = {}
    nodes: dict[str, set] = {}
    internal: dict[str, int] = {}
    for a, b in pairs:
        for x in (a, b):
            deg[langs[x]] = deg.get(langs[x], 0) + 1
            nodes.setdefault(langs[x], set()).add(x)
        if langs[a] == langs[b]:
            internal[langs[a]] = internal.get(langs[a], 0) + 1
    out = {r.lang: r for r in _REGISTRY["q375_dup_graph_lang_modularity"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(deg)
    tnum = 0
    for lang, r in out.items():
        e, d = internal.get(lang, 0), deg[lang]
        num = 4 * m * e - d * d
        tnum += num
        assert (r.n_nodes, r.internal_edges, r.degree_sum) == (len(nodes[lang]), e, d)
        assert r.contrib_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.contrib_abs_micro == abs(num) * 1_000_000 // (4 * m * m)
    q = Fraction(tnum, 4 * m * m)
    for r in out.values():
        assert r.q_sign == (1 if tnum > 0 else (-1 if tnum < 0 else 0))
        assert r.q_abs_micro == abs(tnum) * 1_000_000 // (4 * m * m)
    # modularity is bounded by [-1/2, 1)
    assert Fraction(-1, 2) <= q < 1


def test_benford_python_replay(spark, duck):
    counts = dict(
        duck.sql(
            """
            SELECT SUBSTR(CAST(CAST(FLOOR(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1),
                   COUNT(*)
            FROM orders GROUP BY 1
            """
        ).fetchall()
    )
    n = sum(counts.values())
    out = {r.digit: r for r in _REGISTRY["q376_benford_first_digit"].fn(spark, SF_DIR).collect()}
    assert set(out) == {str(d) for d in range(1, 10)}
    total = 0
    for d, exp_ppm in BENFORD_PPM:
        o = counts.get(d, 0)
        contrib = (1_000_000 * o - n * exp_ppm) ** 2 // (n * exp_ppm)
        total += contrib
        r = out[d]
        assert (r.n_orders, r.exp_ppm, r.contrib_micro) == (o, exp_ppm, contrib)
        assert r.obs_ppm == o * 1_000_000 // n
    for r in out.values():
        assert r.total_chi2_micro == total
        assert r.reject_95 == (1 if total > 15_507_000 else 0)
    # TPC-H prices are a uniform band, not multi-decade: Benford rejects
    assert out["1"].reject_95 == 1


def _varint_bytes(v: int) -> int:
    assert v >= 0
    return max(1, (v.bit_length() + 6) // 7)


def test_delta_encoding_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT event_type, CAST(ts AS DATE), CAST(EPOCH_US(ts) AS BIGINT), event_id
        FROM events
        """
    ).fetchall()
    series: dict[tuple, list] = {}
    for et, day, us, eid in rows:
        series.setdefault((et, day), []).append((us, eid))
    per_type: dict[str, list[int]] = {}
    for (et, _), evs in series.items():
        evs.sort()
        agg = per_type.setdefault(et, [0, 0, 0, 0])  # n, heads, delta_b, dod_b
        prev_us = prev_delta = None
        for us, _ in evs:
            agg[0] += 1
            if prev_us is None:
                agg[1] += 1
                agg[2] += 8
                agg[3] += 8
            else:
                delta = us - prev_us
                agg[2] += _varint_bytes(delta)
                if prev_delta is None:
                    agg[3] += _varint_bytes(delta)
                else:
                    dod = delta - prev_delta
                    zz = 2 * dod if dod >= 0 else -2 * dod - 1
                    agg[3] += _varint_bytes(zz)
                prev_delta = delta
            prev_us = us
    out = {r.event_type: r for r in _REGISTRY["q377_timestamp_delta_encoding"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(per_type)
    for et, (n, heads, db, dodb) in per_type.items():
        r = out[et]
        assert (r.n_events, r.n_series, r.raw_bytes) == (n, heads, 8 * n)
        assert (r.delta_bytes, r.dod_bytes) == (db, dodb)
        assert r.delta_savings_ppm == (8 * n - db) * 1_000_000 // (8 * n)
        assert r.dod_savings_ppm == (8 * n - dodb) * 1_000_000 // (8 * n)
        # intra-day deltas fit far under 8 bytes: real savings
        assert r.delta_bytes < r.raw_bytes
