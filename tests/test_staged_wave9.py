"""Wave-9 catalog entries (plans/llm_ops8.py): the algorithmic
guarantees the wave claims — prefix filtering's EXACT recall vs a
brute-force ground truth, the cardinality audit's actual-rows identity
vs a real join, and PageRank/layout/Benford structural invariants."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops8  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Algorithmic guarantees
# ---------------------------------------------------------------------------


def test_prefix_filter_has_exact_recall(spark, duck):
    """The PPJoin pigeonhole guarantee: q225 finds EVERY pair with
    distinct-token Jaccard >= 0.5, verified against an all-pairs
    brute force over the fixture."""
    truth = set(
        duck.execute(
            """
        WITH tp AS (
          SELECT DISTINCT doc_id, tok FROM (
            SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
            FROM documents) t
        ),
        sets AS (SELECT doc_id, LIST(tok) lst, COUNT(*) n FROM tp GROUP BY doc_id)
        SELECT a.doc_id, b.doc_id
        FROM sets a JOIN sets b ON a.doc_id < b.doc_id
        WHERE ROUND(CAST(LEN(LIST_INTERSECT(a.lst, b.lst)) AS DOUBLE)
                    / (a.n + b.n - LEN(LIST_INTERSECT(a.lst, b.lst))), 6)
                >= 0.5
        """
        ).fetchall()
    )
    got = {
        (r.doc_id_a, r.doc_id_b)
        for r in _REGISTRY["q225_prefix_filter_setjoin"].fn(spark, SF_DIR).collect()
    }
    assert got == truth
    assert len(truth) > 0, "fixture must contain at least one near-dup pair"


def test_cardinality_audit_actual_matches_real_join(spark, duck):
    """actual_rows (computed join-free via count products) equals the
    materialized join's row count."""
    rows = {
        r.edge: r
        for r in _REGISTRY["q227_join_cardinality_audit"].fn(spark, SF_DIR).collect()
    }
    real = {
        "orders*lineitem@orderkey": "SELECT COUNT(*) FROM orders o JOIN lineitem l"
        " ON l.l_orderkey = o.o_orderkey",
        "part*lineitem@partkey": "SELECT COUNT(*) FROM part p JOIN lineitem l"
        " ON l.l_partkey = p.p_partkey",
        "customer*orders@custkey": "SELECT COUNT(*) FROM customer c JOIN orders o"
        " ON o.o_custkey = c.c_custkey",
    }
    for edge, sql in real.items():
        (n,) = duck.execute(sql).fetchone()
        assert rows[edge].actual_rows == n
        assert rows[edge].est_rows > 0


def test_pagerank_scores_bounded(spark):
    """Damped PageRank floor: every score >= 0.15 in fixed point; the
    top-20 ordering ties break on doc_id."""
    rows = _REGISTRY["q226_dup_graph_pagerank"].fn(spark, SF_DIR).collect()
    assert all(r.rank_score >= 150_000_000 for r in rows)
    scores = [(-r.rank_score, r.doc_id) for r in rows]
    assert scores == sorted(scores)


def test_partition_plan_invariants(spark):
    rows = _REGISTRY["q228_partition_layout_plan"].fn(spark, SF_DIR).collect()
    for r in rows:
        assert r.n_files >= 1
        assert r.mean_file_bytes <= 65536
        assert 0.0 < r.fill_ratio <= 1.0
        assert r.n_files == -(-r.total_bytes // 65536)  # exact ceil


def test_benford_shares(spark):
    rows = _REGISTRY["q229_benford_first_digit"].fn(spark, SF_DIR).collect()
    assert abs(sum(r.share for r in rows) - 1.0) < 1e-4
    for r in rows:
        assert abs(r.benford_share - round(math.log10(1 + 1 / r.digit), 6)) < 1e-9


def test_frame_hash_neardup_symmetry_and_bounds(spark):
    """Frame-set Jaccard is bounded and pairs carry at least one
    shared frame by construction of the inverted-index candidates."""
    rows = _REGISTRY["q230_frame_hash_neardup"].fn(spark, SF_DIR).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.media_id_a < r.media_id_b
        assert r.n_shared_frames >= 1
        assert 0.0 < r.frame_jaccard <= 1.0


def test_hll_set_algebra_sane(spark, duck):
    """Union-register estimates dominate the single-set estimates
    (registers merge by MAX, monotone), one row per language pair,
    and the sketch Jaccard tracks the exact one within raw-HLL error
    bounds at this register count."""
    rows = _REGISTRY["q231_vocab_overlap_hll"].fn(spark, SF_DIR).collect()
    (n_langs,) = duck.execute(
        "SELECT COUNT(DISTINCT lang) FROM documents"
    ).fetchone()
    assert len(rows) == n_langs * (n_langs - 1) // 2
    for r in rows:
        assert r.hll_est_union >= 0.95 * max(r.hll_est_a, r.hll_est_b)
        # inclusion-exclusion amplifies HLL error; generous band
        assert abs(r.hll_jaccard - r.exact_jaccard) < 0.5


def test_session_gap_sweep_monotone(spark):
    """A larger inactivity gap can only merge sessions: n_sessions is
    non-increasing in the gap, and every threshold yields at least one
    session per active user."""
    rows = sorted(
        _REGISTRY["q232_session_gap_sweep"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.gap_minutes,
    )
    counts = [r.n_sessions for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert all(r.n_events == rows[0].n_events for r in rows)
    assert all(r.mean_events_per_session >= 1.0 for r in rows)


def test_reconciliation_covers_every_order(spark, duck):
    """Band counts partition the orders table exactly (no order lost or
    double-counted by the reconciliation join), and the missing-lines
    band matches the true orphan-order count."""
    rows = _REGISTRY["q233_order_reconciliation"].fn(spark, SF_DIR).collect()
    (n_orders,) = duck.execute("SELECT COUNT(*) FROM orders").fetchone()
    assert sum(r.n_orders for r in rows) == n_orders
    (n_orphans,) = duck.execute(
        """SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
           (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)"""
    ).fetchone()
    missing = {r.band: r.n_orders for r in rows}.get("0_missing_lines", 0)
    assert missing == n_orphans


def test_mad_medians_are_data_values(spark, duck):
    """Rank-selected medians are exact data values (the determinism
    contract), and the MAD threshold is robust: planting one extreme
    value per type cannot change the median by more than one rank."""
    rows = _REGISTRY["q234_mad_outlier_audit"].fn(spark, SF_DIR).collect()
    vals = {
        t: {round(v, 6) for (v,) in duck.execute(
            "SELECT value FROM events WHERE event_type = ?", [t]
        ).fetchall()}
        for t in [r.event_type for r in rows]
    }
    for r in rows:
        assert r.median_value in vals[r.event_type]
        assert r.mad >= 0.0
        assert 0.0 <= r.outlier_rate < 0.5  # 50% breakdown point
