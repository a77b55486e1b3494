"""Wave-33 catalog entries (plans/llm_ops32.py): python replays of the
NDCG discount arithmetic, the Kendall/Spearman pair counting, and the
t-closeness EMD, and the metric invariants (recall monotone in k, DP
utility monotone in epsilon, correlation coefficients bounded)."""

from __future__ import annotations

import math

from airflow_scraping_etl_tutorial_spark.plans import llm_ops32  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants and python replays
# ---------------------------------------------------------------------------


def test_ndcg_weights_and_bounds(spark):
    """The embedded discount constants must be round(1e6/log2(r+1)),
    and NDCG must land in (0, 1e6] with DCG <= IDCG (the ideal
    ranking is by definition at least as good)."""
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops32 import _DCG_W

    for r, w in _DCG_W:
        assert w == round(1_000_000 / math.log2(r + 1))
    (row,) = _REGISTRY["q332_retrieval_ndcg_audit"].fn(spark, SF_DIR).collect()
    assert 0 < row.ndcg_ppm <= 1_000_000
    assert 0 < row.dcg_micro <= row.idcg_micro
    assert row.ndcg_ppm == row.dcg_micro * 1_000_000 // row.idcg_micro


def test_precision_recall_invariants(spark):
    rows = sorted(
        _REGISTRY["q333_retrieval_precision_recall"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.k,
    )
    assert [r.k for r in rows] == [5, 10, 20]
    hits = [r.hits for r in rows]
    assert hits == sorted(hits)  # hits@k monotone non-decreasing in k
    for r in rows:
        assert 0 <= r.hits <= r.k
        assert r.precision_ppm == r.hits * 1_000_000 // r.k
        assert r.recall_ppm == r.hits * 1_000_000 // r.n_rel
        assert r.mrr_micro == 1_000_000 // r.first_rel_rank
    recalls = [r.recall_ppm for r in rows]
    assert recalls == sorted(recalls)  # recall monotone in k


def test_kendall_spearman_python_replay(spark, duck):
    """Recompute both coefficients in pure python from the oracle's
    own top-20 + length table and compare to the Spark output."""
    rows = duck.sql(
        """
        WITH tk AS (
          SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok FROM documents
        ),
        dl AS (SELECT doc_id, COUNT(*) AS dl FROM tk GROUP BY doc_id),
        n AS (SELECT COUNT(*) AS n FROM documents),
        t AS (SELECT CAST(SUM(dl) AS BIGINT) AS t FROM dl),
        tf AS (
          SELECT doc_id, tok, COUNT(*) AS tf FROM tk
          WHERE tok IN ('batch', 'hash', 'merge', 'row', 'scan')
          GROUP BY doc_id, tok
        ),
        dfx AS (SELECT tok, COUNT(*) AS dfc FROM tf GROUP BY tok),
        scored AS (
          SELECT f.doc_id,
                 CAST(CAST(LN(CAST('1' AS DOUBLE)
                          + ((CAST(n.n - d.dfc AS DOUBLE) + CAST('0.5' AS DOUBLE))
                             / (CAST(d.dfc AS DOUBLE) + CAST('0.5' AS DOUBLE))))
                       AS DECIMAL(18,6)) AS DOUBLE)
                 * ((CAST(f.tf AS DOUBLE) * CAST('2.2' AS DOUBLE))
                    / (CAST(f.tf AS DOUBLE)
                       + CAST('1.2' AS DOUBLE)
                         * (CAST('0.25' AS DOUBLE)
                            + CAST('0.75' AS DOUBLE)
                              * ((CAST(l.dl AS DOUBLE) * CAST(n.n AS DOUBLE))
                                 / CAST(t.t AS DOUBLE))))) AS s
          FROM tf f
          JOIN dl l ON l.doc_id = f.doc_id
          JOIN dfx d ON d.tok = f.tok
          CROSS JOIN n CROSS JOIN t
        ),
        bm AS (
          SELECT doc_id,
                 ROUND(CAST(SUM(CAST(s AS DECIMAL(18,6))) AS DOUBLE), 6) AS bm25
          FROM scored GROUP BY doc_id
        )
        SELECT b.doc_id, l.dl FROM bm b JOIN dl l ON l.doc_id = b.doc_id
        ORDER BY b.bm25 DESC, b.doc_id LIMIT 20
        """
    ).fetchall()
    assert len(rows) == 20
    rk2 = {
        doc: i + 1
        for i, (doc, _) in enumerate(
            sorted(rows, key=lambda r: (-r[1], r[0]))
        )
    }
    ranks = [(i + 1, rk2[doc]) for i, (doc, _) in enumerate(rows)]
    conc = disc = 0
    for i in range(20):
        for j in range(i + 1, 20):
            p = (ranks[i][0] - ranks[j][0]) * (ranks[i][1] - ranks[j][1])
            conc += p > 0
            disc += p < 0
    sum_d2 = sum((a - b) ** 2 for a, b in ranks)
    (row,) = _REGISTRY["q334_rank_correlation_kendall"].fn(spark, SF_DIR).collect()
    assert (row.concordant, row.discordant, row.sum_d2) == (conc, disc, sum_d2)
    assert -1_000_000 <= row.tau_ppm <= 1_000_000
    assert -1_000_000 <= row.spearman_ppm <= 1_000_000


def test_t_closeness_emd_python_replay(spark, duck):
    """EMD in ppm replayed in python from the raw (class, priority)
    counts for every class the Spark top-20 reports."""
    raw = duck.sql(
        """
        SELECT c.c_nationkey, c.c_mktsegment, o.o_orderpriority, COUNT(*)
        FROM customer c JOIN orders o ON o.o_custkey = c.c_custkey
        GROUP BY 1, 2, 3
        """
    ).fetchall()
    prios = sorted({r[2] for r in raw})
    gl = {p: 0 for p in prios}
    cls: dict[tuple, dict] = {}
    for nat, seg, p, n in raw:
        gl[p] += n
        cls.setdefault((nat, seg), {q: 0 for q in prios})[p] += n
    gt = sum(gl.values())

    def emd(counts):
        ct = sum(counts.values())
        acc_c = acc_g = total = 0
        for p in prios[:-1]:
            acc_c += counts[p]
            acc_g += gl[p]
            total += abs(acc_c * 1_000_000 // ct - acc_g * 1_000_000 // gt)
        return total // (len(prios) - 1)

    rows = _REGISTRY["q335_t_closeness_audit"].fn(spark, SF_DIR).collect()
    assert 0 < len(rows) <= 20
    for r in rows:
        expected = emd(cls[(r.nationkey, r.mktsegment)])
        assert r.emd_ppm == expected
        assert 0 <= r.emd_ppm <= 1_000_000
        assert r.t_violation == (1 if r.emd_ppm > 200_000 else 0)


def test_dp_utility_monotone_in_epsilon(spark):
    """More privacy budget (higher eps) -> less noise -> at least as
    many useful cells; noise scale is exactly 1e9 div eps_milli."""
    rows = sorted(
        _REGISTRY["q336_dp_histogram_utility"].fn(spark, SF_DIR).collect(),
        key=lambda r: r.eps_milli,
    )
    assert [r.eps_milli for r in rows] == [100, 1000, 10000]
    useful = [r.n_useful for r in rows]
    assert useful == sorted(useful)
    for r in rows:
        assert r.noise_scale_micro == 1_000_000_000 // r.eps_milli
        assert 0 <= r.n_useful <= r.n_cells
        assert r.useful_ppm == r.n_useful * 1_000_000 // r.n_cells
        assert r.total_l1_err_micro == r.n_cells * r.noise_scale_micro
