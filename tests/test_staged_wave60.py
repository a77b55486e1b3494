"""Wave-60 catalog entries (plans/llm_ops59.py): python replays of the
trend slope, the CDC segmentation, and the aging buckets."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops59  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops59 import _CDC_MOD
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def _tdiv(a: int, b: int) -> int:
    """Truncating integer division — BOTH engines truncate toward
    zero here (DuckDB's // on BIGINTs included, verified -7//2 = -3),
    while python's // floors."""
    q = abs(a) // abs(b)
    return q if (a >= 0) == (b >= 0) else -q


def test_fulfillment_trend_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT (EXTRACT(YEAR FROM o.o_orderdate) - 1970) * 12
                 + EXTRACT(MONTH FROM o.o_orderdate) - 1,
               DATEDIFF('day', CAST(o.o_orderdate AS DATE),
                        CAST(l.l_shipdate AS DATE))
        FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
        """
    ).fetchall()
    per: dict[int, list[int]] = {}
    for m, d in rows:
        per.setdefault(int(m), []).append(int(d))
    pts = sorted(
        (m, _tdiv(sum(ds) * 1_000_000, len(ds)), len(ds))
        for m, ds in per.items()
    )
    k = len(pts)
    sx = sum(x for x, _, _ in pts)
    sy = sum(y for _, y, _ in pts)
    sxx = sum(x * x for x, _, _ in pts)
    sxy = sum(x * y for x, y, _ in pts)
    num, den = k * sxy - sx * sy, k * sxx - sx * sx
    out = {r.month: r for r in _REGISTRY["q420_fulfillment_trend"].fn(spark, SF_DIR).collect()}
    assert set(out) == {m for m, _, _ in pts}
    for m, y, n in pts:
        r = out[m]
        assert (r.n_lineitems, r.mean_lag_micro) == (n, y)
        assert r.trend_sign == (1 if num > 0 else (-1 if num < 0 else 0))
        assert r.trend_abs_micro_per_month == (
            0 if den == 0 else abs(num) // den
        )


def _cdc_chunks(text: str) -> list[str]:
    words = text.split(" ")
    n = len(words)

    def is_boundary(i: int) -> bool:  # 0-indexed token
        if i + 3 > n:
            return False
        g = " ".join(words[i : i + 3])
        return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % _CDC_MOD == 0

    chunks: list[str] = []
    cur: list[str] = []
    for i in range(n):
        if cur and is_boundary(i):
            chunks.append(" ".join(cur))
            cur = []
        cur.append(words[i])
    if cur:
        chunks.append(" ".join(cur))
    return chunks


def test_cdc_python_replay(spark, duck):
    texts = [t for (t,) in duck.sql("SELECT text FROM documents").fetchall()]
    all_chunks: list[str] = []
    for t in texts:
        all_chunks.extend(_cdc_chunks(t))
    n_chunks = len(all_chunks)
    total_toks = sum(len(c.split(" ")) for c in all_chunks)
    uniq: dict[str, int] = {}
    for c in all_chunks:
        uniq.setdefault(c, len(c.split(" ")))
    r = _REGISTRY["q421_cdc_chunk_dedup"].fn(spark, SF_DIR).collect()[0]
    assert (r.n_chunks, r.distinct_chunks) == (n_chunks, len(uniq))
    assert (r.total_toks, r.stored_toks) == (total_toks, sum(uniq.values()))
    assert r.dup_chunk_ppm == (n_chunks - len(uniq)) * 1_000_000 // n_chunks
    assert r.tokens_saved_ppm == (total_toks - sum(uniq.values())) * 1_000_000 // total_toks
    assert r.mean_chunk_toks_milli == total_toks * 1000 // n_chunks
    # the fixture has real near-dups: chunk-level dedup finds shared spans
    assert r.dup_chunk_ppm > 0
    # the CDC property: boundary at a position <=> same 3-gram hashes,
    # so the chunking of two docs sharing a tail shares tail chunks —
    # already exercised by dup_chunk_ppm > 0 on non-identical docs


def test_backlog_python_replay(spark, duck):
    spans = [
        (min(a, b), max(a, b))
        for a, b in duck.sql(
            """
            SELECT DATEDIFF('day', DATE '1970-01-01',
                            CAST(o.o_orderdate AS DATE)),
                   MAX(DATEDIFF('day', DATE '1970-01-01',
                                CAST(l.l_shipdate AS DATE)))
            FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
            GROUP BY o.o_orderkey, o.o_orderdate
            """
        ).fetchall()
    ]
    a = (min(d0 for d0, _ in spans) + max(d1 for _, d1 in spans)) // 2
    ages = [a - d0 for d0, d1 in spans if d0 <= a < d1]
    n = len(ages)
    buckets: dict[str, list[int]] = {}
    for age in ages:
        b = "0-30" if age <= 30 else ("31-60" if age <= 60 else ("61-90" if age <= 90 else "90+"))
        buckets.setdefault(b, []).append(age)
    out = {r.age_bucket: r for r in _REGISTRY["q422_backlog_aging"].fn(spark, SF_DIR).collect()}
    assert set(out) == set(buckets)
    for b, ags in buckets.items():
        r = out[b]
        assert (r.n_open, r.oldest_days) == (len(ags), max(ags))
        assert r.share_ppm == len(ags) * 1_000_000 // n
    assert sum(r.n_open for r in out.values()) == n
