"""Wave-52 catalog entries (plans/llm_ops51.py): python replays — the
skyline is checked against the BRUTE-FORCE all-pairs domination the
operator must never run, the split points against an exact sorted
replay, the ABC classes against the prefix rule."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops51  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops51 import _N_PARTS
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_skyline_vs_bruteforce(spark, duck):
    """The bucket-sweep skyline equals the O(n^2) all-pairs
    domination answer — the definition the operator refuses to
    compute at scale, affordable at sf0.001's part count."""
    pts = [
        (int(pk), round(pr * 100), int(sz))
        for pk, pr, sz in duck.sql(
            "SELECT p_partkey, p_retailprice, p_size FROM part"
        ).fetchall()
    ]

    def dominated(p):
        return any(
            q[1] <= p[1] and q[2] <= p[2] and (q[1] < p[1] or q[2] < p[2])
            for q in pts
            if q[0] != p[0]
        )

    want = sorted(
        (p for p in pts if not dominated(p)), key=lambda p: (p[1], p[2], p[0])
    )
    got = [
        (r.p_partkey, r.price_c, r.size)
        for r in _REGISTRY["q396_pareto_skyline"].fn(spark, SF_DIR).collect()
    ]
    assert got == [(pk, pc, sz) for pk, pc, sz in want]
    # skyline sizes strictly decrease along increasing price among
    # distinct prices (the defining staircase), ties excepted
    for (pa, sa), (pb, sb) in zip(
        [(p[1], p[2]) for p in want], [(p[1], p[2]) for p in want][1:]
    ):
        assert (pb > pa and sb < sa) or (pb == pa and sb == sa)


def test_range_splits_python_replay(spark, duck):
    keys = sorted(
        k for (k,) in duck.sql("SELECT o_custkey FROM orders").fetchall()
    )
    n = len(keys)
    splits = [keys[(i * n + _N_PARTS - 1) // _N_PARTS - 1] for i in range(1, _N_PARTS)]
    out = {r.partition_id: r for r in _REGISTRY["q397_range_split_points"].fn(spark, SF_DIR).collect()}
    for i, sk in enumerate(splits, start=1):
        assert out[i].upper_key == sk
    assert out[_N_PARTS].upper_key is None
    # partition counts from the replayed assignment
    import bisect

    counts = {}
    for k in keys:
        pid = bisect.bisect_left(splits, k) + 1
        counts[pid] = counts.get(pid, 0) + 1
    for pid, r in out.items():
        assert r.n_rows == counts.get(pid, 0)
        assert r.vs_ideal_ppm == r.n_rows * _N_PARTS * 1_000_000 // n
    assert sum(r.n_rows for r in out.values()) == n


def test_abc_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT o_custkey,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) * 1000000
                    AS BIGINT)
        FROM orders GROUP BY 1
        """
    ).fetchall()
    rows.sort(key=lambda t: (-t[1], t[0]))
    t = sum(r for _, r in rows)
    classes = {"A": [0, 0], "B": [0, 0], "C": [0, 0]}
    cum = 0
    for _, rev in rows:
        cls = "A" if cum * 100 < t * 80 else ("B" if cum * 100 < t * 95 else "C")
        classes[cls][0] += 1
        classes[cls][1] += rev
        cum += rev
    out = {r.cls: r for r in _REGISTRY["q398_abc_classification"].fn(spark, SF_DIR).collect()}
    assert set(out) <= {"A", "B", "C"}
    for cls, (nc, rev) in classes.items():
        if nc == 0:
            assert cls not in out
            continue
        r = out[cls]
        assert (r.n_customers, r.revenue_u) == (nc, rev)
        assert r.revenue_share_ppm == rev * 1_000_000 // t
        assert r.customer_share_ppm == nc * 1_000_000 // len(rows)
    # the defining shape: A holds most revenue with fewest customers
    if "A" in out and "C" in out:
        assert out["A"].revenue_share_ppm > out["C"].revenue_share_ppm
