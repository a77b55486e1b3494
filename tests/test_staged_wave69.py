"""Wave-69 catalog entries (plans/llm_ops68.py): full python replays —
the double-applied merge replayed with a dict (last-writer-wins), the
SCD2 history replayed with itertools.groupby change-detection."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops68  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops68 import (
    _BUMP,
    _CUR_CAP,
    _NEW_CAP,
)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def _cents(total: float) -> int:
    from decimal import ROUND_HALF_UP, Decimal

    return int(
        (Decimal(str(total)).quantize(Decimal("0.01"), rounding=ROUND_HALF_UP))
        * 100
    )


def test_merge_python_replay_and_idempotence(spark, duck):
    """Replay the double merge with a dict: seed with the snapshot,
    overwrite with the update batch (updates win), apply the SAME
    batch again — the dict is unchanged (idempotence) and must equal
    the Spark result row-for-row."""
    base = duck.sql(
        "SELECT o_orderkey, o_orderstatus, "
        "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) "
        "FROM orders ORDER BY 1"
    ).fetchall()
    state = {k: (s, c) for k, s, c in base if k <= _CUR_CAP}
    updates = {
        k: ("U", c + _BUMP) for k, (s, c) in state.items() if k % 7 == 0
    } | {k: (s, c) for k, s, c in base if _CUR_CAP < k <= _NEW_CAP}
    once = state | updates
    twice = once | updates  # idempotence: second application is a no-op
    assert twice == once
    got = {
        r.o_orderkey: (r.status, r.total_cents)
        for r in _REGISTRY["q450_merge_upsert_idempotent"].fn(spark, SF_DIR).collect()
    }
    assert got == twice
    # both MERGE branches are non-trivially exercised by the fixture
    assert sum(1 for k in got if k <= _CUR_CAP and k % 7 == 0) > 100
    assert sum(1 for k in got if k > _CUR_CAP) > 300


def test_scd2_python_replay(spark, duck):
    """Replay the SCD2 history: per key, walk day-ordered quantity
    snapshots, open a version on every change, close it at the next
    version's start."""
    snaps = duck.sql(
        "SELECT l_orderkey, CAST(l_shipdate AS DATE), "
        "CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) "
        "FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"
    ).fetchall()
    want = []
    per_key: dict[int, list] = {}
    for k, day, qty in snaps:
        per_key.setdefault(k, []).append((day, qty))
    for k in sorted(per_key):
        versions = []
        prev_qty = None
        for day, qty in per_key[k]:
            if prev_qty is None or qty != prev_qty:
                versions.append([day, qty])
            prev_qty = qty
        for i, (day, qty) in enumerate(versions):
            nxt = versions[i + 1][0] if i + 1 < len(versions) else None
            want.append((k, qty, day, nxt, nxt is None))
    got = [
        (r.l_orderkey, r.qty, r.effective_from, r.effective_to, r.is_current)
        for r in _REGISTRY["q451_scd2_validity_intervals"].fn(spark, SF_DIR).collect()
    ]
    assert got == want
    # the change-collapse is non-trivial: some key must have >1 version
    from collections import Counter

    assert max(Counter(k for k, *_ in got).values()) > 1
