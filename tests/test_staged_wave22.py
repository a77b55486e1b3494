"""Wave-22 catalog entries (plans/llm_ops21.py): python replays of the
varint posting-list pricing, the fold-leakage pair matrix, the source
ablation's set arithmetic, and the consistent-hash ring successor
walk."""

from __future__ import annotations

import hashlib

from airflow_scraping_etl_tutorial_spark.plans import llm_ops21  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _docs(duck):
    return duck.sql(
        "SELECT doc_id, source, text FROM documents ORDER BY doc_id"
    ).fetchall()


def _shingles(text: str, k: int) -> set[str]:
    w = text.split(" ")
    return {" ".join(w[i : i + k]) for i in range(len(w) - k + 1)}


def _varint(gap: int) -> int:
    b = 1
    while gap >= 1 << (7 * b):
        b += 1
    return b


def test_postings_pricing_replay(spark, duck):
    rows = _REGISTRY["q305_postings_compression_audit"].fn(spark, SF_DIR).collect()
    postings: dict[str, list[int]] = {}
    for doc_id, _, text in _docs(duck):
        for g in _shingles(text, 2):
            postings.setdefault(g, []).append(doc_id)
    per_bucket: dict[str, list[int]] = {}
    for term, ids in postings.items():
        ids.sort()
        vbytes = 0
        prev_block = prev = None
        for d in ids:
            blk = d // 65536
            gap = d - prev if prev_block == blk else d - blk * 65536 + 1
            vbytes += _varint(gap)
            prev_block, prev = blk, d
        df = len(ids)
        edges = [(1, "df_0001"), (3, "df_0002_0003"), (7, "df_0004_0007"),
                 (15, "df_0008_0015"), (31, "df_0016_0031"),
                 (63, "df_0032_0063"), (127, "df_0064_0127")]
        bucket = next((lbl for hi, lbl in edges if df <= hi), "df_0128_plus")
        agg = per_bucket.setdefault(bucket, [0, 0, 0])
        agg[0] += 1
        agg[1] += df
        agg[2] += vbytes
    assert {r.df_bucket for r in rows} == set(per_bucket)
    for r in rows:
        n_terms, n_postings, vbytes = per_bucket[r.df_bucket]
        assert r.n_terms == n_terms
        assert r.n_postings == n_postings
        assert r.raw_bytes == n_postings * 8
        assert r.varint_bytes == vbytes
        assert r.savings_ppm == (r.raw_bytes - vbytes) * 1_000_000 // r.raw_bytes
        assert 0 < r.varint_bytes <= r.raw_bytes


def _fold(doc_id: int) -> int:
    return int(hashlib.md5(f"{doc_id}:cv5".encode()).hexdigest()[:2], 16) % 5


def test_fold_leakage_replay(spark, duck):
    rows = _REGISTRY["q306_fold_dup_leakage"].fn(spark, SF_DIR).collect()
    sh = {d: _shingles(t, 8) for d, _, t in _docs(duck)}
    inv: dict[str, list[int]] = {}
    for d, s in sh.items():
        for g in s:
            inv.setdefault(g, []).append(d)
    cand = set()
    for ids in inv.values():
        ids.sort()
        for i, a in enumerate(ids):
            for b in ids[i + 1 :]:
                cand.add((a, b))
    matrix: dict[tuple[int, int], int] = {}
    for a, b in cand:
        common = len(sh[a] & sh[b])
        union = len(sh[a] | sh[b])
        if common and 2 * common >= union:
            fa, fb = sorted((_fold(a), _fold(b)))
            matrix[(fa, fb)] = matrix.get((fa, fb), 0) + 1
    assert {(r.fold_a, r.fold_b): r.n_pairs for r in rows} == matrix
    assert sum(matrix.values()) > 0
    for r in rows:
        assert r.is_leak == (r.fold_a != r.fold_b)
    # near-dup pairs land in independent folds: some leakage must exist
    assert any(r.is_leak for r in rows)


def test_source_ablation_set_arithmetic(spark, duck):
    rows = _REGISTRY["q307_source_ablation_coverage"].fn(spark, SF_DIR).collect()
    src_sh: dict[str, set[str]] = {}
    for _, source, text in _docs(duck):
        src_sh.setdefault(source, set()).update(_shingles(text, 8))
    all_sh = set().union(*src_sh.values())
    for r in rows:
        others = set().union(
            *(s for k, s in src_sh.items() if k != r.source)
        )
        exclusive = len(src_sh[r.source] - others)
        assert r.exclusive_shingles == exclusive
        assert r.retained_shingles == len(all_sh) - exclusive
        assert r.loss_ppm == exclusive * 1_000_000 // len(all_sh)
    assert {r.source for r in rows} == set(src_sh)
    # every document row is accounted for
    assert sum(r.n_docs for r in rows) == len(_docs(duck))


def _hex60_py(hexdigest: str, start: int) -> int:
    """Python twin of operators.dedup._hex60 (1-based SQL SUBSTR)."""
    return int(hexdigest[start - 1 : start - 1 + 15], 16)


def test_resharding_migration_replay(spark, duck):
    rows = {
        r.strategy: r
        for r in _REGISTRY["q308_resharding_migration_audit"]
        .fn(spark, SF_DIR)
        .collect()
    }
    uids = [u for (u,) in duck.sql(
        "SELECT DISTINCT user_id FROM events").fetchall()]
    ring = sorted(
        _hex60_py(hashlib.md5(f"vn:{node}:{rep}".encode()).hexdigest(), 1)
        for node in range(33)
        for rep in range(4)
    )
    old_ring = sorted(
        _hex60_py(hashlib.md5(f"vn:{node}:{rep}".encode()).hexdigest(), 1)
        for node in range(32)
        for rep in range(4)
    )

    def succ(positions, kp):
        ge = [p for p in positions if p >= kp]
        return ge[0] if ge else positions[0]

    m_mod = m_ring = 0
    for u in uids:
        kp = _hex60_py(hashlib.md5(f"key:{u}".encode()).hexdigest(), 1)
        if kp % 32 != kp % 33:
            m_mod += 1
        if succ(old_ring, kp) != succ(ring, kp):
            m_ring += 1
    n = len(uids)
    assert rows["mod"].n_keys == n and rows["ring"].n_keys == n
    assert rows["mod"].n_moved == m_mod
    assert rows["ring"].n_moved == m_ring
    assert rows["mod"].moved_ppm == m_mod * 1_000_000 // n
    assert rows["ring"].moved_ppm == m_ring * 1_000_000 // n
    # the whole point of the ring: far less migration than hash-mod
    # (~1/33 of keys vs ~32/33; strict inequality is safe at any sf)
    assert rows["ring"].n_moved < rows["mod"].n_moved
