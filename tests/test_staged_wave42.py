"""Wave-42 catalog entries (plans/llm_ops41.py): python replays of the
MH pooling, the readability formula, and the chi-square/Cramer's-V
lanes."""

from __future__ import annotations

import hashlib
import math
import re

from airflow_scraping_etl_tutorial_spark.plans import llm_ops41  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def test_mantel_haenszel_python_replay(spark, duck):
    rows = duck.sql(
        """
        SELECT user_id, COUNT(*),
               MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        FROM events GROUP BY user_id
        """
    ).fetchall()
    strata: dict[int, list[int]] = {}
    for uid, n_ev, conv in rows:
        t = hashlib.md5(f"{uid}:exp2".encode()).hexdigest()[0] < "8"
        st = int(n_ev).bit_length()
        a = strata.setdefault(st, [0, 0, 0, 0])  # n_t, n_c, a, c
        if t:
            a[0] += 1
            a[2] += conv
        else:
            a[1] += 1
            a[3] += conv
    num = den = 0
    a_all = c_all = nt_all = nc_all = 0
    for n_t, n_c, a, c in strata.values():
        n = n_t + n_c
        num += a * n_c * 1_000_000 // n
        den += c * n_t * 1_000_000 // n
        a_all += a
        c_all += c
        nt_all += n_t
        nc_all += n_c
    r = _REGISTRY["q366_mantel_haenszel_rr"].fn(spark, SF_DIR).collect()[0]
    assert r.n_strata == len(strata)
    assert (r.a_all, r.c_all, r.nt_all, r.nc_all) == (
        a_all,
        c_all,
        nt_all,
        nc_all,
    )
    assert (r.num_micro, r.den_micro) == (num, den)
    assert r.crude_rr_ppm == (
        a_all * nc_all * 1_000_000 // (c_all * nt_all)
        if c_all * nt_all
        else 0
    )
    assert r.mh_rr_ppm == (num * 1_000_000 // den if den else 0)
    # null md5 assignment: both ratios must hover near 1e6 ppm
    assert abs(r.crude_rr_ppm - 1_000_000) < 200_000
    assert abs(r.mh_rr_ppm - 1_000_000) < 200_000


def test_readability_python_replay(spark, duck):
    rows = duck.sql("SELECT source, text FROM documents").fetchall()
    agg: dict[str, list[int]] = {}
    for source, text in rows:
        a = agg.setdefault(source, [0, 0, 0, 0])
        a[0] += 1
        a[1] += len(text.split(" "))
        a[2] += max(len(re.findall(r"[.!?]+", text)), 1)
        a[3] += len(re.findall(r"[aeiouy]+", text.lower()))
    out = _REGISTRY["q367_readability_by_source"].fn(spark, SF_DIR).collect()
    assert {r.source for r in out} == set(agg)
    for r in out:
        n_docs, w, s, y = agg[r.source]
        assert (r.n_docs, r.words, r.sentences, r.syllables) == (
            n_docs,
            w,
            s,
            y,
        )
        assert r.words_per_sentence_milli == w * 1000 // s
        assert r.syllables_per_word_milli == y * 1000 // w
        assert r.flesch_milli == 206835 - 1015 * w // s - 84600 * y // w


def test_cramers_v_lanes(spark, duck):
    r = _REGISTRY["q368_confusion_cramers_v"].fn(spark, SF_DIR).collect()[0]
    n_docs = duck.sql("SELECT COUNT(*) FROM documents").fetchone()[0]
    assert r.n == n_docs
    assert r.dof == (r.n_rows - 1) * (r.n_cols - 1)
    k = min(r.n_rows - 1, r.n_cols - 1)
    assert r.v_milli == math.floor(
        math.sqrt(r.chi2_micro / (r.n * k * 1_000_000)) * 1000
    )
    # V is a correlation-like magnitude
    assert 0 <= r.v_milli <= 1000
    assert 0 < r.worst_contrib_micro <= r.chi2_micro
    t, p = r.worst_cell.split("->")
    langs = {row[0] for row in duck.sql(
        "SELECT DISTINCT lang FROM documents"
    ).fetchall()}
    assert t in langs and p in langs | {"und"}
