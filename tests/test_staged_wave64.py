"""Wave-64 catalog entries (plans/llm_ops63.py): python replays of the
profile counts, the fertility divisions, and the conversion-effort
median."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops63  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.llm_ops63 import PROFILE_COLS
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Replays and invariants
# ---------------------------------------------------------------------------


def test_data_dictionary_python_replay(spark, duck):
    out = {
        (r.tbl, r.col): r
        for r in _REGISTRY["q432_data_dictionary"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(PROFILE_COLS)
    for tbl, col in PROFILE_COLS:
        vals = [v for (v,) in duck.sql(f"SELECT {col} FROM {tbl}").fetchall()]
        r = out[(tbl, col)]
        n_distinct = len({v for v in vals if v is not None})
        assert (r.n_rows, r.n_distinct) == (len(vals), n_distinct)
        assert r.n_nulls == sum(1 for v in vals if v is None)
        assert r.uniqueness_ppm == n_distinct * 1_000_000 // len(vals)
    # the profile must flag the real keys as unique and the real
    # dimensions as low-cardinality — that is the page's whole point
    assert out[("orders", "o_orderkey")].uniqueness_ppm == 1_000_000
    assert out[("documents", "doc_id")].uniqueness_ppm == 1_000_000
    assert out[("orders", "o_orderstatus")].n_distinct <= 5
    assert out[("events", "event_type")].n_distinct <= 10


def test_tokenizer_fertility_python_replay(spark, duck):
    rows = duck.sql("SELECT lang, text FROM documents").fetchall()
    per: dict[str, list[tuple[int, int]]] = {}
    for lang, text in rows:
        per.setdefault(lang, []).append((len(text), len(text.split(" "))))
    out = {
        r.lang: r
        for r in _REGISTRY["q433_tokenizer_fertility"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(per)
    for lang, pairs in per.items():
        chars = sum(c for c, _ in pairs)
        toks = sum(t for _, t in pairs)
        r = out[lang]
        assert (r.n_docs, r.total_chars, r.total_tokens) == (
            len(pairs),
            chars,
            toks,
        )
        assert r.chars_per_token_milli == chars * 1000 // toks
        assert r.tokens_per_doc_milli == toks * 1000 // len(pairs)
        # space-tokenized prose: a token plus its separator averages
        # more than one character and docs are non-trivially long
        assert r.chars_per_token_milli > 1_000
        assert r.tokens_per_doc_milli > 1_000


def test_effort_to_convert_python_replay(spark, duck):
    rows = duck.sql("SELECT user_id, event_type, ts FROM events").fetchall()
    firstp: dict[str, object] = {}
    for uid, et, ts in rows:
        if et == "purchase" and (uid not in firstp or ts < firstp[uid]):
            firstp[uid] = ts
    effort = {
        uid: sum(1 for u, _, ts in rows if u == uid and ts < fp)
        for uid, fp in firstp.items()
    }
    vals = sorted(effort.values())
    median = vals[(len(vals) + 1) // 2 - 1]
    hist: dict[int, list[int]] = {}
    for v in effort.values():
        hist.setdefault(len(bin(max(v, 1))) - 2, []).append(v)
    out = {
        r.wclass: r
        for r in _REGISTRY["q434_effort_to_convert"].fn(spark, SF_DIR).collect()
    }
    assert set(out) == set(hist)
    for wclass, vs in hist.items():
        r = out[wclass]
        assert (r.n_users, r.min_effort, r.max_effort) == (
            len(vs),
            min(vs),
            max(vs),
        )
        assert r.median_effort == median
    # every user with n_before in [2^(w-1), 2^w) lands in class w
    for wclass, r in out.items():
        assert r.max_effort < 2**wclass
        assert r.min_effort >= 2 ** (wclass - 1) or r.min_effort == 0
