"""Wave-36 catalog entries (plans/llm_ops35.py): python replays of the
Markov argmax/accuracy arithmetic, and the structural invariants
(confusion rows sum to the per-language doc counts, the model beats or
ties the baseline it reports, smoothed surprisal is finite and
positive)."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops35  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants and python replays
# ---------------------------------------------------------------------------


def test_confusion_rows_tile_the_corpus(spark, duck):
    """Every document lands in exactly one confusion cell: per-true-
    language cell counts must sum to the labeled doc counts, and the
    ppm shares to ~1e6 per row (truncation loses < |cells| ppm)."""
    rows = _REGISTRY["q346_langid_confusion_audit"].fn(spark, SF_DIR).collect()
    truth = dict(
        duck.sql("SELECT lang, COUNT(*) FROM documents GROUP BY lang").fetchall()
    )
    by_true: dict[str, list] = {}
    for r in rows:
        by_true.setdefault(r.true_lang, []).append(r)
    assert set(by_true) == set(truth)
    for lang, cells in by_true.items():
        assert sum(c.n for c in cells) == truth[lang]
        share = sum(c.share_of_true_ppm for c in cells)
        assert 1_000_000 - len(cells) < share <= 1_000_000
        for c in cells:
            assert c.is_correct == (1 if c.true_lang == c.pred_lang else 0)


def test_markov_accuracy_python_replay(spark, duck):
    """Recompute train argmaxes and test accuracy in python."""
    import hashlib

    rows = duck.sql(
        """
        SELECT user_id, event_type,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
        FROM events
        """
    ).fetchall()

    def is_train(uid):
        return hashlib.md5(f"{uid}:mkv".encode()).hexdigest()[0] < "8"

    tr: dict[tuple, int] = {}
    test = []
    for uid, f, t in rows:
        if t is None:
            continue
        if is_train(uid):
            tr[(f, t)] = tr.get((f, t), 0) + 1
        else:
            test.append((f, t))
    pred = {}
    for (f, t), c in tr.items():
        cur = pred.get(f)
        if cur is None or (-c, t) < (-cur[0], cur[1]):
            pred[f] = (c, t)
    totals: dict[str, int] = {}
    for (f, t), c in tr.items():
        totals[t] = totals.get(t, 0) + c
    base = min(totals.items(), key=lambda kv: (-kv[1], kv[0]))[0]
    n_correct = sum(1 for f, t in test if f in pred and pred[f][1] == t)
    n_base = sum(1 for f, t in test if t == base)
    (r,) = (
        _REGISTRY["q347_markov_next_event_accuracy"].fn(spark, SF_DIR).collect()
    )
    assert (r.n_test, r.n_correct, r.n_correct_baseline) == (
        len(test),
        n_correct,
        n_base,
    )
    assert r.accuracy_ppm == n_correct * 1_000_000 // len(test)
    assert r.lift_ppm == (n_correct - n_base) * 1_000_000 // len(test)


def test_surprisal_outliers_finite_positive(spark):
    rows = (
        _REGISTRY["q348_session_likelihood_outliers"].fn(spark, SF_DIR).collect()
    )
    assert rows
    means = [r.mean_surprisal_micro for r in rows]
    assert means == sorted(means, reverse=True)
    for r in rows:
        assert r.n_transitions > 0
        assert r.total_surprisal_micro > 0  # smoothing keeps -ln p finite
        assert (
            r.mean_surprisal_micro
            == r.total_surprisal_micro // r.n_transitions
        )
