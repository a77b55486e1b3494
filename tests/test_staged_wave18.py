"""Wave-18 catalog entries (plans/llm_ops17.py): python replays —
Theil-Sen median pair, Mann-Kendall S and tie-corrected variance
numerator, and the exact-integer ACF at every lag."""

from __future__ import annotations

from airflow_scraping_etl_tutorial_spark.plans import llm_ops17  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY
from airflow_scraping_etl_tutorial_spark.sources.tables import load

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Python replays
# ---------------------------------------------------------------------------


def _daily_xy(spark):
    """event_type -> [(x, y), ...] sorted by day index, replayed."""
    from pyspark.sql import functions as F

    rows = (
        load(spark, SF_DIR, "events")
        .select(
            "event_type",
            F.datediff(F.to_date("ts"), F.lit("2024-01-01")).alias("x"),
        )
        .groupBy("event_type", "x")
        .count()
        .collect()
    )
    out = {}
    for r in rows:
        out.setdefault(r.event_type, []).append((r.x, r["count"]))
    return {t: sorted(v) for t, v in out.items()}


def test_theil_sen_matches_python_median_pair(spark):
    got = {
        r.event_type: r
        for r in _REGISTRY["q293_theil_sen_slope"].fn(spark, SF_DIR).collect()
    }
    for t, xy in _daily_xy(spark).items():
        pairs = []
        for i in range(len(xy)):
            for j in range(i + 1, len(xy)):
                dy = xy[j][1] - xy[i][1]
                dx = xy[j][0] - xy[i][0]
                pairs.append((dy / dx, dy, dx))
        pairs.sort()
        m = len(pairs)
        _, dy, dx = pairs[(m + 1) // 2 - 1]
        want = (1_000_000 * dy) // dx if dy >= 0 else -((1_000_000 * -dy) // dx)
        assert got[t].n_pairs == m
        assert got[t].ts_slope_ppm == want


def test_mann_kendall_matches_python(spark):
    got = {
        r.event_type: r
        for r in _REGISTRY["q294_mann_kendall_trend"].fn(spark, SF_DIR).collect()
    }
    for t, xy in _daily_xy(spark).items():
        ys = [y for _, y in xy]
        n = len(ys)
        s = conc = disc = 0
        for i in range(n):
            for j in range(i + 1, n):
                if ys[j] > ys[i]:
                    s += 1
                    conc += 1
                elif ys[j] < ys[i]:
                    s -= 1
                    disc += 1
        from collections import Counter

        ties = sum(
            c * (c - 1) * (2 * c + 5) for c in Counter(ys).values() if c > 1
        )
        var18 = n * (n - 1) * (2 * n + 5) - ties
        assert got[t].s_stat == s
        assert got[t].n_concordant == conc
        assert got[t].n_discordant == disc
        assert got[t].var18 == var18
        assert got[t].n_pairs == n * (n - 1) // 2
        # the sign census is internally consistent
        assert (
            got[t].n_concordant - got[t].n_discordant == got[t].s_stat
        )


def test_acf_matches_python_and_is_bounded(spark):
    got = {}
    for r in _REGISTRY["q295_daily_autocorrelation"].fn(spark, SF_DIR).collect():
        got[(r.event_type, r.lag)] = r.acf_ppm
    for t, xy in _daily_xy(spark).items():
        ys = [y for _, y in xy]
        n, sn = len(ys), sum(ys)
        cy = [y * n - sn for y in ys]
        den = sum(v * v for v in cy)
        for lag in range(1, 8):
            num = sum(cy[i] * cy[i + lag] for i in range(n - lag))
            if den == 0:
                want = 0
            elif num >= 0:
                want = (1_000_000 * num) // den
            else:
                want = -((1_000_000 * -num) // den)
            assert got[(t, lag)] == want
            # |acf| <= 1 up to truncation
            assert -1_000_000 <= got[(t, lag)] <= 1_000_000
