"""Wave-8 catalog entries (plans/llm_ops7.py): structural invariants
of the sketches and the cross-engine levenshtein-parity property q218
relies on."""

from __future__ import annotations

import math

import duckdb
from pyspark.sql import functions as F

from airflow_scraping_etl_tutorial_spark.plans import llm_ops7  # noqa: F401  (registers)
from airflow_scraping_etl_tutorial_spark.plans.registry import _REGISTRY

SF_DIR = "/root/testdata/sf0.001"


# ---------------------------------------------------------------------------
# Structural invariants
# ---------------------------------------------------------------------------


def test_countmin_never_undercounts(spark):
    """CM sketch point estimates are upper bounds by construction."""
    rows = _REGISTRY["q216_countmin_heavy_hitters"].fn(spark, SF_DIR).collect()
    assert all(r.overestimate >= 0 for r in rows)
    assert all(r.cm_estimate >= r.exact_count for r in rows)


def test_hll_estimate_within_theory(spark):
    """Raw HLL with m=256 has ~6.5% standard error; assert a generous
    5-sigma band so the test survives any fixture drop."""
    row = _REGISTRY["q215_hll_distinct_audit"].fn(spark, SF_DIR).collect()[0]
    assert row.n_buckets_used <= 256
    assert abs(row.rel_error) < 5 * 1.04 / math.sqrt(256)


def test_markov_rows_are_distributions(spark):
    """Per from_type, transition probabilities sum to ~1 (rounding)."""
    rows = _REGISTRY["q217_event_markov_transitions"].fn(spark, SF_DIR).collect()
    by_from: dict[str, float] = {}
    for r in rows:
        by_from[r.from_type] = by_from.get(r.from_type, 0.0) + r.prob
    for v in by_from.values():
        assert abs(v - 1.0) < 1e-4


def test_levenshtein_ascii_parity(spark):
    """On printable-ASCII strings Spark (codepoint) and DuckDB (byte)
    levenshtein coincide — the q218 precondition."""
    pairs = [
        ("kitten", "sitting"),
        ("", "abc"),
        ("the quick brown fox", "the quick brown cat"),
        ("a" * 50, "a" * 30 + "b" * 20),
    ]
    srows = (
        spark.createDataFrame(pairs, "a string, b string")
        .select(F.levenshtein("a", "b").alias("d"))
        .collect()
    )
    con = duckdb.connect()
    for (a, b), s in zip(pairs, srows):
        (d,) = con.execute("SELECT levenshtein(?, ?)", [a, b]).fetchone()
        assert d == s.d
    con.close()


def test_incremental_delta_equals_window_aggregate(spark, duck):
    """IVM identity: per changed month, delta == SUM over exactly the
    rows in (cutoff_old, cutoff_new] — the incremental refresh input."""
    rows = _REGISTRY["q221_incremental_snapshot_delta"].fn(spark, SF_DIR).collect()
    expected = dict(
        duck.execute(
            """
        WITH mx AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d FROM orders)
        SELECT STRFTIME(o_orderdate, '%Y-%m'),
               CAST(ROUND(SUM(CAST(o_totalprice AS DECIMAL(18,6))), 2) AS DOUBLE)
        FROM orders CROSS JOIN mx
        WHERE CAST(o_orderdate AS DATE) > mx.d - 730
          AND CAST(o_orderdate AS DATE) <= mx.d - 365
        GROUP BY 1
        """
        ).fetchall()
    )
    got = {r.o_month: r.rev_delta for r in rows}
    assert got == expected


def test_conversion_cdf_monotone(spark):
    rows = _REGISTRY["q222_time_to_conversion"].fn(spark, SF_DIR).collect()
    cdfs = [r.conversion_cdf for r in rows]
    assert cdfs == sorted(cdfs)
    assert all(0.0 <= c <= 1.0 for c in cdfs)


def test_hll_registers_merge_by_max(spark):
    """The distributed-correctness property that makes q215 a sketch:
    register vectors built on any split of the corpus merge to the
    whole-corpus vector by elementwise MAX — what per-partition /
    per-stream HLL state relies on at scale."""
    from airflow_scraping_etl_tutorial_spark.plans.llm_ops7 import hll_registers
    from airflow_scraping_etl_tutorial_spark.sources.tables import load

    docs = load(spark, SF_DIR, "documents")
    toks = docs.select(
        F.col("doc_id"), F.explode(F.split("text", " ")).alias("tok")
    )
    full = {
        r.bucket: r.reg
        for r in hll_registers(toks.select("tok")).collect()
    }
    h1 = {
        r.bucket: r.reg
        for r in hll_registers(
            toks.filter(F.col("doc_id") % 2 == 0).select("tok")
        ).collect()
    }
    h2 = {
        r.bucket: r.reg
        for r in hll_registers(
            toks.filter(F.col("doc_id") % 2 == 1).select("tok")
        ).collect()
    }
    merged = {
        b: max(h1.get(b, 0), h2.get(b, 0)) for b in set(h1) | set(h2)
    }
    assert merged == full


def test_countmin_counters_merge_by_sum(spark, duck):
    """CM counters are linear: counters over disjoint halves sum to the
    whole-corpus counters (the per-partition merge at scale). Verified
    for hash row 0 via the same md5 derivation in DuckDB."""
    q = """
    SELECT CAST('0x' || SUBSTR(MD5(tok || ':cm0'), 1, 15) AS BIGINT) % 64 AS k,
           CAST(SUM(c) AS BIGINT) AS v
    FROM (SELECT tok, COUNT(*) AS c
          FROM (SELECT doc_id, UNNEST(STRING_SPLIT(text, ' ')) AS tok
                FROM documents) t {where} GROUP BY tok)
    GROUP BY k
    """
    full = dict(duck.execute(q.format(where="")).fetchall())
    h1 = dict(duck.execute(q.format(where="WHERE doc_id % 2 = 0")).fetchall())
    h2 = dict(duck.execute(q.format(where="WHERE doc_id % 2 = 1")).fetchall())
    merged = {
        k: h1.get(k, 0) + h2.get(k, 0) for k in set(h1) | set(h2)
    }
    assert merged == full


def test_levenshtein_ascii_parity_fuzz(spark):
    """Seeded fuzz of the q218 precondition over 200 random
    printable-ASCII pairs (varied lengths incl. empty and 120-char
    prefixes): Spark and DuckDB levenshtein agree on every one."""
    import random
    import string

    rng = random.Random(20260814)
    alphabet = string.printable[:95]  # printable ASCII incl. space

    def rand_s():
        n = rng.choice([0, 1, 3, 10, 40, 120])
        return "".join(rng.choice(alphabet) for _ in range(n))

    pairs = [(rand_s(), rand_s()) for _ in range(200)]
    srows = (
        spark.createDataFrame(pairs, "a string, b string")
        .select("a", "b", F.levenshtein("a", "b").alias("d"))
        .collect()
    )
    con = duckdb.connect()
    for r in srows:
        (d,) = con.execute("SELECT levenshtein(?, ?)", [r.a, r.b]).fetchone()
        assert d == r.d, (r.a, r.b)
    con.close()
