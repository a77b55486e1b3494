"""User-defined extension points: Python UDTF and Pandas-UDAF examples.

SURVEY.md §2 notes the reference's Python callables are all effectively
driver-side UDFs; the engine's doctrine is built-ins first (§2.4-2.9 are
100% built-in expressions). These are the sanctioned escape hatches for
when composition genuinely runs out, shown once each so the pattern is
on the shelf:

- a Python UDTF (1 row -> N rows with state per row) — Spark 4's
  table-function form; prefer explode()/posexplode over a UDTF whenever
  the expansion is expressible as an array (it almost always is);
- a Pandas grouped-agg UDAF (vectorized Arrow batches, one scalar per
  group) — prefer built-in aggregates; reach for this only for
  algorithms Spark lacks (here: a trimmed mean).

Both run in Python workers — Arrow-batched, but still off the codegen
fast path. Keep them OUT of per-row hot loops at 100 TB; use them at
aggregation boundaries where cardinality has already collapsed.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf, udtf


@udtf(returnType="chunk_no: int, chunk: string, n_tokens: int")
class ChunkDocument:
    """UDTF: split a document into fixed-token chunks (the standard
    LLM-training preprocessing step: long doc -> training-window-sized
    pieces). One input row yields ceil(n/chunk_size) output rows."""

    def eval(self, text: str, chunk_size: int):  # noqa: A002
        if not text:
            return
        words = text.split(" ")
        for i in range(0, len(words), chunk_size):
            piece = words[i : i + chunk_size]
            yield (i // chunk_size, " ".join(piece), len(piece))


def chunk_documents(docs: DataFrame) -> DataFrame:
    """Apply the chunking UDTF via LATERAL join: every doc expands to
    its 32-token chunks, keyed by (doc_id, chunk_no)."""
    docs.createOrReplaceTempView("_docs_to_chunk")
    docs.sparkSession.udtf.register("chunk_document", ChunkDocument)
    return docs.sparkSession.sql(
        """
        SELECT d.doc_id, c.chunk_no, c.chunk, c.n_tokens
        FROM _docs_to_chunk d,
             LATERAL chunk_document(d.text, 32) c
        """
    )


@pandas_udf("double")
def trimmed_micro_sum_udaf(v: pd.Series) -> float:
    """Pandas grouped-agg UDAF: exact micro-unit sum of the
    10%-trimmed set (values inside the inclusive [p10, p90] band —
    pandas .quantile == DuckDB QUANTILE_CONT, same (n-1)*q linear
    interpolation).

    Summing in integer micros mirrors the engine's decimal-exact money
    pattern (functions/compare.py): per-term quantization at 1e-6 of
    the EXACT binary double (Decimal(x), not Decimal(repr(x)) — the
    same value DuckDB's CAST(x AS DECIMAL(18,6)) rounds), then an
    order-independent integer sum that stays exact below 2^53. The
    trimmed mean derived from it is bit-reproducible cross-engine,
    which a float .mean() (order- and algorithm-dependent) is not.

    NOTE both UDAFs are deliberately self-contained (imports inside,
    no module-global references): cloudpickle then ships them by value
    and the Python worker never re-imports this module (whose
    decorators need a live SparkContext to parse return types)."""
    from decimal import ROUND_HALF_UP, Decimal

    if len(v) < 3:
        kept = v
    else:
        lo, hi = v.quantile(0.1), v.quantile(0.9)
        kept = v[(v >= lo) & (v <= hi)]
        if not len(kept):
            kept = v
    micro = Decimal("1e-6")
    total = sum(
        int(Decimal(float(x)).quantize(micro, rounding=ROUND_HALF_UP).scaleb(6))
        for x in kept
    )
    return float(total)


@pandas_udf("long")
def trimmed_count_udaf(v: pd.Series) -> int:
    """Companion UDAF: how many values the 10%-trim kept."""
    if len(v) < 3:
        return int(len(v))
    lo, hi = v.quantile(0.1), v.quantile(0.9)
    n = int(((v >= lo) & (v <= hi)).sum())
    return n if n else int(len(v))


def robust_price_stats(orders: DataFrame) -> DataFrame:
    """Per-status robust price summary: the Pandas UDAFs and the
    built-in aggregates run as two groupBys joined on the key — Spark
    disallows mixing pandas and JVM aggregates in one agg
    (INVALID_PANDAS_UDF_PLACEMENT), and the join is tiny (one row per
    group). The trimmed mean divides the UDAF's exact micro-sum by the
    kept count — deterministic double ops a SQL oracle can replay."""
    robust = orders.groupBy("o_orderstatus").agg(
        trimmed_micro_sum_udaf("o_totalprice").alias("micro_sum"),
        trimmed_count_udaf("o_totalprice").alias("n_kept"),
    )
    plain = orders.groupBy("o_orderstatus").agg(
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1)),
            4,
        ).alias("mean_price"),
        F.count(F.lit(1)).alias("n"),
    )
    return robust.join(plain, "o_orderstatus").select(
        "o_orderstatus",
        F.round(
            (F.col("micro_sum") / F.lit(1000000.0)) / F.col("n_kept"), 4
        ).alias("trimmed_mean_price"),
        "mean_price",
        "n",
    )


@pandas_udf("double")
def sigmoid_scalar_udf(v: pd.Series) -> pd.Series:
    """Scalar Pandas UDF: vectorized numpy over Arrow batches — the
    sanctioned shape when a per-row computation genuinely needs Python
    (here a stand-in for e.g. a model score). ~10-100x over row-at-a-
    time Python UDFs; still slower than built-ins — keep off hot paths.
    """
    return pd.Series(1.0 / (1.0 + np.exp(-v.to_numpy() / 100000.0)))


def zscore_per_group_exact(
    df: DataFrame, key: str, id_col: str, value: str
) -> DataFrame:
    """Grouped-map applyInPandas z-score with CROSS-ENGINE-exact
    moments: group mean/std are derived from exact integer micro-sums
    (the q85 recipe — per-term Decimal quantization of the exact
    binary double at 1e-6 for x and 1e-4 for x*x, matching DuckDB's
    CAST(... AS DECIMAL(18,6)/DECIMAL(24,4)) sums), then mu/sd/z are
    computed in plain IEEE double ops both engines execute
    identically. A float .mean()/.std() would be order- and
    algorithm-dependent and never hash-match an oracle.

    Scale caveat (inherent to grouped-map): one group = one in-memory
    pandas frame, so key cardinality/skew decide usability; the
    built-in window/groupBy form is the hot-path choice. Self-
    contained closure: imports live inside so cloudpickle ships it by
    value (workers must not re-import this module — the decorators up
    top need a live SparkContext)."""
    out_schema = f"{key} string, {id_col} long, {value} double, zscore double"

    def normalize(pdf: pd.DataFrame) -> pd.DataFrame:
        import math
        from decimal import ROUND_HALF_UP, Decimal

        import pandas as _pd

        v = pdf[value]
        n = len(v)
        q6, q4 = Decimal("1e-6"), Decimal("1e-4")
        sx_micro = sum(
            int(Decimal(float(x)).quantize(q6, rounding=ROUND_HALF_UP).scaleb(6))
            for x in v
        )
        sxx_q = sum(
            int(
                Decimal(float(x) * float(x))
                .quantize(q4, rounding=ROUND_HALF_UP)
                .scaleb(4)
            )
            for x in v
        )
        sx = float(sx_micro) / 1e6
        sxx = float(sxx_q) / 1e4
        # Guard the radicand too: quantization can push a zero-variance
        # group's sxx - sx*sx/n a hair negative; both engines treat any
        # non-positive variance as sd = 0 -> z = 0.0 (oracle mirrors
        # with the same `> 0` predicate).
        var = (sxx - sx * sx / n) / (n - 1) if n > 1 else 0.0
        sd = math.sqrt(var) if var > 0 else 0.0
        mu = sx / n
        z = (v - mu) / sd if sd > 0 else v * 0.0
        return _pd.DataFrame(
            {key: pdf[key], id_col: pdf[id_col], value: v, "zscore": z}
        )

    return df.groupBy(key).applyInPandas(normalize, schema=out_schema)


def register_sql_udfs(spark) -> None:
    """SQL UDFs (Spark 4, SPARK-46246): the newest member of the UDF
    family and the only one that is PURE CATALYST — the body is a SQL
    expression inlined at analysis time, so calls stay inside
    whole-stage codegen with ZERO Python workers (the plan shows no
    BatchEvalPython/ArrowEvalPython node; asserted in tests). Prefer
    this kind whenever the logic is expressible as one expression:
    it packages reuse like a UDF but costs like a built-in at 100 TB.

    Registers the repo's two signature scalar transforms:
    - de_comma_money(s): the P3 scrub — strip thousands separators,
      cast Decimal(38,0) (reference: scrapy notebook's int(x.replace
      (',',''))); NULL-safe, non-numeric input -> NULL via try_cast.
    - is_market_open(stat): the P8 predicate — TWSE payload stat
      field equals 'OK' (Final_app.py branches on the same value).
    Temporary functions: per-session, call from any spark.sql query.
    """
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION de_comma_money(s STRING)
        RETURNS DECIMAL(38,0)
        RETURN TRY_CAST(replace(s, ',', '') AS DECIMAL(38,0))
        """
    )
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION is_market_open(stat STRING)
        RETURNS BOOLEAN
        RETURN stat = 'OK'
        """
    )
