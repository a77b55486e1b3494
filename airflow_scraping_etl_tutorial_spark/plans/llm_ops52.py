"""LLM-ops wave 53: interval analytics and data-contract integrity —

- q399: open-order concurrency — the sweep-line count of orders
  simultaneously open (orderdate to last shipment) per day,
  summarized per year with the peak day; the interval-stabbing
  operator (endpoint deltas + running sum), never an interval
  self-join.
- q400: stockout running balance — per part, shipments net of
  returns replayed in ship-date order; the top-20 parts by deepest
  negative running balance; the classic running-min inventory audit
  at part-partitioned grain.
- q401: primary-key uniqueness — row count vs distinct key count,
  duplicate share and max multiplicity for every table's declared
  key (the composite lineitem key included); the other half of the
  q385 data contract (q385 checks children point at parents; this
  checks the parents are actually unique).

Output-hardening doctrine (as waves 6-52): the sweep is pure integer
endpoint deltas cumulated over a day-grain frame; quantities enter as
ROUND(x) integers; every share is one truncating ppm division; all
argmax days tiebreak EARLIEST; composite keys compare as
'||'-delimited strings built identically in both engines.

Reference parity: the reference's daily feed implies exactly these
contracts — its (date) key must be unique (q401), and its history
table's busy periods (q399) size every downstream batch window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as W
from pyspark.sql import functions as F

from ..sources.tables import load
from .registry import query

# ---------------------------------------------------------------------------
# q399 — open-order concurrency (sweep line)
# ---------------------------------------------------------------------------


@query(
    "q399_open_order_concurrency",
    oracle="""
    WITH raw_span AS (
      SELECT o.o_orderkey,
             DATEDIFF('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
               AS od,
             MAX(DATEDIFF('day', DATE '1970-01-01',
                          CAST(l.l_shipdate AS DATE))) AS sd
      FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
      GROUP BY o.o_orderkey, o.o_orderdate
    ),
    span AS (
      -- the synthetic fixture has ~5% of orders whose last shipment
      -- predates the order date; normalize to [LEAST, GREATEST] so
      -- every order is open for at least one day
      SELECT LEAST(od, sd) AS d0, GREATEST(od, sd) AS d1 FROM raw_span
    ),
    deltas AS (
      SELECT d0 AS day, CAST(1 AS BIGINT) AS delta FROM span
      UNION ALL
      SELECT d1 + 1, CAST(-1 AS BIGINT) FROM span
    ),
    per_day AS (
      SELECT day, CAST(SUM(delta) AS BIGINT) AS delta
      FROM deltas GROUP BY day
    ),
    running AS (
      SELECT day, CAST(SUM(delta) OVER (ORDER BY day) AS BIGINT) AS open_n
      FROM per_day
    ),
    spine AS (
      -- calendar days on which at least one order COULD be open:
      -- min start .. max end (the running table's last day is the
      -- max end + 1 close marker, deliberately excluded)
      SELECT UNNEST(RANGE((SELECT MIN(d0) FROM span),
                          (SELECT MAX(d1) FROM span) + 1)) AS day
    ),
    filled AS (
      SELECT s.day,
             LAST_VALUE(r.open_n IGNORE NULLS)
               OVER (ORDER BY s.day ROWS UNBOUNDED PRECEDING) AS open_n
      FROM spine s LEFT JOIN running r ON r.day = s.day
    ),
    withyear AS (
      SELECT day, open_n,
             CAST(EXTRACT(YEAR FROM DATE '1970-01-01'
                          + CAST(day AS INT)) AS INT) AS year
      FROM filled
    )
    SELECT f.year,
           CAST(COUNT(*) AS BIGINT) AS n_days,
           CAST(MAX(f.open_n) AS BIGINT) AS max_open,
           CAST(MIN(CASE WHEN f.open_n = m.mx THEN f.day END) AS BIGINT)
             AS peak_day,
           CAST(SUM(f.open_n) * 1000000 // COUNT(*) AS BIGINT)
             AS mean_open_micro
    FROM withyear f
    JOIN (
      SELECT year, MAX(open_n) AS mx FROM withyear GROUP BY year
    ) m ON m.year = f.year
    GROUP BY f.year, m.mx ORDER BY f.year
    """,
    tags=("llm", "interval", "sweep-line", "concurrency"),
)
def q399_open_order_concurrency(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Interval-stabbing by sweep line: each order is open from its
    order date to its LAST shipment (normalized to [LEAST, GREATEST] —
    ~5% of the fixture's orders ship before their order date); the number open on any day is
    the running sum of +1/-1 endpoint deltas — one day-grain
    cumulative, never an interval self-join (the O(n^2) shape this
    operator exists to avoid). The day spine fills gap days by the
    last-known running value so yearly means are over CALENDAR days,
    and the output is the per-year summary: days observed, max
    concurrency, (earliest) peak day, mean concurrency in micro.

    Scale: the fact join moves (orderkey, two dates); everything
    after is endpoint-delta grain, then an O(days) running sum —
    the q354 boundary-stitch decomposition applies if even the day
    spine must shard."""
    o = load(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    li = load(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    epoch = F.lit("1970-01-01").cast("date")
    span = (
        o.join(li, o["o_orderkey"] == li["l_orderkey"])
        .groupBy("o_orderkey", "o_orderdate")
        .agg(F.max(F.datediff(F.col("l_shipdate").cast("date"), epoch)).alias("sd"))
        .select(
            F.datediff(F.col("o_orderdate").cast("date"), epoch)
            .cast("bigint")
            .alias("od"),
            F.col("sd").cast("bigint").alias("sd"),
        )
        # fixture artifact: ~5% of orders ship before their order date;
        # normalize to [LEAST, GREATEST] so every order is open >= 1 day
        .select(
            F.least("od", "sd").alias("d0"), F.greatest("od", "sd").alias("d1")
        )
        .persist()  # consumed by both the delta stream and the spine range
    )
    deltas = span.select(
        F.col("d0").alias("day"), F.lit(1).cast("bigint").alias("delta")
    ).unionAll(
        span.select(
            (F.col("d1") + 1).alias("day"), F.lit(-1).cast("bigint").alias("delta")
        )
    )
    per_day = deltas.groupBy("day").agg(
        F.sum("delta").cast("bigint").alias("delta")
    )
    # global-window-ok: endpoint-day grain, O(days) rows
    wd = W.orderBy("day")
    running = per_day.select(
        "day", F.sum("delta").over(wd).cast("bigint").alias("open_n")
    ).persist()
    # spine = min start .. max END (running's last day is the max end
    # + 1 close marker, deliberately excluded)
    rng = span.agg(F.min("d0").alias("lo"), F.max("d1").alias("hi"))
    spine = rng.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    # fill gap days with the last known running value: one as-of-style
    # pass — join the spine to the running table's day, then carry the
    # last non-null forward over the day-grain frame
    # global-window-ok: calendar-day grain, O(days) rows
    filled = (
        spine.join(running, "day", "left")
        .select(
            "day",
            F.last("open_n", ignorenulls=True)
            .over(wd.rowsBetween(W.unboundedPreceding, 0))
            .alias("open_n"),
        )
        .persist()
    )
    withyear = filled.select(
        "day",
        "open_n",
        F.year(F.date_add(epoch, F.col("day").cast("int"))).cast("int").alias("year"),
    )
    mx = withyear.groupBy("year").agg(F.max("open_n").alias("mx"))
    out = (
        withyear.join(mx, "year")
        .groupBy("year", "mx")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.min(F.when(F.col("open_n") == F.col("mx"), F.col("day")))
            .cast("bigint")
            .alias("peak_day"),
            F.sum("open_n").alias("_s"),
        )
        .select(
            "year",
            "n_days",
            F.col("mx").cast("bigint").alias("max_open"),
            "peak_day",
            F.expr("CAST(_s * 1000000 div n_days AS BIGINT)").alias(
                "mean_open_micro"
            ),
        )
        .orderBy("year")
    )
    return out


# ---------------------------------------------------------------------------
# q400 — stockout running balance
# ---------------------------------------------------------------------------


@query(
    "q400_stockout_running_balance",
    oracle="""
    WITH moves AS (
      SELECT l_partkey AS part,
             DATEDIFF('day', DATE '1970-01-01', CAST(l_shipdate AS DATE))
               AS day,
             l_orderkey, l_linenumber,
             CAST(ROUND(l_quantity, 0) AS BIGINT)
               * (CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END) AS qty
      FROM lineitem
    ),
    run AS (
      -- qty is the last tiebreak: the fixture's (orderkey, linenumber)
      -- is NOT unique (q401 catches that), and with qty included the
      -- only remaining ties are fully identical rows, for which any
      -- order gives the same running values
      SELECT part, day, qty,
             CAST(SUM(qty) OVER (PARTITION BY part
                                 ORDER BY day, l_orderkey, l_linenumber,
                                          qty ROWS UNBOUNDED PRECEDING)
                  AS BIGINT) AS bal
      FROM moves
    ),
    summary AS (
      SELECT part,
             CAST(COUNT(*) AS BIGINT) AS n_moves,
             CAST(SUM(qty) AS BIGINT) AS final_net,
             CAST(MIN(bal) AS BIGINT) AS min_balance
      FROM run GROUP BY part
    ),
    at_min AS (
      SELECT r.part, CAST(MIN(r.day) AS BIGINT) AS min_day
      FROM run r JOIN summary s ON s.part = r.part AND r.bal = s.min_balance
      GROUP BY r.part
    )
    SELECT s.part, s.n_moves, s.final_net, s.min_balance, a.min_day
    FROM summary s JOIN at_min a ON a.part = s.part
    ORDER BY s.min_balance, s.part LIMIT 20
    """,
    tags=("llm", "operations", "inventory", "running-balance"),
)
def q400_stockout_running_balance(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Inventory running-balance audit: per part, shipments net of
    returns (returnflag 'R' negates ROUND(quantity)) replayed in
    (ship-day, orderkey, linenumber) order; reported are the top-20
    parts by DEEPEST running balance — the parts whose returns
    clustered before their shipments, i.e. where a naive
    netted-inventory report would have shown impossible stock. The
    running sum is part-partitioned (bounded series), the argmin day
    tiebreaks earliest, and the final ranking is a global top-20
    (TakeOrderedAndProject).

    Scale: one scan to move grain; the window partitions by part —
    the same per-key bounded-series economics as q377's encoder
    blocks."""
    li = load(spark, sf_dir, "lineitem")
    moves = li.select(
        F.col("l_partkey").alias("part"),
        F.datediff(
            F.col("l_shipdate").cast("date"), F.lit("1970-01-01").cast("date")
        )
        .cast("bigint")
        .alias("day"),
        "l_orderkey",
        "l_linenumber",
        (
            F.expr("CAST(ROUND(l_quantity, 0) AS BIGINT)")
            * F.expr("CASE WHEN l_returnflag = 'R' THEN -1 ELSE 1 END")
        ).alias("qty"),
    )
    # qty as last tiebreak (see oracle comment): remaining ties are
    # identical rows, order-invariant under ROWS framing
    wp = W.partitionBy("part").orderBy(
        "day", "l_orderkey", "l_linenumber", "qty"
    ).rowsBetween(W.unboundedPreceding, 0)
    run = moves.select(
        "part", "day", "qty", F.sum("qty").over(wp).cast("bigint").alias("bal")
    ).persist()
    summary = run.groupBy("part").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_moves"),
        F.sum("qty").cast("bigint").alias("final_net"),
        F.min("bal").cast("bigint").alias("min_balance"),
    )
    at_min = (
        run.join(
            summary.select("part", F.col("min_balance").alias("_mb")), "part"
        )
        .filter(F.col("bal") == F.col("_mb"))
        .groupBy("part")
        .agg(F.min("day").cast("bigint").alias("min_day"))
    )
    out = (
        summary.join(at_min, "part")
        .select("part", "n_moves", "final_net", "min_balance", "min_day")
        .orderBy("min_balance", "part")
        .limit(20)
    )
    return out


# ---------------------------------------------------------------------------
# q401 — primary-key uniqueness audit
# ---------------------------------------------------------------------------

# (table, pk expression valid in BOTH engines over that table — STRING
# is the cast spelling both parsers accept; Spark rejects bare VARCHAR)
PK_SPECS: tuple[tuple[str, str], ...] = (
    ("customer", "CAST(c_custkey AS STRING)"),
    ("events", "CAST(event_id AS STRING)"),
    (
        "lineitem",
        "CAST(l_orderkey AS STRING) || '|' || CAST(l_linenumber AS STRING)",
    ),
    ("nation", "CAST(n_nationkey AS STRING)"),
    ("orders", "CAST(o_orderkey AS STRING)"),
    ("part", "CAST(p_partkey AS STRING)"),
    ("region", "CAST(r_regionkey AS STRING)"),
    ("supplier", "CAST(s_suppkey AS STRING)"),
)


@query(
    "q401_primary_key_uniqueness",
    oracle="WITH checks AS ("
    + "\n      UNION ALL".join(
        f"""
      SELECT '{tbl}' AS tbl,
             CAST(SUM(mult) AS BIGINT) AS n_rows,
             CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(MAX(mult) AS BIGINT) AS max_multiplicity
      FROM (SELECT {pk} AS pk, COUNT(*) AS mult FROM {tbl} GROUP BY 1)"""
        for tbl, pk in PK_SPECS
    )
    + """
    )
    SELECT tbl, n_rows, n_keys,
           CAST(n_rows - n_keys AS BIGINT) AS n_dup_rows,
           CAST((n_rows - n_keys) * 1000000 // n_rows AS BIGINT) AS dup_ppm,
           max_multiplicity
    FROM checks ORDER BY tbl
    """,
    tags=("llm", "quality", "data-contract", "uniqueness"),
)
def q401_primary_key_uniqueness(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Primary-key uniqueness audit for every table's declared key
    (lineitem's composite (orderkey, linenumber) compared as a
    '|'-delimited string built identically in both engines): row
    count vs distinct-key count, duplicate rows and ppm, and the max
    multiplicity — the other half of the q385 contract (children may
    point at parents all they want; if the parent key repeats, every
    join in the catalog silently fans out). A clean fixture
    certifies; any non-zero row names the table whose load
    double-fired.

    Scale: per table one key-grain aggregate (map-side combinable)
    collapsed to a 1-row summary — key bytes move once, payloads
    never."""
    rows = []
    for tbl, pk in PK_SPECS:
        t = load(spark, sf_dir, tbl)
        keyed = t.select(F.expr(pk).alias("pk"))
        mult = keyed.groupBy("pk").agg(F.count(F.lit(1)).alias("mult"))
        rows.append(
            mult.agg(
                F.lit(tbl).alias("tbl"),
                F.sum("mult").cast("bigint").alias("n_rows"),
                F.count(F.lit(1)).cast("bigint").alias("n_keys"),
                F.max("mult").cast("bigint").alias("max_multiplicity"),
            )
        )
    stacked = rows[0]
    for r in rows[1:]:
        stacked = stacked.unionByName(r)
    return stacked.select(
        "tbl",
        "n_rows",
        "n_keys",
        (F.col("n_rows") - F.col("n_keys")).cast("bigint").alias("n_dup_rows"),
        F.expr(
            "CAST((n_rows - n_keys) * 1000000 div n_rows AS BIGINT)"
        ).alias("dup_ppm"),
        "max_multiplicity",
    ).orderBy("tbl")
