"""Skew-handling join: explicit key salting.

AQE's skew-join splitting (on in session.py) handles most skew at
runtime by splitting oversized shuffle partitions. Salting is the
plan-level tool for the cases AQE can't fix — e.g. a single hot key
whose rows must still meet EVERY row of the other side, or stateful
aggregations where one group overwhelms a task.

Mechanics: fact rows get a random-but-deterministic salt in [0, n);
the dimension side is replicated n times (one copy per salt value);
the join key becomes (key, salt), spreading the hot key across n tasks.
Cost: n-fold replication of the small side — only ever salt against a
broadcastable/small side or a filtered hot-key subset.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def salted_join(
    fact: DataFrame,
    dim: DataFrame,
    fact_key: str,
    dim_key: str,
    n_salts: int = 8,
) -> DataFrame:
    """Inner equi-join with the fact side salted across n_salts sub-keys.

    The salt is derived from a hash of the full fact row's key plus
    monotonic id — deterministic per run, uniform across tasks. Result
    set is identical to the unsalted join (verified by the oracle-checked
    catalog entry q26).

    Inner only: the dim side is replicated n_salts times, so a right or
    full outer join would surface every unmatched dim row n_salts times.
    """
    salted_fact = fact.withColumn(
        "_salt", F.pmod(F.xxhash64(F.col(fact_key), F.monotonically_increasing_id()), F.lit(n_salts))
    )
    salts = fact.sparkSession.range(n_salts).select(F.col("id").alias("_salt"))
    replicated_dim = dim.crossJoin(F.broadcast(salts))
    joined = salted_fact.join(
        replicated_dim,
        (salted_fact[fact_key] == replicated_dim[dim_key])
        & (salted_fact["_salt"] == replicated_dim["_salt"]),
    )
    return joined.drop("_salt")
