"""Local mimic of the driver's DuckDB-oracle correctness gate.

Runs every catalog query on Spark AND its oracle SQL on DuckDB at the
given sf dir, then compares row count, column names, and an order-
insensitive value hash (columns sorted by name, rows sorted, floats
rounded to 9 significant-ish decimals before hashing). Exits non-zero on
any mismatch. Run this BEFORE the driver does.

Usage: python tools/check_correctness.py [sf_dir] [query_name ...]
"""

from __future__ import annotations

import math
import os
import sys
import time

import duckdb

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO_ROOT)

from airflow_scraping_etl_tutorial_spark.functions.caching import (  # noqa: E402
    release_session_checkpoints,
    release_session_intermediates,
)
from airflow_scraping_etl_tutorial_spark.plans import all_queries  # noqa: E402
from airflow_scraping_etl_tutorial_spark.session import get_spark  # noqa: E402
from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES  # noqa: E402


def normalize(rows: list[tuple], cols: list[str]) -> list[tuple]:
    """Column-name-sorted, row-sorted, float-rounded canonical form."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])

    def norm_val(v):
        if v is None:
            return None
        if isinstance(v, bool):
            return bool(v)
        if isinstance(v, float):
            if math.isnan(v):
                return "NaN"
            if os.environ.get("STRICT_FLOATS"):
                return v  # exact bit-for-bit comparison
            return float(f"{v:.9g}")
        # Decimal / date / datetime / str / int -> stable string form
        return str(v)

    out = [tuple(norm_val(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return out


def _type_kind_spark(dt: str) -> str:
    dt = dt.lower()
    if dt.startswith(("bigint", "int", "smallint", "tinyint", "long")):
        return "int"
    if dt.startswith(("double", "float")):
        return "float"
    if dt.startswith("decimal"):
        return "decimal"
    if dt in ("string", "varchar"):
        return "str"
    if dt == "date":
        return "date"
    if dt.startswith("timestamp"):
        return "ts"
    if dt == "boolean":
        return "bool"
    return dt


def _type_kind_duck(dt: str) -> str:
    dt = dt.upper()
    if dt in ("BIGINT", "INTEGER", "SMALLINT", "TINYINT", "UBIGINT", "UINTEGER"):
        return "int"
    if dt in ("HUGEINT", "UHUGEINT"):
        return "hugeint"  # never portable; also caught by _NON_PORTABLE
    if dt in ("DOUBLE", "FLOAT", "REAL"):
        return "float"
    if dt.startswith("DECIMAL"):
        return "decimal"
    if dt == "VARCHAR":
        return "str"
    if dt == "DATE":
        return "date"
    if dt.startswith("TIMESTAMP"):
        return "ts"
    if dt == "BOOLEAN":
        return "bool"
    return dt


_SUBPROCESS_RUNNER = r"""
import base64, pickle, sys
import duckdb

sf_dir, mem, tables_csv = sys.argv[1], sys.argv[2], sys.argv[3]
sql = sys.stdin.read()
con = duckdb.connect()
con.execute(f"SET memory_limit='{mem}'")
con.execute("SET temp_directory='/tmp/duckdb_spill'")
for t in tables_csv.split(","):
    con.execute(
        f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
    )
rel = con.sql(sql)
out = (list(rel.columns), [str(t) for t in rel.types], rel.fetchall())
sys.stdout.buffer.write(base64.b64encode(pickle.dumps(out)))
"""


def _oracle_subprocess(sql: str, sf_dir: str, mem: str):
    """Run one oracle in a clean child process — the escape hatch when
    the Spark-JVM-sharing parent's allocator is fragmented past the
    point where even fresh in-process connections fail."""
    import base64
    import pickle
    import subprocess

    proc = subprocess.run(
        [sys.executable, "-c", _SUBPROCESS_RUNNER, sf_dir, mem, ",".join(TABLES)],
        input=sql.encode(),
        capture_output=True,
        timeout=600,
        check=False,
    )
    if proc.returncode != 0:
        raise RuntimeError(proc.stderr.decode()[-400:])
    return pickle.loads(base64.b64decode(proc.stdout))


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    specs = all_queries()
    # SPARK_GRAFT_SHARD=k/n selects every n-th entry (sorted order,
    # offset k-1) so large-SF sweeps can run as n SEPARATE processes:
    # a single process hosting Spark's JVM plus 250 LIST-heavy DuckDB
    # oracles at sf0.1 degrades its allocator past recovery (observed:
    # fresh-connection OOM at entry ~120, segfault at ~128). The
    # driver-equivalent sf0.01 sweep fits in one process.
    shard = os.environ.get("SPARK_GRAFT_SHARD")
    if shard:
        k, n = (int(x) for x in shard.split("/"))
        if not (n >= 1 and 1 <= k <= n):
            # An out-of-range shard would select ZERO queries and the
            # sweep would exit green having checked nothing.
            raise SystemExit(f"SPARK_GRAFT_SHARD={shard}: need 1 <= k <= n")
        names = sorted(specs)
        specs = {
            nm: specs[nm] for i, nm in enumerate(names) if i % n == k - 1
        }
    # Python workers import plan modules by name (UDFs pickle by
    # reference) and see the PYTHONPATH the JVM inherits from this
    # process at session start, not this process's sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        filter(None, (REPO_ROOT, os.environ.get("PYTHONPATH")))
    )
    spark = get_spark("check_correctness")

    # The oracle connection is RECYCLED every few dozen queries: a full
    # 200-entry sweep shares one process with Spark's 48g JVM, and a
    # single long-lived DuckDB connection accumulates enough allocator
    # state across the big unrolled-CTE oracles that tiny allocations
    # eventually fail ("Out of Memory Error ... (bad allocation)") even
    # with >100 GB free — every entry passes in isolation. A fresh
    # connection (with a bounded memory_limit so big oracles spill
    # instead of ballooning) drops that state.
    # Tunable because sf0.1's LIST-heavy oracles want more headroom
    # than the driver-equivalent sf0.01 sweeps.
    oracle_mem = os.environ.get("SPARK_GRAFT_ORACLE_MEM", "8GB")

    def fresh_con():
        # Even a BRAND-NEW connection can hit the allocator pathology
        # while the co-tenant JVM is holding map-count/commit spikes
        # (observed at sf0.1: fresh_con itself failed on a 2 KB block
        # with 124 GB free). Back off, poke both GCs, retry.
        last = None
        for delay in (0.0, 2.0, 10.0, 30.0):
            if delay:
                import gc

                gc.collect()
                try:
                    spark._jvm.System.gc()
                except Exception:  # noqa: BLE001
                    pass
                time.sleep(delay)
            try:
                c = duckdb.connect()
                c.execute(f"SET memory_limit='{oracle_mem}'")
                c.execute("SET temp_directory='/tmp/duckdb_spill'")
                for t in TABLES:
                    c.execute(
                        f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')"
                    )
                return c
            except Exception as e:  # noqa: BLE001
                msg = str(e).lower()
                if "allocat" not in msg and "out of memory" not in msg:
                    raise
                last = e
        raise last

    con = fresh_con()
    n_since_recycle = 0

    n_pass = n_fail = n_rows_only = 0
    for name, spec in sorted(specs.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            sdf = spec.fn(spark, sf_dir)
            srows = sdf.collect()
            scols = sdf.columns
        except Exception as e:  # noqa: BLE001
            print(f"FAIL {name}: spark error: {e} (spark {time.time() - t0:.1f}s)")
            n_fail += 1
            continue
        spark_s = time.time() - t0
        if spec.oracle is None:
            print(f"rows-only {name}: {len(srows)} rows (spark {spark_s:.1f}s)")
            n_rows_only += 1
            continue
        if n_since_recycle >= 15:
            con.close()
            con = fresh_con()
            n_since_recycle = 0
        n_since_recycle += 1
        # Transient allocator failures (shared process with Spark's JVM:
        # commit-limit / map-count pressure spikes during heavy Spark
        # stages, then clears) get ONE retry on a fresh connection after
        # a GC pause — a persistent failure still FAILs.
        orows = None
        retried = False
        t1 = time.time()

        def took() -> str:
            return f"(spark {spark_s:.1f}s, duckdb {time.time() - t1:.1f}s)"

        for attempt in (1, 2):
            try:
                rel = con.sql(spec.oracle)
                ocols = list(rel.columns)
                otypes = [str(t) for t in rel.types]
                orows = rel.fetchall()
                break
            except Exception as e:  # noqa: BLE001
                transient = "allocat" in str(e).lower() or "out of memory" in str(e).lower()
                if attempt == 1 and transient:
                    retried = True
                    import gc

                    con.close()
                    gc.collect()
                    time.sleep(2.0)
                    con = fresh_con()
                    n_since_recycle = 0
                    continue
                if transient:
                    # In-process retries exhausted but the query passes
                    # in a clean process (verified for q154 at sf0.1):
                    # the co-tenant JVM can fragment this process's
                    # allocator past recovery. Run the oracle in a
                    # SUBPROCESS with its own pristine allocator.
                    try:
                        ocols, otypes, orows = _oracle_subprocess(
                            spec.oracle, sf_dir, oracle_mem
                        )
                        retried = True
                        break
                    except Exception as e2:  # noqa: BLE001
                        print(f"FAIL {name}: duckdb error (subprocess): {e2} {took()}")
                        n_fail += 1
                        break
                print(f"FAIL {name}: duckdb error: {e} {took()}")
                n_fail += 1
                break
        if orows is None:
            continue
        timing = took()

        problems = []
        # The driver's comparator does NOT share this script's numeric
        # normalization: a DuckDB HUGEINT (what SUM(integer) returns)
        # can canonicalize as "5000.0" there while Spark's BIGINT says
        # "5000" — the exact r05 failure class (q155/q159/q169-q173/
        # q181: the ONLY 8 catalog oracles with HUGEINT outputs were
        # the ONLY 8 red rows). Treat any non-portable output type as
        # a hard failure here even though the values match locally.
        _NON_PORTABLE = ("HUGEINT", "UHUGEINT")
        risky = [
            f"{c}:{t}"
            for c, t in zip(ocols, otypes)
            if any(p in t for p in _NON_PORTABLE)
        ]
        if risky:
            problems.append(
                f"non-portable oracle output type (cast to BIGINT): {risky}"
            )
        # Generalized guard for the same class: the per-column TYPE KIND
        # must match between engines, or the driver's canonicalizer can
        # diverge even when local values compare equal (second instance
        # caught pre-ship: a DuckDB bare decimal literal made q229's
        # share column DECIMAL vs Spark's DOUBLE — "0.045757" vs
        # 0.045757). Kinds: int / float / decimal / str / date / ts /
        # bool; DECIMAL-vs-DOUBLE and INT-vs-DOUBLE both fail here.
        sd = dict(zip(scols, (t for _, t in sdf.dtypes)))
        od = dict(zip(ocols, otypes))
        kind_mism = [
            f"{c}: spark={sd[c]} duck={od[c]}"
            for c in sd
            if c in od and _type_kind_spark(sd[c]) != _type_kind_duck(od[c])
        ]
        if kind_mism:
            problems.append(f"output type-kind mismatch: {kind_mism}")
        if len(srows) != len(orows):
            problems.append(f"rowcount spark={len(srows)} duck={len(orows)}")
        if sorted(scols) != sorted(ocols):
            problems.append(f"columns spark={sorted(scols)} duck={sorted(ocols)}")
        if not problems:
            sn = normalize([tuple(r) for r in srows], scols)
            on = normalize(orows, ocols)
            if sn != on:
                for i, (a, b) in enumerate(zip(sn, on)):
                    if a != b:
                        problems.append(f"first value diff at row {i}: spark={a} duck={b}")
                        break
                else:
                    problems.append("value diff (row sets differ)")
        if problems:
            print(f"FAIL {name}: {'; '.join(problems)} {timing}")
            n_fail += 1
        else:
            note = " [oracle retried]" if retried else ""
            print(f"ok   {name}: {len(srows)} rows {timing}{note}")
            n_pass += 1
        # Drain every persisted intermediate Spark tracks (minhash
        # signatures, sketch counters, frame digests, ...) AND the RDD
        # blocks behind any localCheckpoint (invisible to clearCache —
        # r12 ADVICE): a full catalog sweep
        # shares one 48g JVM with the DuckDB oracle, and without the
        # per-query drain every persist-heavy entry's blocks stay
        # pinned for the rest of the run.
        release_session_intermediates(spark)
        release_session_checkpoints(spark)

    print(f"\n{n_pass} ok, {n_rows_only} rows-only, {n_fail} FAIL")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main())
