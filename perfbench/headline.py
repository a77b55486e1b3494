"""``headline_sf0.1``: the 32 headline queries at sf0.1, cold per query.

Each op releases the previous query's cached blocks, builds the plan
(``spec.fn(spark, sf_dir)``, including any eager ``localCheckpoint``
jobs) and forces it with the noop sink. The untimed warm pass collects
every query instead, and after the timed passes those rows are checked
against the query's registry oracle.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import time
from concurrent.futures import ThreadPoolExecutor

from airflow_scraping_etl_tutorial_spark.functions.caching import (
    release_session_checkpoints,
    release_session_intermediates,
)
from tools.check_correctness import normalize

from common import HEADLINE, Ctx, Op, PassResult
from spans import cpu_count

SF = "sf0.1"


def digest(rows: list[tuple], cols: list[str]) -> dict:
    """Row count, sorted column names and a hash of the rows in the
    canonical form of tools/check_correctness.py."""
    canon = repr(normalize([tuple(r) for r in rows], list(cols))).encode()
    return {"rows": len(rows), "columns": sorted(cols), "sha256": hashlib.sha256(canon).hexdigest()}


class Headline:
    def __init__(self, ctx: Ctx):
        self.ctx = ctx
        self.sf_dir = os.path.join(ctx.data_root, SF)
        self.got: dict[str, dict | str] = {}  # warm-pass digest, or the error

    def setup(self) -> None:
        ctx = self.ctx
        with ctx.tracer.span("plans.import"):
            from airflow_scraping_etl_tutorial_spark.plans import all_queries

            self.specs = all_queries()
        # Warm pass: JIT and codegen stay out of the timed ops, and its
        # collected rows are what the oracle check compares. Its cost is
        # mostly compiling, so it runs one query per core at a time
        # (about three quarters of the wall time of one after another).
        with ThreadPoolExecutor(cpu_count()) as pool:
            self.got = dict(pool.map(self.warm, self.order(-1)))
        self.release()

    def warm(self, name: str) -> tuple[str, dict | str]:
        try:
            df = self.specs[name].fn(self.ctx.spark, self.sf_dir)
            return name, digest(df.collect(), df.columns)
        except Exception as e:  # noqa: BLE001 - a failing query is a result
            return name, f"{type(e).__name__}: {e}"

    def order(self, pass_no: int) -> list[str]:
        names = list(HEADLINE)
        random.Random(f"{self.ctx.seed}:order:{pass_no}").shuffle(names)
        return names

    def release(self) -> int:
        spark = self.ctx.spark
        n = release_session_intermediates(spark, blocking=True)
        n += release_session_checkpoints(spark, blocking=True)
        spark.catalog.clearCache()
        return n

    def run_pass(self, pass_no: int) -> PassResult:
        ctx = self.ctx
        res = PassResult(pass_no)
        t_pass = time.perf_counter()
        for name in self.order(pass_no):
            op = ctx.next_op()
            with ctx.tracer.span("caching.release", op):
                res.add("caching.released", self.release())
            rec = Op(op, name)
            t0 = time.perf_counter()
            try:
                ctx.job_group(op, "build")
                with ctx.tracer.span("plans.build", op):
                    df = self.specs[name].fn(ctx.spark, self.sf_dir)
                t1 = time.perf_counter()
                ctx.job_group(op, "exec")
                with ctx.tracer.span("exec.exec", op):
                    df.write.format("noop").mode("overwrite").save()
                t2 = time.perf_counter()
            except Exception as e:  # noqa: BLE001
                rec.error = f"{type(e).__name__}: {e}"
            else:
                rec.latency = t2 - t0
                rec.parts = {"build": t1 - t0, "exec": t2 - t1}
                if ctx.tracer.enabled:
                    res.add("plans.build_jobs", ctx.stage_metrics(op, "build")["jobs"])
                    res.add_stages(ctx.stage_metrics(op, "exec"))
            res.ops.append(rec)
        res.wall = time.perf_counter() - t_pass
        return res

    def check(self) -> PassResult:
        """One check per query: its warm-pass output against the oracle's."""
        oracle = oracle_digests(self.ctx.work_dir, self.ctx.data_root)
        return PassResult(-1, [Op(-1, n, "check", ok=self.got.get(n) == oracle.get(n)) for n in HEADLINE])

    def op_latencies(self, passes: list[PassResult]) -> list[float]:
        return [o.latency for p in passes for o in p.ops if o.latency is not None]


PINNED_ORACLE = os.path.join(os.path.dirname(os.path.abspath(__file__)), "oracle_sf0.1.json")


def oracle_digests(work_dir: str, data_root: str) -> dict[str, dict | str]:
    """DuckDB oracle digest per headline query, under a key of the
    oracle SQL, the input files' bytes and the DuckDB version. A digest
    file with the same key, the committed one or one an earlier run in
    this checkout built, saves the ~100 s the sf0.1 oracles take."""
    import duckdb

    from airflow_scraping_etl_tutorial_spark.plans import all_queries
    from airflow_scraping_etl_tutorial_spark.sources.tables import TABLES

    specs = all_queries()
    sf_dir = os.path.join(data_root, SF)
    key = hashlib.sha256(duckdb.__version__.encode())
    for t in TABLES:
        with open(f"{sf_dir}/{t}.parquet", "rb") as f:
            key.update(f"{t}:{hashlib.sha256(f.read()).hexdigest()}".encode())
    for n in HEADLINE:
        key.update(f"{n}:{specs[n].oracle}".encode())
    key = key.hexdigest()
    built = os.path.join(work_dir, f"oracle-{key[:16]}.json")
    for path in (PINNED_ORACLE, built):
        if os.path.exists(path):
            with open(path) as f:
                saved = json.load(f)
            if saved["key"] == key:
                return saved["digests"]
    con = duckdb.connect()
    try:
        con.execute("SET memory_limit='6GB'")
        con.execute(f"SET temp_directory='{work_dir}/duckdb_spill'")
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
        out: dict[str, dict | str] = {}
        for n in HEADLINE:
            rel = con.sql(specs[n].oracle)
            out[n] = digest(rel.fetchall(), list(rel.columns))
    finally:
        con.close()
    with open(built + ".tmp", "w") as f:
        json.dump({"key": key, "digests": out}, f, indent=1, sort_keys=True)
    os.replace(built + ".tmp", built)
    return out
