"""The perfbench workloads.

Each workload is built once per run (inputs generated from the seed),
then ``iterate(i)`` performs one timed unit of work and returns its
``Iteration``; ``check()`` verifies the program's outputs after the
measured window. ``warmup`` and ``measured`` fix how many warm
iterations a run discards and then measures, so every run samples the
same stretch of the JIT's warm-up curve. An *operation* is one executed
DAG node (``warehouse_daily``) or one gate (``pipeline_ops``); a node
that ends in ``error``, ``fail`` or ``skipped``, a gate that raises,
and an output check that does not match each count as one failed
operation.
"""

from __future__ import annotations

import contextlib
import importlib.util
import os
import re
import time
from dataclasses import dataclass, field

import gen

OK_STATUSES = ("success", "pass")

#: registry gates run by pipeline_ops, with the twin-implementation
#: path each one takes (see README.md)
PIPELINE_GATES = [
    "t2_quality_scores",
    "d6_embedding_neardup",
    "sd1_semantic_dedup",
]


@dataclass
class Iteration:
    wall_s: float
    op_s: list[float]
    failed: list[str] = field(default_factory=list)


def _load_normalize():
    """``normalize`` from scripts/check_oracles.py: the registry's own
    order-insensitive row canonicalization."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "check_oracles.py")
    spec = importlib.util.spec_from_file_location("check_oracles", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.normalize


def compare_frames(got, want, normalize) -> str | None:
    """None when two pandas frames agree on columns, row count and
    order-insensitive values; else a one-line reason."""
    g_cols, g_rows = normalize(got)
    w_cols, w_rows = normalize(want)
    if g_cols != w_cols:
        return f"columns {g_cols} != {w_cols}"
    if len(g_rows) != len(w_rows):
        return f"rows {len(g_rows)} != {len(w_rows)}"
    if g_rows != w_rows:
        i = next(i for i, (a, b) in enumerate(zip(g_rows, w_rows)) if a != b)
        return f"value mismatch at sorted row {i}: {g_rows[i]} != {w_rows[i]}"
    return None


def compare_counts(got: dict[str, int], want: dict[str, int]) -> list[str]:
    """One message per name whose count differs (or is missing)."""
    return [f"{k}: {got.get(k)} rows != expected {v}"
            for k, v in sorted(want.items()) if got.get(k) != v]


def _count_all(spark, relations: list[str]) -> dict[str, int]:
    """Row counts of many relations in one Spark job."""
    sql = " union all ".join(
        f"select '{r}' as rel, count(*) as n from {r}" for r in relations)
    return {row["rel"]: row["n"] for row in spark.sql(sql).collect()}


class WarehouseDaily:
    """A daily star-schema build: an upsert batch lands in the orders
    source, then a fresh Runner builds staging views, independent table
    marts, a merge and an insert_overwrite incremental model and tests.
    Stage execution and the adapter write path dominate."""

    name = "warehouse_daily"
    schema = "wh"
    warmup, measured = 1, 4

    def __init__(self, spark, work: str, seed: int, threads: int, span):
        self.spark, self.threads, self.span = spark, threads, span
        self.root = os.path.join(work, "project")
        self.state = gen.WarehouseState(
            os.path.join(self.root, "data"), seed, n_orders=gen.N_ORDERS,
            n_customers=gen.N_CUSTOMERS, n_products=gen.N_PRODUCTS,
            n_stores=gen.N_STORES, batch=gen.BATCH)
        self.marts = gen.warehouse_project(self.root, max(4, threads))
        self.state.land(0)

    def iterate(self, i: int) -> Iteration:
        from sparkt.runner import Runner

        self.state.land(i + 1)
        # one process serves every iteration, so Spark's cached file
        # listing of the rewritten sources must be dropped (a fresh
        # `sparkt build` process would list them anew)
        for table in ("orders", "orders_changes"):
            if self.spark.catalog.tableExists(f"raw.{table}"):
                self.spark.catalog.refreshTable(f"raw.{table}")
        t0 = time.perf_counter()
        runner = Runner(self.root, spark=self.spark,
                        project_overrides={"schema": self.schema})
        rr = runner.build(threads=self.threads)
        wall = time.perf_counter() - t0
        return Iteration(
            wall, [r.execution_time for r in rr.results],
            [f"{r.unique_id}: {r.status} {r.message.splitlines()[0]}"
             if r.message else f"{r.unique_id}: {r.status}"
             for r in rr.results if r.status not in OK_STATUSES])

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        normalize = _load_normalize()
        con = duckdb.connect()
        try:
            for name, (table, select) in gen.WAREHOUSE_STAGING.items():
                con.execute(
                    f"create view {name} as select {select} from "
                    f"read_parquet('{self.state.path(table)}')")
            oracles = {m: re.sub(r"\{\{\s*ref\('(\w+)'\)\s*\}\}", r"\1", sql)
                       for m, sql in self.marts.items()}
            oracles.update(gen.INCREMENTAL_ORACLES)
            bad = []
            for name, sql in oracles.items():
                got = self.spark.table(f"{self.schema}.{name}").toPandas()
                why = compare_frames(got, con.execute(sql).fetchdf(),
                                     normalize)
                if why:
                    bad.append(f"{name}: {why}")
        finally:
            con.close()
        domain = {"fct_orders": gen.N_ORDERS,
                  "agg_store_day": gen.N_STORES * gen.N_DAYS}
        got = _count_all(self.spark, [f"{self.schema}.{m}" for m in domain])
        bad += compare_counts(
            {k.split(".", 1)[1]: v for k, v in got.items()}, domain)
        return len(oracles) + len(domain), bad


class PipelineOps:
    """A fixed list of registry gates over seeded documents/embeddings,
    each forced with the noop sink: Python plan construction, HOF
    expression trees, Arrow UDFs and shuffle joins dominate; there is
    no manifest or DAG."""

    name = "pipeline_ops"
    warmup, measured = 3, 4

    def __init__(self, spark, work: str, seed: int, threads: int, span):
        from sparkt.queries import QUERIES

        self.spark, self.span = spark, span
        self.data = os.path.join(work, "data")
        self.injected = gen.pipeline_inputs(self.data, seed)
        self.gates = {g: QUERIES[g] for g in PIPELINE_GATES}
        self.results: dict = {}
        self.rows: dict[str, int] = {}

    def iterate(self, i: int) -> Iteration:
        """One pass over the gates. Warm passes force each result with
        the noop sink; the cold pass (``i == 0``) collects it with
        ``toPandas`` instead, and ``check`` compares those results."""
        t0 = time.perf_counter()
        op_s, failed = [], []
        for name, fn in self.gates.items():
            g0 = time.perf_counter()
            try:
                with self.span(f"functions.{name}.plan"):
                    df = fn(self.spark, self.data)
                with self.span(f"functions.{name}.exec"):
                    if i == 0:
                        self.results[name] = df.toPandas()
                    else:
                        df.write.format("noop").mode("overwrite").save()
            except Exception as e:  # noqa: BLE001 — a failed gate is counted
                failed.append(f"{name}: {type(e).__name__}: {e}")
            op_s.append(time.perf_counter() - g0)
        return Iteration(time.perf_counter() - t0, op_s, failed)

    def check(self) -> tuple[int, list[str]]:
        import duckdb

        from sparkt.queries import ORACLES

        normalize = _load_normalize()
        con = duckdb.connect()
        bad = []
        try:
            for table in ("documents", "embeddings"):
                con.execute(
                    f"create view {table} as select * from read_parquet("
                    f"'{os.path.join(self.data, table)}.parquet')")
            for name in self.gates:
                got = self.results.get(name)
                if got is None:
                    bad.append(f"{name}: no result")
                    continue
                self.rows[name] = len(got)
                why = compare_frames(got, con.execute(ORACLES[name]).fetchdf(),
                                     normalize)
                if why:
                    bad.append(f"{name}: {why}")
        finally:
            con.close()
        return len(self.gates), bad


WORKLOADS = {w.name: w for w in (WarehouseDaily, PipelineOps)}


def no_span(name):
    return contextlib.nullcontext()
