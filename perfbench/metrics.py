"""Metric assembly for perfbench: end-to-end metrics from untraced
iterations, per-layer metrics from traced ones, and the host
contamination report. Every metric is {"value", "unit", "n"} where
``n`` is its sample count."""

from __future__ import annotations

import os
import statistics
import time
from collections import defaultdict

import spans as tr
from workloads import PIPELINE_GATES

NAME_RE = r"[A-Za-z0-9_.-]+"


def _m(value: float, unit: str, n: int) -> dict:
    return {"value": float(value), "unit": unit, "n": n}


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated ``q``-th percentile (0..100)."""
    xs = sorted(values)
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def node_percentiles(warm: list) -> dict:
    """p50/p95 of the per-operation times pooled over ``warm``."""
    ops = [t for it in warm for t in it.op_s]
    return {f"node_p{q}_ms": _m(1000 * percentile(ops, q), "ms", len(ops))
            for q in (50, 95)}


def end_to_end(setup_s: float, cold, warm: list, rss_mb: float) -> dict:
    """The bounded end-to-end metrics of BENCHMARK.json."""
    walls = [it.wall_s for it in warm]
    wall = statistics.median(walls)
    n_ops = statistics.median(len(it.op_s) for it in warm)
    return {
        "setup_s": _m(setup_s, "s", 1),
        "cold_wall_s": _m(cold.wall_s, "s", 1),
        "wall_s": _m(wall, "s", len(walls)),
        "nodes_per_s": _m(n_ops / wall, "1/s", len(walls)),
        "peak_rss_mb": _m(rss_mb, "MB", 1),
    }


MATERIALIZATIONS = ("view", "table", "incremental", "test")
SELF_LAYERS = ("parsing", "graph", "compilation", "materializations",
               "adapter", "events", "spark", "functions")
ADAPTER_METHODS = ("execute", "create_table_as", "create_view_as",
                   "insert_into", "insert_overwrite")
_MB = float(1 << 20)


def _iteration_layers(sp: list, selfs: dict, trace_id: int, jd: dict,
                      cpus: int, rows: dict) -> dict[str, tuple]:
    """{metric: (value, unit)} of one traced iteration."""
    by_id = {s.sid: s for s in sp}
    dur: dict[str, float] = defaultdict(float)
    calls: dict[str, int] = defaultdict(int)
    adapter_statements = 0
    for s in sp:
        parent = by_id.get(s.parent)
        if parent is not None and parent.name == s.name:
            continue  # re-entrant call: the outer span already covers it
        dur[s.name] += s.end - s.start
        calls[s.name] += 1
        if s.name == "spark.sql" and parent is not None \
                and parent.layer == "adapter":
            adapter_statements += 1
    mat_busy = sum(v for k, v in dur.items()
                   if k.startswith("materializations."))
    build = dur["runner.build"]
    v = {
        "parsing.load_s": (dur["parsing.load"], "s"),
        "graph.link_s": (dur["graph.link"], "s"),
        "graph.select_s": (dur["graph.select"], "s"),
        "graph.queue_wait_s": (dur["graph.queue_get"], "s"),
        "graph.queue_gets": (calls["graph.queue_get"], "count"),
        "compilation.compile_s": (dur["compilation.compile_node"], "s"),
        "compilation.calls": (calls["compilation.compile_node"], "count"),
    }
    for m in MATERIALIZATIONS:
        v[f"materializations.{m}_s"] = (dur[f"materializations.{m}"], "s")
        v[f"materializations.{m}_calls"] = (
            calls[f"materializations.{m}"], "count")
    for m in ADAPTER_METHODS:
        v[f"adapter.{m}_s"] = (dur[f"adapter.{m}"], "s")
    v["adapter.statements"] = (adapter_statements, "count")
    v["runner.init_s"] = (dur["runner.init"], "s")
    v["runner.artifacts_s"] = (dur["runner.artifacts"], "s")
    v["runner.worker_busy_frac"] = (
        mat_busy / (cpus * build) if build else 0.0, "ratio")
    v["events.fires"] = (calls["events.fire"], "count")
    v["events.fire_s"] = (dur["events.fire"], "s")
    v["spark.sql_s"] = (dur["spark.sql"], "s")
    v["spark.sql_calls"] = (calls["spark.sql"], "count")
    v["spark.action_s"] = (dur["spark.action"], "s")
    v["spark.action_calls"] = (calls["spark.action"], "count")
    v["spark.jobs"] = (jd["jobs"], "count")
    v["spark.stages"] = (jd["stages"], "count")
    v["spark.tasks"] = (jd["tasks"], "count")
    v["spark.catalyst_rule_s"] = (jd["rule_ns"] / 1e9, "s")
    v["spark.catalyst_effective_ratio"] = (
        jd["rule_effective_runs"] / jd["rule_runs"] if jd["rule_runs"]
        else 0.0, "ratio")
    v["spark.codegen_s"] = (jd["codegen_ns"] / 1e9, "s")
    v["spark.executor_run_s"] = (jd["executor_run_ms"] / 1e3, "s")
    v["spark.executor_cpu_s"] = (jd["stage_cpu_ns"] / 1e9, "s")
    v["spark.gc_s"] = (jd["gc_ms"] / 1e3, "s")
    v["spark.shuffle_read_mb"] = (jd["shuffle_read_b"] / _MB, "MB")
    v["spark.shuffle_write_mb"] = (jd["shuffle_write_b"] / _MB, "MB")
    v["spark.spill_mb"] = (jd["spill_b"] / _MB, "MB")
    for g in PIPELINE_GATES:
        v[f"functions.{g}.plan_s"] = (dur[f"functions.{g}.plan"], "s")
        v[f"functions.{g}.exec_s"] = (dur[f"functions.{g}.exec"], "s")
        v[f"functions.{g}.rows"] = (rows.get(g, 0), "count")
    for layer in SELF_LAYERS:
        v[f"{layer}.self_s"] = (selfs.get((trace_id, layer), 0.0), "s")
    v["trace.spans"] = (len(sp), "count")
    return v


def per_layer(tracer, traced: list, jvm_deltas: list, warm: list,
              cpus: int, rows: dict) -> dict:
    """Median over the traced iterations of each per-layer metric, plus
    the tracing overhead (median traced wall minus median untraced
    wall of the same run) and the node-time percentiles of the
    untraced warm iterations."""
    by_trace: dict[int, list] = defaultdict(list)
    for s in tracer.spans:
        by_trace[s.trace].append(s)
    selfs = tr.self_times(tracer.spans)
    per_iter = [_iteration_layers(by_trace[i], selfs, i, jd, cpus, rows)
                for (i, _), jd in zip(traced, jvm_deltas)]
    out = {}
    for name, (_, unit) in per_iter[0].items():
        out[name] = _m(statistics.median(p[name][0] for p in per_iter),
                       unit, len(per_iter))
    overhead = (statistics.median(it.wall_s for _, it in traced)
                - statistics.median(it.wall_s for it in warm))
    out["trace.overhead_s"] = _m(overhead, "s", len(traced) + len(warm))
    out.update(node_percentiles(warm))
    return out


def host_report(bench, host0, cg0, t0: float, cpus: int) -> dict:
    """Passive host counters over the measured window: hypervisor steal
    fraction, cgroup CPU throttling, whole-host busy fraction."""
    host1 = bench.host_cpu_times()
    window = time.perf_counter() - t0
    out = {"window_s": window, "cpus": cpus,
           "steal_frac": bench.steal_fraction(host0, host1),
           "loadavg_1m": os.getloadavg()[0]}
    if host0 and host1:
        d = [b - a for a, b in zip(host0, host1)]
        out["host_busy_frac"] = (1 - (d[3] + d[4]) / sum(d)) if sum(d) else None
    cg1 = bench.cgroup_cpu_stat()
    if cg0 is not None and cg1 is not None and window > 0:
        out["throttled_frac"] = (cg1["throttled_s"] - cg0["throttled_s"]) / (
            window * cpus)
        out["nr_throttled"] = cg1["nr_throttled"] - cg0["nr_throttled"]
    return out
