"""Tests of the benchmark itself (no SparkSession needed).

Run from the repository root: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402
import spans as tr  # noqa: E402
from workloads import (  # noqa: E402
    PIPELINE_GATES, Iteration, _load_normalize, compare_counts,
    compare_frames,
)


def _tree_hashes(root: str) -> dict[str, str]:
    out = {}
    for d, _, names in os.walk(root):
        for n in names:
            p = os.path.join(d, n)
            with open(p, "rb") as f:
                out[os.path.relpath(p, root)] = hashlib.md5(f.read()).hexdigest()
    return out


def _generate(root: str, seed: int) -> dict[str, str]:
    # project files embed absolute source paths, so every seed writes
    # into a directory of the same name
    state = gen.WarehouseState(os.path.join(root, "wh", "data"), seed,
                               n_orders=2_000, n_customers=50,
                               n_products=20, n_stores=4, batch=100)
    gen.warehouse_project(os.path.join(root, "wh"), 6)
    state.land(0)
    state.land(1)
    gen.pipeline_inputs(os.path.join(root, "pipe"), seed, n_docs=200,
                        n_vecs=100)
    return _tree_hashes(root)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _generate(str(tmp_path / "x"), 7)
    b = _generate(str(tmp_path / "x"), 7)
    c = _generate(str(tmp_path / "x"), 8)
    assert a == b
    data = [k for k in a if k.endswith(".parquet")]
    assert len(data) == 7
    assert all(a[k] != c[k] for k in data)


def test_upsert_batches_keep_source_size(tmp_path):
    import pyarrow.parquet as pq

    state = gen.WarehouseState(str(tmp_path), 3, n_orders=2_000,
                               n_customers=50, n_products=20, n_stores=4,
                               batch=100)
    sizes = set()
    for i in range(3):
        state.land(i)
        t = pq.read_table(state.path("orders"))
        assert t.column("order_id").to_pylist() == list(range(2_000))
        sizes.add(pq.read_table(state.path("orders_changes")).num_rows)
    assert len(sizes) == 1


def _fake_trace():
    """Per-layer inputs for two traced iterations (trace ids 2 and 4)."""
    tracer = tr.Tracer()
    for i in (2, 4):
        tracer.trace_id = i
        with tracer.span("runner.build"):
            with tracer.span("materializations.view", {"uid": "model.x"}):
                with tracer.span("adapter.create_view_as"):
                    with tracer.span("spark.sql"):
                        pass
    jd = {k: 1.0 for k in ("executor_run_ms", "gc_ms", "shuffle_read_b",
                           "shuffle_write_b", "tasks", "stage_cpu_ns",
                           "spill_b", "stages", "jobs", "codegen_ns",
                           "rule_ns", "rule_runs", "rule_effective_runs")}
    traced = [(2, Iteration(1.1, [0.1])), (4, Iteration(1.2, [0.1]))]
    return tracer, traced, [jd, jd]


def test_metric_names_match_benchmark_json():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        spec = json.load(f)
    warm = [Iteration(1.0, [0.1, 0.2]), Iteration(1.5, [0.3, 0.1])]
    e2e = metrics.end_to_end(5.0, Iteration(3.0, [0.5]), warm, 900.0)
    tracer, traced, deltas = _fake_trace()
    layers = metrics.per_layer(tracer, traced, deltas, warm, 4, {})
    assert sorted(e2e) == sorted(m["name"] for m in spec["end_to_end"])
    assert sorted(layers) == sorted(m["name"] for m in spec["per_layer"])
    for table, spec_key in ((e2e, "end_to_end"), (layers, "per_layer")):
        units = {m["name"]: m["unit"] for m in spec[spec_key]}
        for name, m in table.items():
            assert re.fullmatch(metrics.NAME_RE, name), name
            assert m["unit"] == units[name], name
    assert all(f"functions.{g}.rows" in layers for g in PIPELINE_GATES)


def test_self_time_on_synthetic_span_tree():
    S = tr.Span
    spans = [
        S(1, None, 0, "adapter.execute", 0.0, 10.0, 1, None),
        # two overlapping Spark children cover [1, 5]; a third [6, 7]
        S(2, 1, 0, "spark.sql", 1.0, 4.0, 1, None),
        S(3, 1, 0, "spark.action", 3.0, 5.0, 1, None),
        S(4, 1, 0, "spark.action", 6.0, 7.0, 1, None),
        # grandchild: counts against its parent only
        S(5, 4, 0, "events.fire", 6.0, 6.5, 1, None),
        # child running past its parent's end is clipped
        S(6, None, 1, "graph.link", 0.0, 2.0, 1, None),
        S(7, 6, 1, "compilation.compile_node", 1.5, 3.0, 1, None),
    ]
    got = tr.self_times(spans)
    assert got[(0, "adapter")] == pytest.approx(10 - 4 - 1)
    assert got[(0, "spark")] == pytest.approx(3 + 2 + 0.5)
    assert got[(0, "events")] == pytest.approx(0.5)
    assert got[(1, "graph")] == pytest.approx(1.5)
    assert got[(1, "compilation")] == pytest.approx(1.5)


def test_traced_layers_from_span_tree():
    tracer, traced, deltas = _fake_trace()
    warm = [Iteration(1.0, [0.1])]
    out = metrics.per_layer(tracer, traced, deltas, warm, 1, {})
    assert out["materializations.view_calls"]["value"] == 1
    assert out["adapter.statements"]["value"] == 1
    assert out["trace.overhead_s"]["value"] == pytest.approx(0.15)
    assert out["spark.catalyst_effective_ratio"]["value"] == 1.0


def test_output_check_rejects_corrupted_result():
    normalize = _load_normalize()
    good = pd.DataFrame({"id": [1, 2, 3], "v": [0.5, 1.25, 2.0]})
    oracle = good.iloc[::-1].reset_index(drop=True)  # order-insensitive
    assert compare_frames(good, oracle, normalize) is None
    corrupt = good.copy()
    corrupt.loc[1, "v"] = 1.2500001
    assert "value mismatch" in compare_frames(corrupt, oracle, normalize)
    assert "rows" in compare_frames(good.iloc[:2], oracle, normalize)
    renamed = good.rename(columns={"v": "w"})
    assert "columns" in compare_frames(renamed, oracle, normalize)
    assert compare_counts({"a": 3, "b": 4}, {"a": 3, "b": 4}) == []
    assert compare_counts({"a": 3}, {"a": 3, "b": 4}) == [
        "b: None rows != expected 4"]


def test_percentile_interpolates():
    assert metrics.percentile([1, 2, 3, 4, 5], 50) == 3
    assert metrics.percentile([0, 10], 95) == pytest.approx(9.5)
