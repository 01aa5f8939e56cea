"""Span tracing at sparkt's layer boundaries, from outside the program.

``Tracer.install`` wraps the public callables at each layer boundary
(parse, graph, compile, materialize, adapter, runner, events, Spark SQL
and actions) and ``Tracer.uninstall`` puts the originals back, so the
same process can alternate traced and untraced iterations. A span is
(id, parent id, trace id, name, start, end, thread, attrs); the parent
is the innermost open span on the same thread and the trace id is the
benchmark iteration. Spans stay in memory until ``write``.

The layer of a span is its name up to the first dot. ``self_times``
gives each span's duration minus the part of it covered by its child
spans, summed per (trace id, layer).

``JvmCounters`` reads cumulative Spark counters through py4j (executor
totals, per-stage CPU and spill, codegen compile time, Catalyst rule
metrics); ``delta`` turns two snapshots into per-iteration numbers.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager


class Span:
    __slots__ = ("sid", "parent", "trace", "name", "start", "end", "tid",
                 "attrs")

    def __init__(self, sid, parent, trace, name, start, end, tid, attrs):
        self.sid, self.parent, self.trace, self.name = sid, parent, trace, name
        self.start, self.end, self.tid, self.attrs = start, end, tid, attrs

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    def as_list(self) -> list:
        return [self.sid, self.parent, self.trace, self.name, self.start,
                self.end, self.tid, self.attrs]


def _node_attrs(args, kwargs):
    """The node unique_id of a (ctx, node) or (self, node) call."""
    node = kwargs.get("node", args[1] if len(args) > 1 else None)
    uid = getattr(node, "unique_id", None)
    return {"uid": uid} if uid else None


class Tracer:
    def __init__(self):
        self.spans: list[Span] = []
        self.trace_id = 0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._patches: list[tuple[object, str, object]] = []

    @contextmanager
    def span(self, name: str, attrs: dict | None = None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        s = Span(next(self._ids), stack[-1].sid if stack else None,
                 self.trace_id, name, time.perf_counter(), None,
                 threading.get_ident(), attrs)
        stack.append(s)
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            stack.pop()
            self.spans.append(s)

    def _wrap(self, name, fn, attrs_fn=None):
        tracer = self

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with tracer.span(name, attrs_fn(args, kwargs) if attrs_fn
                             else None):
                return fn(*args, **kwargs)

        return traced

    def patch(self, owner, attr: str, name: str, attrs_fn=None) -> None:
        """Replace ``owner.attr`` (class, module or dict entry) by a
        traced wrapper; ``uninstall`` restores it."""
        if isinstance(owner, dict):
            orig = owner[attr]
            owner[attr] = self._wrap(name, orig, attrs_fn)
        else:
            orig = vars(owner)[attr]
            setattr(owner, attr, self._wrap(name, orig, attrs_fn))
        self._patches.append((owner, attr, orig))

    def install(self) -> None:
        from pyspark.sql import readwriter
        from pyspark.sql.classic import dataframe as classic_df
        from pyspark.sql.session import SparkSession

        import sparkt.runner as runner_mod
        from sparkt.adapter import SparkAdapter
        from sparkt.compilation import Compiler
        from sparkt.events import EventManager
        from sparkt.graph.queue import GraphQueue
        from sparkt.manifest import Manifest
        from sparkt.materializations import MATERIALIZATIONS
        from sparkt.parsing.parser import ManifestLoader

        self.patch(ManifestLoader, "load", "parsing.load")
        self.patch(runner_mod, "link_graph", "graph.link")
        self.patch(runner_mod.Runner, "_selected_uids", "graph.select")
        self.patch(GraphQueue, "get", "graph.queue_get")
        self.patch(Compiler, "compile_node", "compilation.compile_node",
                   _node_attrs)
        for mat in sorted(MATERIALIZATIONS):
            self.patch(MATERIALIZATIONS, mat, f"materializations.{mat}",
                       _node_attrs)
        # every adapter method that a materialization or the runner
        # calls, so adapter self time covers all of the layer's Python
        for attr, val in sorted(vars(SparkAdapter).items()):
            if callable(val) and not attr.startswith("__") and not \
                    isinstance(val, (staticmethod, classmethod, type)):
                self.patch(SparkAdapter, attr, f"adapter.{attr}")
        self.patch(runner_mod.Runner, "__init__", "runner.init")
        self.patch(runner_mod.Runner, "execute_nodes", "runner.build")
        self.patch(runner_mod.RunResults, "write", "runner.artifacts")
        self.patch(Manifest, "write", "runner.artifacts")
        self.patch(EventManager, "fire", "events.fire")
        self.patch(SparkSession, "sql", "spark.sql")
        for attr in ("collect", "count", "toPandas", "take", "first",
                     "head", "show", "toLocalIterator"):
            self.patch(classic_df.DataFrame, attr, "spark.action")
        for attr in ("save", "parquet", "saveAsTable", "insertInto"):
            self.patch(readwriter.DataFrameWriter, attr, "spark.action")

    def uninstall(self) -> None:
        while self._patches:
            owner, attr, orig = self._patches.pop()
            if isinstance(owner, dict):
                owner[attr] = orig
            else:
                setattr(owner, attr, orig)

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.as_list()) + "\n")


def _covered(intervals: list[tuple[float, float]]) -> float:
    """Total length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        elif e > cur_e:
            cur_e = e
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_times(spans: list[Span]) -> dict[tuple[int, str], float]:
    """{(trace id, layer): summed self time} where a span's self time
    is its duration minus the union of its children's intervals
    (clipped to the span)."""
    kids: dict[int, list[tuple[float, float]]] = defaultdict(list)
    by_id = {s.sid: s for s in spans}
    for s in spans:
        p = by_id.get(s.parent)
        if p is not None:
            kids[p.sid].append((max(s.start, p.start), min(s.end, p.end)))
    out: dict[tuple[int, str], float] = defaultdict(float)
    for s in spans:
        out[(s.trace, s.layer)] += (s.end - s.start) - _covered(kids[s.sid])
    return dict(out)


def _scala_iter(seq):
    it = seq.iterator()
    while it.hasNext():
        yield it.next()


class JvmCounters:
    """Cumulative JVM-side counters of one SparkSession."""

    def __init__(self, spark):
        self.spark = spark
        self._jvm = spark._jvm
        self._sc = spark.sparkContext._jsc.sc()
        self._counted: set[int] = set()

    def snapshot(self) -> dict[str, float]:
        # the status store is fed asynchronously by the listener bus:
        # drain it so the stages and tasks of the finished work show
        self._sc.listenerBus().waitUntilEmpty()
        store = self._sc.statusStore()
        snap = defaultdict(float)
        for e in _scala_iter(store.executorList(True)):
            snap["executor_run_ms"] += e.totalDuration()
            snap["gc_ms"] += e.totalGCTime()
            snap["shuffle_read_b"] += e.totalShuffleRead()
            snap["shuffle_write_b"] += e.totalShuffleWrite()
            snap["tasks"] += e.totalTasks()
        # stage-level counters (CPU, spill) exist only per stage: sum
        # the stages that completed since the previous snapshot
        # (bounded by spark.ui.retainedStages, far above one iteration)
        no_quantiles = self.spark.sparkContext._gateway.new_array(
            self._jvm.double, 0)
        for st in _scala_iter(store.stageList(None, False, False,
                                              no_quantiles, None)):
            sid = st.stageId()
            if sid not in self._counted and str(st.status()) == "COMPLETE":
                snap["stage_cpu_ns"] += st.executorCpuTime()
                snap["spill_b"] += (st.memoryBytesSpilled()
                                    + st.diskBytesSpilled())
                snap["stages"] += 1
                self._counted.add(sid)
        # job ids are sequential: the newest id counts jobs submitted
        snap["jobs"] = float(max(
            (j.jobId() for j in _scala_iter(store.jobsList(None))),
            default=-1) + 1)
        codegen = self._jvm.org.apache.spark.sql.catalyst.expressions \
            .codegen.CodeGenerator
        snap["codegen_ns"] = codegen.compileTime()
        rules = self._jvm.org.apache.spark.sql.catalyst.rules \
            .RuleExecutor.getCurrentMetrics()
        snap["rule_ns"] = rules.time()
        snap["rule_runs"] = rules.numRuns()
        snap["rule_effective_runs"] = rules.numEffectiveRuns()
        return dict(snap)


#: snapshot keys that are per-interval sums rather than cumulative
_INTERVAL_KEYS = {"stage_cpu_ns", "spill_b", "stages"}


def delta(before: dict, after: dict) -> dict[str, float]:
    return {k: after[k] if k in _INTERVAL_KEYS else after[k] - before[k]
            for k in after}
