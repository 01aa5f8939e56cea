"""Runner: the threaded DAG scheduler + task entry points.

Reference: ``core/dbt/task/runnable.py:364-402`` (ThreadPool over a
GraphQueue), ``core/dbt/task/runnable.py:272-340`` (callbacks + skip
propagation), ``core/dbt/task/run.py:258-339`` (per-node
materialization dispatch + on-run-start/end hooks),
``core/dbt/task/freshness.py:107-145`` (source freshness). Each worker
thread issues independent Spark jobs — Spark is thread-safe and
schedules them concurrently (SURVEY.md §2.2).
"""

from __future__ import annotations

import json
import os
import threading
import time
import traceback
from dataclasses import dataclass, field
from datetime import datetime, timezone
from queue import Empty

import networkx as nx

from sparkt.adapter import SparkAdapter
from sparkt import events as EV
from sparkt.compilation import Compiler
from sparkt.graph.linker import link_graph
from sparkt.graph.queue import GraphQueue, build_order_graph
from sparkt.graph.selector import select_nodes
from sparkt.manifest import Manifest, ParsedNode
from sparkt.materializations import MatContext, get_materialization
from sparkt.parsing.parser import ManifestLoader
from sparkt.project import Project, load_project


def _sample_bounds(spec: str, now) -> tuple[str, str]:
    """Parse a --sample spec ("3 days", "12 hours") into the trailing
    (start, end) event-time window ending now (UTC, naive — matching
    the testdata's timestamp_ntz columns)."""
    import re as _re
    from datetime import timedelta

    from sparkt.exceptions import ExecutionError

    m = _re.match(r"^\s*(\d+)\s*(hour|day)s?\s*$", str(spec).lower())
    if not m:
        raise ExecutionError(
            f"--sample expects 'N hours' or 'N days', got {spec!r}"
        )
    n, unit = int(m.group(1)), m.group(2)
    end = now.astimezone(timezone.utc).replace(tzinfo=None)
    start = end - (
        timedelta(hours=n) if unit == "hour" else timedelta(days=n)
    )
    return (start.isoformat(sep=" "), end.isoformat(sep=" "))


@dataclass
class RunResult:
    unique_id: str
    status: str  # success | error | skipped | pass | warn | fail
    message: str = ""
    execution_time: float = 0.0
    failures: int | None = None
    thread: str = ""
    # v5 TimingInfo entries ({name, started_at, completed_at})
    timing: list = field(default_factory=list)
    # microbatch per-batch outcomes (run-results v6 BatchResults:
    # {successful: [[start,end],...], failed: [[start,end],...]}) —
    # None for every non-microbatch node
    batch_results: dict | None = None

    def to_dict(self) -> dict:
        # run-results v5 RunResultOutput — additionalProperties: false,
        # all 11 keys required (schemas/dbt/run-results/v5.json);
        # batch_results is the v6 extension key, emitted only when a
        # microbatch node actually produced batches so plain artifacts
        # still validate against the published v5 schema
        out = {
            "status": self.status,
            "timing": self.timing,
            "thread_id": self.thread,
            "execution_time": self.execution_time,
            "adapter_response": {},
            "message": self.message or None,
            "failures": self.failures,
            "unique_id": self.unique_id,
            "compiled": None,
            "compiled_code": None,
            "relation_name": None,
        }
        if self.batch_results is not None:
            out["batch_results"] = self.batch_results
        return out


@dataclass
class RunResults:
    results: list[RunResult] = field(default_factory=list)
    elapsed: float = 0.0
    generated_at: str = ""
    # invocation args echoed into the artifact (v5 `args`, reference
    # records the flags the command ran with)
    args: dict = field(default_factory=dict)

    @property
    def ok(self) -> bool:
        return all(r.status in ("success", "pass", "warn", "skipped") for r in self.results)

    def write(self, path: str) -> None:
        """run-results v5 artifact (``schemas/dbt/run-results/v5.json``;
        validated by tests/test_state_and_artifacts.py)."""
        from sparkt import __version__

        with open(path, "w") as f:
            json.dump(
                {
                    "metadata": {
                        "dbt_schema_version":
                            "https://schemas.getdbt.com/dbt/run-results/v5.json",
                        "dbt_version": __version__,
                        "generated_at": self.generated_at,
                        "invocation_id": None,
                    },
                    "results": [r.to_dict() for r in self.results],
                    "elapsed_time": self.elapsed,
                    "args": self.args,
                },
                f,
                indent=1,
                default=str,
            )


class Runner:
    def __init__(
        self,
        project_root: str,
        spark=None,
        cli_vars: dict | None = None,
        project_overrides: dict | None = None,
        partial_parse: bool | None = None,
        record: str | bool | None = None,
        replay: str | bool | None = None,
    ):
        self.project: Project = load_project(project_root, project_overrides)
        # True = "default bundle location": resolved against the
        # PROJECT's target dir (which honors target-path config), not a
        # hardcoded <project>/target
        if record is True:
            record = os.path.join(
                self.project.target_dir, "recording.jsonl"
            )
        if replay is True:
            replay = os.path.join(
                self.project.target_dir, "recording.jsonl"
            )
        if replay is not None:
            # record/replay support bundle (sparkt/record.py): replay a
            # captured run WITHOUT a warehouse — no SparkSession is
            # created; a touch of self.spark is itself a divergence
            from sparkt.record import ReplayAdapter

            self.spark = spark  # usually None; replay never uses it
            self.adapter = ReplayAdapter(replay)
        else:
            if spark is None:
                from sparkt.session import get_spark

                spark = get_spark()
            self.spark = spark
            self.adapter = SparkAdapter(spark, self.project.warehouse_dir)
            if record is not None:
                from sparkt.record import RecordingAdapter

                self.adapter = RecordingAdapter(self.adapter, record)
        self.cli_vars = cli_vars or {}
        self.loader = ManifestLoader(self.project, self.cli_vars)
        # --no-partial-parse / DBT_PARTIAL_PARSE=0 (reference
        # cli/params.py partial_parse): force a full re-parse
        if partial_parse is None:
            partial_parse = os.environ.get(
                "DBT_PARTIAL_PARSE", "1"
            ).lower() not in ("0", "false", "no")
        self.manifest: Manifest = self.loader.load(partial=partial_parse)
        self.compiler = Compiler(
            self.project, self.manifest, self.loader.env, self.adapter,
            cli_vars=self.cli_vars,
            macro_templates=self.loader.macro_templates,
        )
        os.makedirs(self.project.target_dir, exist_ok=True)
        os.makedirs(os.path.join(self.project.target_dir, "compiled"), exist_ok=True)
        # structured event log (core/dbt/events: jsonl logs/dbt.log)
        import uuid

        from sparkt import __version__
        from sparkt.events import EventManager, MainReportVersion

        self.invocation_id = str(uuid.uuid4())
        self.events = EventManager(
            os.path.join(self.project.project_root, "logs"),
            self.invocation_id,
        )
        self.events.fire(MainReportVersion(version=__version__))
        # attach the invocation's event manager to the deprecations
        # singleton so parse-time deprecations reach logs/dbt.log and
        # --warn-error-options can promote them by event name
        from sparkt import deprecations

        deprecations.set_event_manager(self.events)
        # adapter event family (SQLQuery/SQLQueryStatus/CacheAction —
        # public dbt-adapters codes): hand the live adapter the event
        # manager. Through a RecordingAdapter proxy the inner adapter
        # does the firing; ReplayAdapter stays silent (no warehouse,
        # nothing executes)
        inner = getattr(self.adapter, "_inner", self.adapter)
        if not getattr(inner, "is_replay", False):
            inner.events = self.events

    # ------------------------------------------------------------ sources
    def register_sources(self) -> None:
        """External-location sources become zero-copy external tables
        (reference: external tables on sources,
        ``artifacts/resources/v1/source_definition.py:62``)."""
        for node in self.manifest.sources.values():
            if node.external_location:
                rel = self.compiler.relation_for(node)
                loc = node.external_location.format(name=node.name)
                self.adapter.register_external_table(
                    rel, loc,
                    fmt=node.external_format,
                    options=node.external_options or None,
                )

    # ------------------------------------------------------------ helpers
    def _executable(self, uid: str, which: str) -> bool:
        node = self.manifest.all_nodes().get(uid)
        if node is None or node.resource_type == "source":
            return False
        if not node.config.get("enabled", True):
            return False
        if node.config.get("external_node"):
            # plugin-contributed external models are built elsewhere
            # (sparkt/plugins.py); they resolve but never execute
            return False
        by_task = {
            "run": {"model"},
            "seed": {"seed"},
            "snapshot": {"snapshot"},
            "test": {"test", "unit_test"},
            "build": {"model", "seed", "snapshot", "test", "unit_test"},
            "compile": {"model", "test", "analysis", "snapshot"},
        }
        return node.resource_type in by_task.get(which, set())

    def _run_hooks(self, hooks, node: ParsedNode | None = None) -> None:
        if not hooks:
            return
        if isinstance(hooks, str):
            hooks = [hooks]
        def _render(hook_sql: str) -> str:
            if node is not None:
                # a synthetic node (so the parent's compiled_code is
                # not clobbered) that INHERITS the parent's identity:
                # the reference renders hooks in the model context, so
                # {{ this }}, load_agate_table (seeds) etc. must see
                # the parent's resource_type/name/config
                hook_node = ParsedNode(
                    unique_id=f"operation.{self.project.name}.hook",
                    name=node.name,
                    package_name=node.package_name,
                    resource_type=node.resource_type,
                    path=node.path,
                    raw_code=hook_sql,
                    config=node.config,
                )
                hook_node.relation = node.relation
                return self.compiler.render(hook_node, extra_ctes=[])
            return self.compiler.render(
                ParsedNode(
                    unique_id=f"operation.{self.project.name}.hook",
                    name="hook",
                    package_name=self.project.name,
                    resource_type="operation",
                    raw_code=hook_sql,
                ),
                extra_ctes=[],
            )

        # SEQUENTIAL lazy render: each hook renders right before it
        # executes, so a later hook's render-time run_query() sees the
        # earlier hooks' effects (an eager render-all pass broke that
        # — second-opinion review #8). Index assignment is
        # execute-time, so a hook whose Jinja renders to whitespace
        # consumes no index and the fired 'i of n' sequence stays
        # CONTIGUOUS 1..k (r12 runner review #9); total counts the
        # declared raw hooks, which may overcount when some render
        # empty — contiguity, not total-exactness, is the invariant.
        raw_hooks = [h for h in hooks if h]
        index = 0
        for hook_sql in raw_hooks:
            rendered = _render(hook_sql)
            if not rendered.strip():
                continue
            index += 1
            self.events.fire(EV.LogHookStartLine(
                statement=rendered.strip()[:60],
                index=index, total=len(raw_hooks),
            ))
            t0 = time.time()
            self.adapter.execute(rendered)
            self.events.fire(EV.LogHookEndLine(
                statement=rendered.strip()[:60], status="success",
                index=index, total=len(raw_hooks),
                execution_time=time.time() - t0,
            ))

    def _write_compiled(self, node: ParsedNode) -> None:
        if node.compiled_code is None:
            return
        path = os.path.join(
            self.project.target_dir, "compiled", f"{node.name}.sql"
        )
        with open(path, "w") as f:
            f.write(node.compiled_code)

    # ---------------------------------------------------------- execution
    def _execute_node(self, ctx: MatContext, node: ParsedNode) -> RunResult:
        start = time.time()
        # Q030/Q031 lifecycle pair (the materializations compile then
        # execute inside mat_fn, so both fire here at entry)
        self.events.fire(EV.NodeCompiling(unique_id=node.unique_id))
        self.events.fire(EV.NodeExecuting(unique_id=node.unique_id))

        def timing():
            # one "execute" TimingInfo spanning the materialization
            # (v5 shape; the reference splits compile/execute, sparkt
            # compiles inside the materialization)
            return [{
                "name": "execute",
                "started_at": datetime.fromtimestamp(
                    start, tz=timezone.utc).isoformat(),
                "completed_at": datetime.now(timezone.utc).isoformat(),
            }]

        try:
            # query attribution: rendered query-comment rides every
            # submitted statement for this node and names the Spark jobs
            # in the UI (thread-local; reference query_comment,
            # core/dbt/config/project.py:211-240)
            ctx.adapter.set_query_header(
                self._query_comment_for(node) or None,
                self.project.query_comment.get("append", False),
            )
            # adapter model hooks (reference pre_model_hook/post_model_hook):
            # per-model session conf, e.g. spark_session_conf={'spark.sql.
            # shuffle.partitions': 8}. NB the session is shared across
            # worker threads — concurrently running models see the
            # override too; isolate via threads=1 or per-worker sessions.
            hook_state = ctx.adapter.pre_model_hook(node.config)
            try:
                self._run_hooks(node.config.get("pre_hook"), node)
                mat_fn = get_materialization(node.materialized)
                out = mat_fn(ctx, node)
                self._run_hooks(node.config.get("post_hook"), node)
            finally:
                ctx.adapter.post_model_hook(node.config, hook_state)
            if node.config.get("grants") and node.relation is not None:
                ctx.adapter.apply_grants(
                    node.relation, node.config["grants"]
                )
            self._write_compiled(node)
            if isinstance(out, dict):
                # tests + microbatch return status dicts
                return RunResult(
                    unique_id=node.unique_id,
                    status=out.get("status", "success"),
                    message=out.get("message", ""),
                    failures=out.get("failures"),
                    execution_time=time.time() - start,
                    thread=threading.current_thread().name,
                    timing=timing(),
                    batch_results=out.get("batch_results"),
                )
            return RunResult(
                unique_id=node.unique_id,
                status="success",
                message=str(out),
                execution_time=time.time() - start,
                thread=threading.current_thread().name,
                timing=timing(),
            )
        except Exception as e:  # noqa: BLE001
            return RunResult(
                unique_id=node.unique_id,
                status="error",
                message=f"{type(e).__name__}: {e}\n{traceback.format_exc(limit=3)}",
                execution_time=time.time() - start,
                thread=threading.current_thread().name,
            )
        finally:
            ctx.adapter.set_query_header(None)

    def _fire_result_line(
        self, node: ParsedNode, res, index: int, total: int
    ) -> None:
        """Resource-typed result line (reference Q007/Q012/Q015/Q016):
        a log consumer keys test/seed/snapshot outcomes on their own
        codes, not the model code."""
        rt = node.resource_type
        if rt == "test":
            self.events.fire(EV.LogTestResult(
                name=node.name, status=res.status, index=index,
                total=total, num_failures=res.failures or 0,
                execution_time=res.execution_time,
            ))
        elif rt == "seed":
            self.events.fire(EV.LogSeedResult(
                schema=self.project.schema, relation=node.name,
                status=res.status, index=index, total=total,
                execution_time=res.execution_time,
            ))
        elif rt == "snapshot":
            self.events.fire(EV.LogSnapshotResult(
                description=node.unique_id, status=res.status,
                index=index, total=total,
                execution_time=res.execution_time,
            ))
        else:
            self.events.fire(EV.LogModelResult(
                description=node.unique_id, status=res.status,
                index=index, total=total,
                execution_time=res.execution_time,
            ))

    def _query_comment_for(self, node: ParsedNode) -> str:
        """Render the project's query-comment for one node. Default
        (no config) is the dbt-style JSON attribution blob; an explicit
        empty/null config disables the comment."""
        qc = self.project.query_comment
        tmpl = qc.get("comment")
        if tmpl == "":
            return ""
        if tmpl is None:
            from sparkt import __version__

            return json.dumps({
                "app": "sparkt",
                "dbt_version": __version__,
                "node_id": node.unique_id,
                "invocation_id": self.invocation_id,
            })
        return self.loader.env.from_string(str(tmpl)).render(
            node=Compiler._node_view(node),
            target=self.project.target_context(),
            invocation_id=self.invocation_id,
        ).strip()

    def _selected_uids(self, graph, select, exclude, selector, state_manifest,
                       allow_default=True, indirect="eager"):
        """Resolve --select/--exclude or a named selectors.yml entry
        (``--selector``; reference ``core/dbt/graph/cli.py:235``). With
        no explicit selection, a selectors.yml entry marked
        ``default: true`` applies — unless ``allow_default`` is False
        (the retry path passes an explicit uid set; intersecting it
        with a default selector could silently drop failed nodes,
        reference ``core/dbt/task/retry.py`` replays the original
        selection instead)."""
        from sparkt.graph.selector import SelectorError, select_from_definition

        named = self.project.selectors
        if selector is not None:
            if select or exclude:
                raise SelectorError(
                    "cannot combine --selector with --select/--exclude"
                )
            if selector not in named:
                raise SelectorError(f"unknown selector '{selector}'")
            return select_from_definition(
                graph, self.manifest, named[selector]["definition"],
                named, state_manifest, frozenset({selector}),
                indirect=indirect,
            )
        if select is None and exclude is None and allow_default:
            default = next(
                (n for n, d in named.items() if d.get("default")), None
            )
            if default is not None:
                return select_from_definition(
                    graph, self.manifest, named[default]["definition"],
                    named, state_manifest, frozenset({default}),
                    indirect=indirect,
                )
        return select_nodes(
            graph, self.manifest, select, exclude, state=state_manifest,
            indirect=indirect,
        )

    def execute_nodes(
        self,
        which: str = "run",
        select: str | None = None,
        exclude: str | None = None,
        full_refresh: bool = False,
        threads: int | None = None,
        state: str | None = None,
        defer: bool = False,
        only_uids: set | None = None,
        empty: bool = False,
        selector: str | None = None,
        fail_fast: bool = False,
        warn_error: bool = False,
        warn_error_options: str | None = None,
        favor_state: bool = False,
        indirect_selection: str | None = None,
        resource_types: list[str] | None = None,
        exclude_resource_types: list[str] | None = None,
        event_time_start: str | None = None,
        event_time_end: str | None = None,
        sample: str | None = None,
        defer_state: str | None = None,
        store_failures: bool = False,
        write_json: bool = True,
        export_saved_queries: bool = False,
        retry_batches: dict | None = None,
    ) -> RunResults:
        t0 = time.time()
        # --warn-error (blanket) + --warn-error-options (granular
        # include/exclude/silence by event name, reference
        # core/dbt/cli/main.py:138); both live on the event manager so
        # every warn site routes through events.promotes(). Precedence:
        # CLI flag > env var (click envvar) > dbt_project.yml flags:
        # tier > default (reference core/dbt/cli/flags.py).
        from sparkt import events as EV
        from sparkt.events import WarnErrorOptions

        project_flags = self.project.flags
        if not warn_error:
            warn_error = bool(project_flags.get("warn_error", False))
        if warn_error_options is None:
            warn_error_options = project_flags.get("warn_error_options")
        if not fail_fast:
            fail_fast = bool(project_flags.get("fail_fast", False))
        self.events.warn_error = warn_error
        self.events.warn_error_options = (
            warn_error_options
            if isinstance(warn_error_options, WarnErrorOptions)
            else WarnErrorOptions.from_yaml(warn_error_options)
        )
        # parse-time deprecations buffered in __init__ flush NOW, so
        # include/exclude/silence apply to them (a WarnAsError here
        # aborts the command before any node runs — the reference's
        # behavior for promoted parse warnings)
        from sparkt import deprecations as _dep

        _dep.flush_buffered()
        # --empty (reference cli/params.py:87): refs/sources compile to
        # zero-row subqueries — schema-only dry builds
        self.compiler.empty = empty
        # --sample="3 days" (EXTENSION: dbt 1.10 sample mode — this
        # reference snapshot predates it): every ref/source declaring an
        # event_time compiles window-filtered to the trailing N
        # hours/days, so dev runs scan a time slice instead of 100 TB.
        # Microbatch models manage their own bounds per batch and
        # override this inside _materialize_microbatch.
        self.compiler.sample_bounds = (
            _sample_bounds(sample, datetime.now(timezone.utc))
            if sample else None
        )
        state_manifest = None
        if state is not None:
            from sparkt.state import StateManifest

            state_manifest = StateManifest(state)
            # current-invocation freshness results (target/sources.json)
            # for source_status:fresher previous-vs-current comparison
            # (reference previous_state.sources_current)
            cur_path = os.path.join(self.project.target_dir, "sources.json")
            if os.path.exists(cur_path):
                with open(cur_path) as f:
                    state_manifest.freshness_current = (
                        json.load(f).get("results", [])
                    )
        # defer is per-invocation: clear any prior run's deferral
        # before conditionally re-arming it (r12 runner review #2)
        self.compiler.defer_state = None
        self.compiler.favor_state = False
        if defer:
            from sparkt.state import StateManifest

            # --defer-state (reference cli/params.py defer_state): a
            # separate artifact dir for DEFERRAL while --state keeps
            # driving state: selectors
            dm = (
                StateManifest(defer_state) if defer_state
                else state_manifest
            )
            if dm is not None:
                self.compiler.defer_state = dm
                self.compiler.favor_state = favor_state
        # --indirect-selection tier: CLI flag > DBT_INDIRECT_SELECTION
        # env (click envvar) > project flags: > eager default (reference
        # cli/params.py:138 + flags precedence)
        if indirect_selection is None:
            indirect_selection = project_flags.get(
                "indirect_selection", "eager"
            )
        self.register_sources()
        graph = link_graph(self.manifest, add_test_edges=(which == "build"))
        selected = self._selected_uids(
            graph, select, exclude, selector, state_manifest,
            allow_default=only_uids is None, indirect=indirect_selection,
        )
        if only_uids is not None:
            selected &= only_uids
        to_run = {uid for uid in selected if self._executable(uid, which)}
        # --resource-type / --exclude-resource-type (reference
        # cli/params.py resource_type; 'test' covers data tests,
        # 'unit_test' unit tests — same taxonomy as NodeType)
        if resource_types:
            to_run = {
                uid for uid in to_run
                if self.manifest.nodes[uid].resource_type
                in set(resource_types)
            }
        if exclude_resource_types:
            to_run = {
                uid for uid in to_run
                if self.manifest.nodes[uid].resource_type
                not in set(exclude_resource_types)
            }
        if not to_run and (select or selector) and only_uids is None:
            # reference graph/selector.py:145 — a selection matching
            # nothing is the canonical --warn-error-options example
            self.events.warn_or_error(EV.NoNodesForSelectionCriteria(
                spec_raw=select or selector or ""
            ))
        # favor_state scope: unselected refs defer to the state relation
        # (providers.py:559 checks SELECTED_RESOURCES)
        self.compiler.selected_uids = to_run
        # upstream non-selected nodes are not executed but must not gate
        # the queue: one nearest-selected-ancestor topological pass
        # (sparkt/graph/queue.py build_order_graph — the r12 runner
        # review #8 rewrite, 10k-node scaling pinned by
        # tests/test_orchestration_scale.py)
        order_graph = build_order_graph(graph, to_run)
        queue = GraphQueue(order_graph, to_run)

        # the invocation timestamp rides the record/replay bundle:
        # snapshots and microbatch embed it in generated SQL, so replay
        # must compile with the RECORDED time or every statement
        # diverges (sparkt/record.py)
        batch_ts = datetime.now(timezone.utc)
        record_meta = getattr(self.adapter, "record_meta", None)
        if record_meta is not None:
            record_meta({"batch_ts": batch_ts.isoformat()})
        next_meta = getattr(self.adapter, "next_meta", None)
        if next_meta is not None:
            m = next_meta()
            if m.get("batch_ts"):
                batch_ts = datetime.fromisoformat(m["batch_ts"])
        ctx = MatContext(
            spark=self.spark,
            adapter=self.adapter,
            compiler=self.compiler,
            manifest=self.manifest,
            project=self.project,
            full_refresh=full_refresh,
            extras={
                "batch_ts": batch_ts,
                # microbatch backfill window overrides
                "event_time_start": event_time_start,
                "event_time_end": event_time_end,
                # retry: per-uid failed batch windows from the prior
                # run_results — microbatch re-runs ONLY these
                "retry_batches": retry_batches,
                # per-batch structured events (Q043/Q044)
                "events": self.events,
                # --store-failures blanket enable for data tests
                "store_failures_flag": store_failures,
            },
        )
        self.adapter.create_schema(self.project.schema)
        self._run_hooks(self.project.on_run_start)

        results: dict[str, RunResult] = {}
        skipped: set[str] = set()
        aborted = threading.Event()  # set on first failure under --fail-fast
        lock = threading.Lock()
        n_threads = threads or self.project.threads

        self.events.fire(EV.MainReportArgs(args={
            "which": which, "select": select, "exclude": exclude,
            "threads": n_threads, "full_refresh": full_refresh,
        }))
        by_type: dict[str, int] = {}
        for n in self.manifest.nodes.values():
            by_type[n.resource_type] = by_type.get(n.resource_type, 0) + 1
        self.events.fire(EV.FoundStats(stat_line=(
            f"{by_type.get('model', 0)} models, "
            f"{by_type.get('seed', 0)} seeds, "
            f"{by_type.get('snapshot', 0)} snapshots, "
            f"{by_type.get('test', 0)} data tests, "
            f"{len(self.manifest.sources)} sources, "
            f"{by_type.get('unit_test', 0)} unit tests"
        )))
        self.events.fire(EV.ConcurrencyLine(
            num_threads=n_threads, target_name=self.project.schema,
        ))
        total = len(to_run)
        counter = iter(range(1, total + 1))

        def worker():
            while True:
                try:
                    uid = queue.get(block=True, timeout=0.05)
                except Empty:
                    if queue.empty():
                        return
                    continue
                # any failure between get() and mark_done() would
                # otherwise kill the worker pre-mark_done and leave the
                # remaining workers spinning on a never-draining queue
                try:
                    node = self.manifest.nodes[uid]
                    with lock:
                        is_skipped = uid in skipped
                        index = next(counter)
                    if aborted.is_set() and not is_skipped:
                        # reference runnable.py:386: remaining nodes are
                        # recorded as skipped, not silently dropped
                        results[uid] = RunResult(
                            unique_id=uid, status="skipped",
                            message="Skipping due to fail_fast",
                        )
                        self.events.fire(EV.SkippingDetails(
                            resource_type=node.resource_type,
                            unique_id=uid, index=index, total=total,
                        ))
                        continue
                    if is_skipped:
                        self.events.fire(EV.SkippingDetails(
                            resource_type=node.resource_type,
                            unique_id=uid, index=index, total=total,
                        ))
                        res = RunResult(unique_id=uid, status="skipped",
                                        message="upstream failure")
                    else:
                        self.events.fire(EV.NodeStart(unique_id=uid))
                        self.events.fire(EV.LogStartLine(
                            description=uid, index=index, total=total,
                        ))
                        res = self._execute_node(ctx, node)
                        if res.status == "warn" and self.events.promotes(
                            "TestWarning"
                        ):
                            # --warn-error (blanket) or
                            # --warn-error-options include:TestWarning;
                            # exclude/silence lists demote it back
                            res.status = "error"
                            res.message = (
                                f"[warn-error] {res.message or 'warning'}"
                            )
                        self.events.fire(EV.NodeFinished(
                            unique_id=uid, status=res.status,
                            execution_time=res.execution_time,
                        ))
                        for t in res.timing:
                            self.events.fire(EV.TimingInfoCollected(
                                unique_id=uid, name=t.get("name", ""),
                                started_at=t.get("started_at", ""),
                                completed_at=t.get("completed_at", ""),
                            ))
                        self._fire_result_line(node, res, index, total)
                        if res.status == "error" and res.message:
                            self.events.fire(EV.RunResultError(
                                msg=res.message.splitlines()[0],
                                unique_id=uid,
                            ))
                    if res.status in ("error", "fail"):
                        if fail_fast:
                            aborted.set()
                        # skip descendants (runnable.py:319-340);
                        # computed under the QUEUE's lock — traversing
                        # queue.graph here would race mark_done
                        descs = queue.descendants_of(uid)
                    else:
                        descs = set()
                    with lock:
                        results[uid] = res
                        skipped.update(descs)
                except Exception as e:  # noqa: BLE001 — scheduler bug guard
                    with lock:
                        results[uid] = RunResult(
                            unique_id=uid, status="error",
                            message=f"scheduler error: {type(e).__name__}: {e}",
                        )
                finally:
                    queue.mark_done(uid)

        workers = [
            threading.Thread(target=worker, name=f"Thread-{i+1}", daemon=True)
            for i in range(max(1, n_threads))
        ]
        # batch the durable catalog writes: one atomic save per run
        # instead of one file rewrite per DDL (adapter.defer_catalog_saves)
        with self.adapter.defer_catalog_saves():
            for w in workers:
                w.start()
            for w in workers:
                w.join()

        # an on-run-end hook failure must not discard the completed
        # run's results: artifacts still write (a later `retry` would
        # otherwise read the STALE previous run_results.json and rerun
        # the wrong node set — r12 runner review #4); the failure is
        # recorded as an error result like a failed node
        try:
            self._run_hooks(self.project.on_run_end)
        except Exception as e:  # noqa: BLE001 — any hook SQL error
            uid = f"operation.{self.project.name}.on_run_end"
            results[uid] = RunResult(
                unique_id=uid,
                status="error",
                message=f"on-run-end hook failed: {e}",
            )

        rr = RunResults(
            results=[results[uid] for uid in sorted(results)],
            elapsed=time.time() - t0,
            generated_at=datetime.now(timezone.utc).isoformat(),
            args={"which": which, "select": select, "exclude": exclude,
                  "full_refresh": full_refresh, "fail_fast": fail_fast,
                  "warn_error": warn_error,
                  "warn_error_options": (
                      warn_error_options
                      if isinstance(warn_error_options,
                                    (str, dict, type(None)))
                      else vars(warn_error_options)
                  )},
        )
        if write_json:  # --no-write-json skips artifact emission
            rr.write(
                os.path.join(self.project.target_dir, "run_results.json")
            )
            self.manifest.write(
                os.path.join(self.project.target_dir, "manifest.json")
            )
        if export_saved_queries and rr.ok:
            # --export-saved-queries (reference cli/params.py): run every
            # saved query's table exports after a successful build
            for sq in self.manifest.saved_queries:
                if sq.get("name"):
                    self.run_saved_query(sq["name"])
        self.events.fire(EV.CommandCompleted(
            command=which, success=rr.ok, elapsed=rr.elapsed,
        ))
        return rr

    # ------------------------------------------------------- task aliases
    def run(self, **kw) -> RunResults:
        return self.execute_nodes(which="run", **kw)

    def seed(self, **kw) -> RunResults:
        return self.execute_nodes(which="seed", **kw)

    def snapshot(self, **kw) -> RunResults:
        return self.execute_nodes(which="snapshot", **kw)

    def test(self, **kw) -> RunResults:
        return self.execute_nodes(which="test", **kw)

    def build(self, **kw) -> RunResults:
        return self.execute_nodes(which="build", **kw)

    def retry(self, **kw) -> RunResults:
        """Re-run only non-successful nodes from the previous invocation
        (``core/dbt/task/retry.py``). With ``--state``, the prior
        ``run_results.json`` is read from the state dir (the reference
        retry task replays from the ``--state`` artifacts)."""
        from sparkt.state import retry_candidates

        src_dir = kw.get("state") or self.project.target_dir
        path = os.path.join(src_dir, "run_results.json")
        if not os.path.exists(path):
            return self.build(**kw)
        bad = retry_candidates(path)
        if not bad:
            return RunResults(results=[], elapsed=0.0,
                              generated_at=datetime.now(timezone.utc).isoformat())
        # replay the ORIGINAL task type (reference retry.py restores the
        # prior task class) — replaying run/test/seed as 'build' would
        # add test edges and execute tests the first invocation never
        # ran. args.which is recorded in run-results v5.
        with open(path) as f:
            prior = json.load(f)
        prior_which = (prior.get("args") or {}).get("which")
        # dbt 1.9 batch retry: a partial-success microbatch node re-runs
        # ONLY its failed batch windows (idempotent window replace), not
        # the whole lookback
        retry_batches = {
            r["unique_id"]: r["batch_results"]["failed"]
            for r in prior.get("results", [])
            if (r.get("batch_results") or {}).get("failed")
            and r.get("status") in ("partial success", "error")
        }
        return self.execute_nodes(which=prior_which or "build",
                                  only_uids=bad,
                                  retry_batches=retry_batches or None,
                                  **kw)

    def clone(self, state: str, select: str | None = None) -> list[str]:
        """Copy relations recorded in a --state manifest into this
        target schema (``core/dbt/task/clone.py:18-126``): a CTAS copy,
        since every managed table is parquet (no zero-copy clone)."""
        from sparkt.state import StateManifest

        sm = StateManifest(state)
        graph = link_graph(self.manifest)
        selected = select_nodes(graph, self.manifest, select, state=sm)
        cloned = []
        for uid in sorted(selected):
            node = self.manifest.nodes.get(uid)
            if node is None or node.resource_type not in ("model", "seed", "snapshot"):
                continue
            src_name = sm.relation_name(uid)
            if not src_name:
                continue
            target_rel = self.compiler.relation_for(node)
            if src_name == target_rel.render():
                continue
            self.adapter.create_table_as(
                target_rel, select_sql=f"SELECT * FROM {src_name}"
            )
            cloned.append(target_rel.render())
        return cloned

    def query_metrics(self, metric_names, dimensions=None):
        """Compile + run a semantic-layer metrics query
        (SURVEY.md §2.6: simple/ratio/derived → Spark SQL)."""
        from sparkt.semantic import SemanticLayer

        layer = SemanticLayer()
        for spec in self.manifest.semantic_models:
            layer.add_semantic_model(spec)
        for spec in self.manifest.metrics:
            layer.add_metric(spec)

        def rel_for(model_expr):
            import re as _re

            m = _re.match(r"""ref\(['"](\w+)['"]\)""", str(model_expr))
            if m:
                target = self.manifest.ref_lookup(m.group(1))
                if target is not None:
                    return self.compiler.relation_for(target).render()
            return str(model_expr)

        sql = layer.compile_query(metric_names, dimensions, rel_for)
        return self.spark.sql(sql)

    def run_saved_query(self, name: str):
        """Execute a saved query (``v1/saved_query.py`` surface): its
        metric/group-by params compile through the semantic layer; a
        table export materializes the result."""
        for sq in self.manifest.saved_queries:
            if sq.get("name") == name:
                qp = sq.get("query_params", {}) or {}
                df = self.query_metrics(
                    qp.get("metrics", []) or [], qp.get("group_by") or []
                )
                for export in sq.get("exports", []) or []:
                    cfg = (export.get("config") or {})
                    if cfg.get("export_as", "table") == "table":
                        from sparkt.relation import Relation

                        rel = Relation(
                            schema=cfg.get("schema", self.project.schema),
                            identifier=export.get("name", name),
                        )
                        self.adapter.create_table_as(rel, df=df)
                return df
        raise ValueError(f"no saved query named '{name}'")

    def _catalog_stats(self, rel) -> dict:
        """CatalogTable.stats: the Spark-adapter ``bytes``/``rows``
        convention behind the standard ``has_stats`` sentinel (catalog
        v1 stat items: id/label/value/include/description). Views and
        stat-less relations get the reference's has_stats=False row."""
        stats = None
        try:
            stats = self.adapter.table_stats(rel)
        except Exception:
            stats = None
        out = {
            "has_stats": {
                "id": "has_stats",
                "label": "Has Stats?",
                "value": stats is not None,
                "include": False,
                "description":
                    "Indicates whether there are statistics for this table",
            },
        }
        if stats is not None:
            out["bytes"] = {
                "id": "bytes", "label": "Size", "value": stats["bytes"],
                "include": True, "description": "Size of the table in bytes",
            }
            out["rows"] = {
                "id": "rows", "label": "Rows", "value": stats["rows"],
                "include": True, "description": "Number of rows in the table",
            }
        return out

    def docs_generate(self, empty_catalog: bool = False) -> dict:
        """Catalog artifact from the live catalog (``core/dbt/task/docs/
        generate.py:215-366``) → target/catalog.json. ``empty_catalog``
        (reference ``--empty-catalog``, ``cli/params.py:523``) skips the
        per-relation introspection — docs-site serving without the
        catalog cost on huge projects."""
        self.register_sources()
        nodes: dict[str, dict] = {}
        sources: dict[str, dict] = {}
        for uid, node in self.manifest.all_nodes().items():
            if empty_catalog:
                break
            if node.resource_type in ("test", "unit_test", "operation", "analysis"):
                continue
            rel = self.compiler.relation_for(node)
            if not self.adapter.relation_exists(rel):
                continue
            cols = self.adapter.get_columns_in_relation(rel)
            # catalog v1 CatalogTable (schemas/dbt/catalog/v1.json:
            # TableMetadata + ColumnMetadata + stats, all
            # additionalProperties: false)
            entry = {
                "metadata": {
                    "type": rel.type,
                    "schema": rel.schema,
                    "name": rel.identifier,
                    "database": None,
                    "comment": node.description or None,
                    "owner": None,
                },
                "columns": {
                    name: {"type": dtype, "index": i, "name": name,
                           "comment": (node.columns.get(name) or {}).get(
                               "description") or None}
                    for i, (name, dtype) in enumerate(cols)
                },
                "stats": self._catalog_stats(rel),
                "unique_id": uid,
            }
            (sources if node.resource_type == "source" else nodes)[uid] = entry
        out = {
            "metadata": {
                "dbt_schema_version":
                    "https://schemas.getdbt.com/dbt/catalog/v1.json",
                "generated_at": datetime.now(timezone.utc).isoformat(),
                "invocation_id": self.invocation_id,
            },
            "nodes": nodes,
            "sources": sources,
            "errors": None,
        }
        with open(os.path.join(self.project.target_dir, "catalog.json"), "w") as f:
            json.dump(out, f, indent=1)
        return out

    def compile_inline(self, sql: str) -> str:
        """``dbt compile --inline`` (reference cli/main.py:314 +
        task/compile.py): compile arbitrary jinja-SQL against the
        project context and return the rendered SQL without running it."""
        self._reset_compile_modifiers()
        self.register_sources()
        node = ParsedNode(
            unique_id=f"sql_operation.{self.project.name}.inline_query",
            name="inline_query",
            package_name=self.project.name,
            resource_type="model",
            raw_code=sql,
        )
        self.manifest.nodes[node.unique_id] = node
        try:
            self.compiler.compile_node(node)
            return node.compiled_code or ""
        finally:
            del self.manifest.nodes[node.unique_id]

    def _reset_compile_modifiers(self) -> None:
        """A prior run(sample=.../empty=True/defer=True) on this
        Runner must not leak its event-time slice / zero-row stubs /
        deferral state into later compile/show/inline paths
        (execute_nodes re-sets all of these per invocation; the defer
        leak made a later plain run resolve refs to the stale state
        manifest's relations — r12 runner review #2)."""
        self.compiler.sample_bounds = None
        self.compiler.empty = False
        self.compiler.defer_state = None
        self.compiler.favor_state = False

    def compile(self, select: str | None = None) -> Manifest:
        from sparkt import deprecations as _dep

        _dep.flush_buffered()  # no task-level warn options on compile
        self._reset_compile_modifiers()
        self.register_sources()
        graph = link_graph(self.manifest)
        selected = select_nodes(graph, self.manifest, select)
        for uid in nx.topological_sort(graph):
            if uid in selected and self._executable(uid, "compile"):
                node = self.manifest.nodes[uid]
                if node.language == "sql":
                    try:
                        self.compiler.compile_node(node)
                        self._write_compiled(node)
                    except Exception:  # noqa: BLE001
                        pass
        self.manifest.write(os.path.join(self.project.target_dir, "manifest.json"))
        return self.manifest

    def show(self, inline: str | None = None, select: str | None = None,
             limit: int = 5):
        """``dbt show`` (``core/dbt/task/show.py:22-109``)."""
        self._reset_compile_modifiers()
        self.register_sources()
        if inline is not None:
            node = ParsedNode(
                unique_id=f"sql_operation.{self.project.name}.inline_query",
                name="inline_query",
                package_name=self.project.name,
                resource_type="model",
                raw_code=inline,
            )
            self.manifest.nodes[node.unique_id] = node
            try:
                self.compiler.compile_node(node)
                sql = node.compiled_code
            finally:
                del self.manifest.nodes[node.unique_id]
        else:
            target = self.manifest.ref_lookup(select)
            if target is None:
                raise ValueError(f"show: unknown model '{select}'")
            self.compiler.compile_node(target)
            sql = target.compiled_code
        df = self.spark.sql(f"select * from ({sql}) sparkt_show")
        if limit is not None:
            df = df.limit(limit)
        return df

    def run_operation(self, macro_name: str, args: dict | None = None):
        """``dbt run-operation`` (``core/dbt/task/run_operation.py``)."""
        dummy = ParsedNode(
            unique_id=f"operation.{self.project.name}.{macro_name}",
            name=macro_name,
            package_name=self.project.name,
            resource_type="operation",
            raw_code="",
        )
        ctx = self.compiler.runtime_context(dummy, extra_ctes=[])
        fn = ctx.get(macro_name)
        if fn is None:
            raise ValueError(f"no macro named '{macro_name}'")
        return fn(**(args or {}))

    def source_freshness(self, select: str | None = None) -> list[dict]:
        """``dbt source freshness [--select source:...]``
        (``core/dbt/task/freshness.py``; selection as in the reference's
        freshness task)."""
        self.register_sources()
        checked = [n for n in self.manifest.sources.values() if n.freshness]
        if select:
            graph = link_graph(self.manifest)
            selected = select_nodes(graph, self.manifest, select)
            checked = [n for n in checked if n.unique_id in selected]
        # metadata-path sources go through ONE batch call
        # (calculate_freshness_from_metadata_batch, freshness.py:107-145)
        meta_rels = {
            n.unique_id: self.compiler.relation_for(n)
            for n in checked
            if not n.loaded_at_field
        }
        meta_ages = self.adapter.calculate_freshness_from_metadata_batch(
            list(meta_rels.values())
        )
        out = []
        artifact_results = []
        t_start = time.time()
        for node in checked:
            t_node = time.time()
            rel = self.compiler.relation_for(node)
            # absolute max_loaded_at (reference FreshnessResponse): the
            # source_status:fresher selector compares these across runs,
            # so it must be a property of the DATA (max ts / file
            # mtime), not re-derived from the moving clock
            if node.loaded_at_field:
                flt = node.freshness.get("filter")
                where = f" WHERE {flt}" if flt else ""
                # ONE scan serves both age and max_loaded_at (r12
                # runner review #7 — two scans doubled freshness I/O
                # and could disagree if data landed between them);
                # adapter-routed (not bare spark.sql) so record/replay
                # covers source-freshness (sparkt/record.py)
                import re as _re

                from sparkt.relation import quote_identifier as bt

                # quote PLAIN identifiers only: loaded_at_field may
                # legally be an expression ('cast(etl_ts as
                # timestamp)'), which backticks would break
                # (second-opinion review #4)
                f = (
                    bt(node.loaded_at_field)
                    if _re.fullmatch(
                        r"[A-Za-z_][A-Za-z0-9_]*", node.loaded_at_field
                    )
                    else node.loaded_at_field
                )
                _, fres = self.adapter.execute(
                    f"SELECT unix_timestamp(current_timestamp()) - "
                    f"unix_timestamp(max({f})) AS age, "
                    f"CAST(max({f}) AS STRING) AS m "
                    f"FROM {rel.render()}{where}", fetch=True,
                )
                frow = fres.rows[0] if len(fres) else None
                age = (
                    None
                    if frow is None or frow["age"] is None
                    else float(frow["age"])
                )
                max_loaded_at = frow["m"] if frow is not None else None
            else:
                age = meta_ages.get(f"{rel.schema}.{rel.identifier}")
                if age is None:
                    continue
                newest = self.adapter.metadata_max_loaded_at(rel)
                max_loaded_at = (
                    datetime.fromtimestamp(newest, tz=timezone.utc).isoformat()
                    if newest is not None else None
                )
            status = "pass"
            for level in ("warn_after", "error_after"):
                th = node.freshness.get(level)
                if th and age is not None:
                    seconds = th["count"] * {
                        "minute": 60, "hour": 3600, "day": 86400
                    }[th["period"]]
                    if age > seconds:
                        status = level.split("_")[0]
            out.append(
                {"unique_id": node.unique_id, "max_loaded_at_age_s": age,
                 "max_loaded_at": max_loaded_at, "status": status}
            )

            def time_obj(th):
                if not th:
                    return None
                return {"count": th.get("count"), "period": th.get("period")}

            # sources v3 SourceFreshnessOutput (all 10 keys required,
            # additionalProperties: false — schemas/dbt/sources/v3.json)
            artifact_results.append({
                "unique_id": node.unique_id,
                "max_loaded_at": max_loaded_at or "1970-01-01T00:00:00",
                "snapshotted_at":
                    datetime.now(timezone.utc).isoformat(),
                "max_loaded_at_time_ago_in_s": float(age or 0.0),
                "status": status,
                "criteria": {
                    "warn_after": time_obj(node.freshness.get("warn_after")),
                    "error_after": time_obj(node.freshness.get("error_after")),
                    "filter": node.freshness.get("filter"),
                },
                "adapter_response": {},
                "timing": [],
                "thread_id": threading.current_thread().name,
                "execution_time": time.time() - t_node,
            })
        # Q018 result lines AFTER the loop: metadata sources with no
        # recorded age `continue` without a result, so an in-loop
        # total=len(checked) would leave permanent holes in the
        # 'i of n' sequence a consumer counts on
        for i, row in enumerate(out, start=1):
            _, src_name, tbl = row["unique_id"].split(".", 2)
            self.events.fire(EV.LogFreshnessResult(
                source_name=src_name, table_name=tbl,
                status=row["status"], index=i, total=len(out),
            ))
        # sources.json artifact in the reference's published v3 shape
        # (FreshnessExecutionResultArtifact; consumed by the
        # source_status: selector method and external tooling)
        try:
            from sparkt import __version__

            os.makedirs(self.project.target_dir, exist_ok=True)
            with open(
                os.path.join(self.project.target_dir, "sources.json"), "w"
            ) as f:
                json.dump({
                    "metadata": {
                        "dbt_schema_version":
                            "https://schemas.getdbt.com/dbt/sources/v3.json",
                        "dbt_version": __version__,
                        "generated_at":
                            datetime.now(timezone.utc).isoformat(),
                        "invocation_id": self.invocation_id,
                    },
                    "results": artifact_results,
                    "elapsed_time": time.time() - t_start,
                }, f, indent=1)
        except Exception:  # noqa: BLE001 — artifact is best-effort
            pass
        return out
