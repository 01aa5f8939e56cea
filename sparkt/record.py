"""Record/replay support bundle (reference ``tests/functional/record/``
+ the dbt-common record engine behind ``DBT_RECORDER_MODE=record|replay``):
capture every warehouse interaction of a run to a replayable JSONL, then
re-run the same invocation WITHOUT a warehouse — recorded responses are
served back call-for-call, so a support engineer can reproduce a user's
run (scheduling, compilation, materialization dispatch, artifacts) from
the bundle alone, no Spark session and no data.

Shape: ``RecordingAdapter`` proxies a live ``SparkAdapter`` and appends
``{method, params, result}`` lines for the warehouse-touching surface;
``ReplayAdapter`` serves those lines back, matched by (method, params)
as a FIFO per key — order-tolerant across worker threads, strict about
content: an un-recorded call raises ``ReplayMismatch`` (the reference
engine's "diff" failure mode).

Replayable today: ``run`` of SQL models — view / table / the full
incremental flow (schema discovery routes through the adapter as
``DESCRIBE QUERY``) and every ``execute``-routed statement, including
jinja ``statement``/``run_query`` and the compiler's introspection
calls. Failing calls replay too: a recorded exception is re-raised as
``ReplayedError`` carrying the original type + message, so a support
engineer reproduces the user's failure, not a bogus divergence.
Seeds replay via ``create_seed`` (ONE recorded call carrying the
parsed rows + count), and python models replay via a recorded
``python_model_result`` (materialized schema + row sample) plus a
key-compatible DataFrame stand-in for the recorded CTAS; incremental
python models additionally record ``python_model_source`` (the source
DataFrame's schema) so replay drives on_schema_change/strategy SQL
generation identically — the generated statements reference the temp
view by name only, so their recorded keys reproduce without a session
(r7; reference ``tests/functional/record/``). Ad-hoc ``sql_df`` calls
replay too (r9): record mode materializes the result set into the
bundle (schema + rows, the ``create_seed`` tradeoff — support-bundle
capture collects what it records) and replay serves a session-free
``ReplayDataFrame`` covering the read-only DataFrame surface;
transformations are not replayable (the bundle holds rows, not a
plan) and raise ``ReplayMismatch`` naming the limitation.
View-materialized python models record/replay exactly like the table
path (they are table-backed by necessity — Spark permanent views
require SQL text; see ``materializations/view.py``). Microbatch and
materialized-view models replay their run state through the recorded
``get_relation_meta``/``set_relation_meta`` calls; bundles captured
before those calls were recorded do not replay those two models.
"""

from __future__ import annotations

import json
import threading
from collections import deque
from contextlib import contextmanager

from sparkt.exceptions import ExecutionError

#: adapter methods whose calls + results constitute the warehouse
#: interaction of a run (params JSON-canonicalized; results serialized)
RECORDED_METHODS = (
    "execute",
    "create_schema",
    "drop_schema",
    "relation_exists",
    "get_relation",
    "list_relations",
    "get_columns_in_relation",
    "partition_columns",
    "create_table_as",
    "create_view_as",
    "insert_into",
    "insert_overwrite",
    "drop_relation",
    "rename_relation",
    "register_external_table",
    "apply_grants",
    "get_grants",
    "optimize_table",
    "calculate_freshness_from_metadata",
    "calculate_freshness_from_metadata_batch",
    "metadata_max_loaded_at",
    # seeds + python models replay via these (r7): create_seed returns
    # the parsed rows; python_model_result the materialized schema/
    # sample — both serializable, so no session is needed on replay
    "create_seed",
    "python_model_result",
    "python_model_source",
    # ad-hoc DataFrame handoff (r9): record mode materializes the
    # result set (schema + rows) into the bundle; replay serves a
    # session-free ReplayDataFrame over the recorded rows
    "sql_df",
    # durable catalog annotations: the microbatch run state and the
    # materialized-view definition hash
    "get_relation_meta",
    "set_relation_meta",
)


def dataframe_standin():
    """Key-compatible stand-in for a live DataFrame in replayed calls:
    ``_simple`` canonicalizes any non-primitive param to
    ``<TypeName>``, so an object whose class is literally named
    ``DataFrame`` reproduces the recorded ``<DataFrame>`` key without
    a session (used by the python-model replay path)."""
    return type("DataFrame", (), {})()


class ReplayMismatch(ExecutionError):
    """A replayed invocation diverged from the recording."""


class ReplayedError(ExecutionError):
    """A recorded failure, re-raised during replay with the original
    exception type + message so the bundle reproduces the user's
    error."""


class _ReplayRow:
    """Row stand-in for replayed result sets: supports name indexing,
    positional indexing, attribute access and ``asDict`` — the styles
    jinja ``run_query`` consumers and internal callers actually use."""

    __slots__ = ("_cols", "_vals")

    def __init__(self, cols, vals):
        object.__setattr__(self, "_cols", cols)
        object.__setattr__(self, "_vals", vals)

    def __getitem__(self, key):
        if isinstance(key, int):
            return self._vals[key]
        return self._vals[self._cols.index(key)]

    def __getattr__(self, name):
        try:
            return self._vals[self._cols.index(name)]
        except ValueError:
            raise AttributeError(name) from None

    def __iter__(self):
        return iter(self._vals)

    def __len__(self):
        return len(self._vals)

    def asDict(self, recursive: bool = False):  # noqa: N802 — Row parity
        return dict(zip(self._cols, self._vals))

    def __repr__(self):
        return f"ReplayRow({self.asDict()})"


class ReplayDataFrame:
    """Session-free stand-in for an ad-hoc ``sql_df`` result during
    replay: serves the RECORDED result set through the read-only
    DataFrame surface a bundle consumer actually uses (``columns`` /
    ``dtypes`` / ``count`` / ``collect`` / ``take`` / ``first`` /
    ``head`` / ``limit`` / ``toPandas`` / ``show``). Transformations
    (select/filter/join/...) are NOT replayable — the bundle holds
    rows, not a logical plan — so any other attribute raises
    ``ReplayMismatch`` naming the limitation instead of silently
    diverging."""

    is_replay_standin = True

    def __init__(self, columns: list, rows: list):
        # columns: [[name, simple_type], ...]; rows: [{name: value}]
        self._colspec = [list(c) for c in columns]
        self._rows = rows

    @property
    def columns(self):
        return [c[0] for c in self._colspec]

    @property
    def dtypes(self):
        return [tuple(c) for c in self._colspec]

    def count(self) -> int:
        return len(self._rows)

    def collect(self):
        cols = self.columns
        return [
            _ReplayRow(cols, [r.get(c) for c in cols])
            for r in self._rows
        ]

    def take(self, num: int):
        return self.collect()[:num]

    def first(self):
        rows = self.collect()
        return rows[0] if rows else None

    def head(self, n=None):
        if n is None:
            return self.first()
        return self.take(n)

    def limit(self, num: int) -> "ReplayDataFrame":
        return ReplayDataFrame(self._colspec, self._rows[:num])

    def isEmpty(self) -> bool:  # noqa: N802 — DataFrame parity
        return not self._rows

    def toPandas(self):  # noqa: N802 — DataFrame parity
        import pandas as pd

        return pd.DataFrame(
            [[r.get(c) for c in self.columns] for r in self._rows],
            columns=self.columns,
        )

    def show(self, n: int = 20, truncate=True, vertical=False):
        cols = self.columns
        print(" | ".join(cols))
        for r in self._rows[:n]:
            print(" | ".join(str(r.get(c)) for c in cols))

    def __getattr__(self, name):
        if name.startswith("_"):
            # dunder/private probes (IPython display machinery,
            # copy/pickle, hasattr on internals) expect a plain
            # AttributeError; only PUBLIC DataFrame API misuse gets
            # the loud replay error
            raise AttributeError(name)
        raise ReplayMismatch(
            f"replay: DataFrame.{name} is not replayable — the "
            "recording holds the sql_df RESULT SET (rows + schema), "
            "not a logical plan; only the read-only surface "
            "(columns/dtypes/count/collect/take/first/head/limit/"
            "toPandas/show) is served"
        )

    def __repr__(self):
        return (
            f"ReplayDataFrame[{', '.join(f'{n}: {t}' for n, t in self.dtypes)}]"
        )


def _simple(v):
    """JSON-safe canonical form of a call parameter."""
    from sparkt.relation import Relation

    if isinstance(v, Relation):
        return v.render()
    if isinstance(v, (list, tuple)):
        return [_simple(x) for x in v]
    if isinstance(v, dict):
        return {k: _simple(x) for k, x in sorted(v.items())}
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    # DataFrames and other live objects: identity doesn't replay —
    # record presence only
    return f"<{type(v).__name__}>"


def _key(method: str, args, kwargs) -> str:
    return json.dumps(
        [method, _simple(list(args)), _simple(kwargs or {})],
        sort_keys=True, default=str,
    )


def _ser_result(method: str, result):
    from sparkt.relation import Relation

    if method == "sql_df":
        # materialize the ad-hoc DataFrame into the bundle (the
        # create_seed tradeoff: support-bundle capture collects what
        # it records); record mode still hands the LIVE df back to
        # the caller — only the bundle copy is row-materialized
        return {
            "columns": [
                [f.name, f.dataType.simpleString()]
                for f in result.schema.fields
            ],
            "rows": [r.asDict(recursive=True) for r in result.collect()],
        }
    if method == "execute":
        status, res = result
        return {
            "status": status,
            "column_names": list(res.column_names),
            "rows": [
                r.asDict(recursive=True) if hasattr(r, "asDict") else dict(r)
                for r in res.rows
            ],
            "rows_affected": res.rows_affected,
        }
    if isinstance(result, Relation):
        return {
            "__relation__": [
                result.schema, result.identifier, result.type,
            ]
        }
    if isinstance(result, (list, tuple)):
        return [_ser_result(method, x) for x in result]
    if result is None or isinstance(result, (str, int, float, bool, dict)):
        return result
    return str(result)


def _deser_result(method: str, raw):
    from sparkt.adapter import ExecuteResult
    from sparkt.relation import Relation

    if method == "sql_df":
        return ReplayDataFrame(raw["columns"], raw["rows"])
    if method == "execute":
        cols = raw["column_names"]
        return raw["status"], ExecuteResult(
            column_names=cols,
            rows=[
                _ReplayRow(list(r.keys()) or cols, list(r.values()))
                for r in raw["rows"]
            ],
            rows_affected=raw["rows_affected"],
        )
    if isinstance(raw, dict) and "__relation__" in raw:
        # 3rd element (type) absent only in pre-r6 bundles
        parts = raw["__relation__"]
        return Relation(
            schema=parts[0], identifier=parts[1],
            type=parts[2] if len(parts) > 2 else "table",
        )
    if isinstance(raw, list):
        # tuples and lists both recorded as lists; consumers unpack
        # positionally, so a list round-trip is transparent
        return [_deser_result(method, x) for x in raw]
    return raw


class RecordingAdapter:
    """Transparent proxy over a live adapter that appends the warehouse
    interaction to ``path`` (one JSON object per line)."""

    is_recording = True

    def __init__(self, inner, path: str):
        import os

        self._inner = inner
        self._path = path
        self._lock = threading.Lock()
        d = os.path.dirname(path)
        if d:
            os.makedirs(d, exist_ok=True)
        # one handle for the adapter's lifetime (re-opening per recorded
        # statement puts thousands of open/close syscalls on the hot
        # path of a big run; flush-per-line keeps the bundle crash-safe)
        # — but opened LAZILY on the first recorded call: a Runner that
        # is constructed in record mode and never executes (config
        # error, second construction in one environment) must not
        # truncate a previously captured bundle (ADVICE r6)
        self._fh = None

    def _append(self, entry: dict) -> None:
        line = json.dumps(entry, default=str)
        with self._lock:
            if self._fh is None:
                self._fh = open(self._path, "w")
            self._fh.write(line + "\n")
            self._fh.flush()

    def record_meta(self, meta: dict) -> None:
        """Invocation metadata (e.g. the run's batch timestamp, which
        snapshots/microbatch embed in generated SQL) — replay restores
        it so time-dependent statements compile identically."""
        self._append({"meta": meta})

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name in RECORDED_METHODS and callable(attr):
            def wrapped(*args, **kwargs):
                key = _key(name, args, kwargs)
                try:
                    result = attr(*args, **kwargs)
                except Exception as e:
                    # a failing run is the PRIMARY support-bundle use
                    # case: capture the failure so replay reproduces it
                    self._append({
                        "method": name, "key": key,
                        "error": {
                            "type": type(e).__name__,
                            "message": str(e),
                        },
                    })
                    raise
                self._append({
                    "method": name, "key": key,
                    "result": _ser_result(name, result),
                })
                return result

            return wrapped
        return attr


class ReplayAdapter:
    """Serves a recorded run back with NO warehouse: recorded methods
    return their captured responses (FIFO per (method, params) key);
    session bookkeeping no-ops; anything else raises."""

    is_replay = True
    #: replay never opens a session
    spark = None

    def __init__(self, path: str):
        self._lock = threading.Lock()
        self._queues: dict[str, deque] = {}
        self._meta: deque = deque()
        with open(path) as f:
            for line in f:
                entry = json.loads(line)
                if "meta" in entry:
                    self._meta.append(entry["meta"])
                    continue
                self._queues.setdefault(
                    entry["key"], deque()
                ).append(entry)

    def next_meta(self) -> dict:
        """The next recorded invocation-metadata entry (FIFO), {} when
        the recording carries none."""
        with self._lock:
            return self._meta.popleft() if self._meta else {}

    # ------------------------------------------------- recorded surface
    def _serve(self, name, args, kwargs):
        key = _key(name, args, kwargs)
        with self._lock:
            q = self._queues.get(key)
            if not q:
                raise ReplayMismatch(
                    f"replay: no recorded response for {name} with "
                    f"params {key} — the invocation diverged from the "
                    "recording"
                )
            entry = q.popleft()
        err = entry.get("error")
        if err is not None:
            raise ReplayedError(f"{err['type']}: {err['message']}")
        return _deser_result(name, entry["result"])

    def __getattr__(self, name):
        # dataclass-style attrs resolved normally; only method lookups
        # reach here
        if name in RECORDED_METHODS:
            def served(*args, **kwargs):
                return self._serve(name, args, kwargs)

            return served
        raise AttributeError(name)

    def remaining(self) -> int:
        """Recorded calls the replay never consumed (diff surface)."""
        return sum(len(q) for q in self._queues.values())

    # ------------------------------------------- session bookkeeping
    def quote(self, identifier: str) -> str:
        from sparkt.relation import quote_identifier

        return quote_identifier(identifier)

    def set_query_header(self, comment, append: bool = False) -> None:
        pass

    def pre_model_hook(self, config: dict) -> dict:
        return {}

    def post_model_hook(self, config: dict, context: dict) -> None:
        pass

    @contextmanager
    def defer_catalog_saves(self):
        yield

