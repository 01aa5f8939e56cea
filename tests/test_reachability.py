"""Guard against regrowth of code that only tests call.

Every top-level function or class in ``sparkt/`` must be reachable
from a non-test root:

- a module-level statement of any ``sparkt/`` module (imports aside);
- a top-level def with a registering decorator (the ``@register``
  materializations, the click commands); a decorator that only wraps,
  such as ``@dataclass``, does not make a root;
- a name in a non-Python file under ``sparkt/``;
- ``scripts/``, ``perfbench/`` and ``__spark_entry__.py``.

Reachability follows names transitively through the bodies of
reachable definitions. Names inside string constants are not roots,
so a docstring that mentions a definition does not keep it alive.

The scan is by name, not by import binding, so a name that appears in
any root counts as a use. That over-approximates reachability, which
is the safe direction for a guard: it can miss dead code, never flag
live code. Pure AST, no Spark session.

A reached class keeps all its methods alive in that scan, so the
adapter gets a per-method scan of its own: every ``SparkAdapter``
method must be referenced from ``sparkt/`` code outside the class, as
an attribute (``x.method``) or a ``getattr(x, "method")`` string, or
from a method so reached. The Jinja ``adapter`` object,
``RuntimeAdapterFacade``, reaches the adapter through such attribute
calls. A name listed only in ``record.RECORDED_METHODS`` is a string
and does not count.

A last check keeps ``sparkt/record.py`` in step with the adapter: every
name in ``RECORDED_METHODS`` and every public ``ReplayAdapter`` method
(its own ``next_meta``/``remaining`` aside) must be a ``SparkAdapter``
method, so a replay twin cannot outlive the method it serves.
"""

from __future__ import annotations

import ast
import os
import re

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# definitions kept on purpose although only tests call them
ALLOWED = {
    "_jaro": "pure-Python reference the Jaro-Winkler join tests compare "
             "the codegen expression against",
    "_jaro_winkler": "pure-Python reference the Jaro-Winkler join tests "
                     "compare the codegen expression against",
    "sparktRunner": "public programmatic invocation API, the dbtRunner "
                    "analogue",
    "sparktRunnerResult": "result type of the public sparktRunner API",
    "register_plugin": "public decorator that registers an in-process "
                       "plugin",
    "clear_plugins": "public reset of the in-process plugin registry",
}

# SparkAdapter methods kept on purpose although no sparkt/ code calls them
ADAPTER_ALLOWED = {
    "sql_df": "public ad-hoc query API; record/replay serve its result "
              "set in support bundles",
    "drop_schema": "public teardown of a schema, its tables and its "
                   "warehouse directory",
    "get_grants": "public read side of apply_grants",
}

# decorators that wrap a definition without registering it anywhere
_WRAPPERS = {"dataclass", "contextmanager", "lru_cache"}


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _py_files(root: str):
    for dirpath, _, files in os.walk(root):
        for f in files:
            if f.endswith(".py"):
                yield os.path.join(dirpath, f)


def _parse(path: str) -> ast.Module:
    with open(path, encoding="utf-8") as f:
        return ast.parse(f.read(), filename=path)


def _registers(stmt: ast.AST) -> bool:
    heads = {
        ast.unparse(d).split("(", 1)[0].rsplit(".", 1)[-1]
        for d in stmt.decorator_list
    }
    return bool(heads - _WRAPPERS)


def unreachable_defs(repo: str = REPO) -> list[str]:
    """``module.name`` of every top-level def in sparkt/ that no
    non-test root reaches."""
    package = os.path.join(repo, "sparkt")
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(_py_files(package)):
        module = os.path.relpath(path, package)[:-3].replace(os.sep, ".")
        for stmt in _parse(path).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append((module, stmt))
                if _registers(stmt):
                    roots.add(stmt.name)
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    for dirpath, dirs, files in os.walk(package):
        dirs[:] = [d for d in dirs if d != "__pycache__"]
        for f in files:
            if not f.endswith(".py"):
                with open(os.path.join(dirpath, f), errors="ignore") as fh:
                    roots |= set(re.findall(r"\w+", fh.read()))
    root_files = []
    for d in ("scripts", "perfbench"):
        root_files += list(_py_files(os.path.join(repo, d)))
    entry = os.path.join(repo, "__spark_entry__.py")
    if os.path.exists(entry):
        root_files.append(entry)
    for path in root_files:
        roots |= _names(_parse(path))

    reached: set[str] = set()
    todo = [n for n in roots if n in defs]
    while todo:
        name = todo.pop()
        if name in reached:
            continue
        reached.add(name)
        for _, node in defs[name]:
            todo += [n for n in _names(node) if n in defs]
    return sorted(
        f"{module}.{name}"
        for name, entries in defs.items()
        if name not in reached
        for module, _ in entries
    )


def test_functions_reachable_outside_tests():
    dead = [
        d for d in unreachable_defs()
        if d.rsplit(".", 1)[-1] not in ALLOWED
    ]
    assert not dead, (
        "reachable only from tests — wire into a caller or delete: "
        + ", ".join(dead)
    )


def test_allowlist_is_current():
    # an allowlisted name that becomes live (or is deleted) must leave
    # the list, so the list never hides new dead code under an old name
    dead = {d.rsplit(".", 1)[-1] for d in unreachable_defs()}
    assert set(ALLOWED) <= dead, sorted(set(ALLOWED) - dead)


def _attr_refs(node: ast.AST) -> set[str]:
    """Attribute names and ``getattr`` string names used under ``node``."""
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif (
            isinstance(n, ast.Call) and isinstance(n.func, ast.Name)
            and n.func.id == "getattr" and len(n.args) >= 2
            and isinstance(n.args[1], ast.Constant)
            and isinstance(n.args[1].value, str)
        ):
            out.add(n.args[1].value)
    return out


def unreached_adapter_methods(repo: str = REPO) -> list[str]:
    """Non-dunder ``SparkAdapter`` methods that no ``sparkt/`` code
    outside the class reaches, directly or through reached methods
    (dunders, which Python calls implicitly, are roots)."""
    methods: dict[str, ast.AST] = {}
    roots: set[str] = set()
    for path in sorted(_py_files(os.path.join(repo, "sparkt"))):
        for stmt in _parse(path).body:
            if isinstance(stmt, ast.ClassDef) and stmt.name == "SparkAdapter":
                for m in stmt.body:
                    if isinstance(
                        m, (ast.FunctionDef, ast.AsyncFunctionDef)
                    ) and not m.name.startswith("__"):
                        methods[m.name] = m
                    else:  # dunders run implicitly, class statements on import
                        roots |= _attr_refs(m)
            else:
                roots |= _attr_refs(stmt)
    reached: set[str] = set()
    todo = [n for n in roots if n in methods]
    while todo:
        name = todo.pop()
        if name not in reached:
            reached.add(name)
            todo += [n for n in _attr_refs(methods[name]) if n in methods]
    return sorted(set(methods) - reached)


def test_adapter_methods_reachable_outside_tests():
    dead = [m for m in unreached_adapter_methods() if m not in ADAPTER_ALLOWED]
    assert not dead, (
        "SparkAdapter methods no sparkt/ code calls — wire into a caller "
        "or delete: " + ", ".join(dead)
    )


def test_adapter_allowlist_is_current():
    unreached = set(unreached_adapter_methods())
    assert set(ADAPTER_ALLOWED) <= unreached, sorted(
        set(ADAPTER_ALLOWED) - unreached
    )


def _class_methods(tree: ast.Module, name: str) -> set[str]:
    cls = next(
        s for s in tree.body
        if isinstance(s, ast.ClassDef) and s.name == name
    )
    return {
        m.name for m in cls.body
        if isinstance(m, (ast.FunctionDef, ast.AsyncFunctionDef))
    }


def test_replay_twins_have_adapter_methods():
    """Every recorded method and every public ``ReplayAdapter`` method
    stands in for a ``SparkAdapter`` method, so a replay twin cannot
    outlive the adapter method it serves."""
    adapter = _class_methods(
        _parse(os.path.join(REPO, "sparkt", "adapter.py")), "SparkAdapter"
    )
    record = _parse(os.path.join(REPO, "sparkt", "record.py"))
    recorded = next(
        ast.literal_eval(s.value) for s in record.body
        if isinstance(s, ast.Assign)
        and [t.id for t in s.targets if isinstance(t, ast.Name)]
        == ["RECORDED_METHODS"]
    )
    twins = {
        m for m in _class_methods(record, "ReplayAdapter")
        if not m.startswith("_")
    } - {"next_meta", "remaining"}
    assert sorted(set(recorded) - adapter) == []
    assert sorted(twins - adapter) == []
