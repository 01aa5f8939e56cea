"""Guard against regrowth of code that only tests call.

Every top-level function or class in ``sparkt/functions`` must be
reachable from a non-test root: another ``sparkt/`` module (the
registry gates live in ``sparkt/queries``), ``scripts/``,
``perfbench/``, the driver entry point, or a module-level statement
of ``sparkt/functions`` itself. Reachability follows names
transitively through the bodies of reachable definitions.

The scan is by name, not by import binding, so a name that appears in
any root counts as a use. That over-approximates reachability, which
is the safe direction for a guard: it can miss dead code, never flag
live code. Pure AST, no Spark session.
"""

from __future__ import annotations

import ast
import os

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# definitions kept on purpose although only tests call them
ALLOWED = {
    "_jaro": "pure-Python reference the Jaro-Winkler join tests compare "
             "the codegen expression against",
    "_jaro_winkler": "pure-Python reference the Jaro-Winkler join tests "
                     "compare the codegen expression against",
}


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


def unreachable_defs(repo: str = REPO) -> list[str]:
    """``module.name`` of every top-level def in sparkt/functions
    that no non-test root reaches."""
    functions = os.path.join(repo, "sparkt", "functions")
    defs: dict[str, list[tuple[str, ast.AST]]] = {}
    roots: set[str] = set()
    for path in sorted(_py_files(functions)):
        module = os.path.splitext(os.path.basename(path))[0]
        for stmt in _parse(path).body:
            if isinstance(
                stmt, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
            ):
                defs.setdefault(stmt.name, []).append((module, stmt))
            elif not isinstance(stmt, (ast.Import, ast.ImportFrom)):
                roots |= _names(stmt)
    root_files = [
        p for p in _py_files(os.path.join(repo, "sparkt"))
        if not p.startswith(functions + os.sep)
    ]
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
        "reachable only from tests — wire into a gate or delete: "
        + ", ".join(dead)
    )


def test_allowlist_is_current():
    # an allowlisted name that becomes live (or is deleted) must leave
    # the list, so the list never hides new dead code under an old name
    dead = {d.rsplit(".", 1)[-1] for d in unreachable_defs()}
    assert set(ALLOWED) <= dead, sorted(set(ALLOWED) - dead)
