"""Model contracts: schema enforcement before writing.

Reference: ``contract: {enforced: bool}`` config
(``artifacts/resources/v1/config.py:33-36``), column specs with
``data_type`` (``artifacts/resources/v1/components.py:58-65``);
enforcement SQL lives in adapter macros — here it is a direct
``StructType`` comparison (SURVEY.md §1.3), which is strictly stronger:
checked on the analyzed plan before any write happens.
"""

from __future__ import annotations

from sparkt.exceptions import ExecutionError

# warehouse-string → spark simpleString aliases
_TYPE_ALIASES = {
    "integer": "int",
    "long": "bigint",
    "text": "string",
    "varchar": "string",
    "float8": "double",
    "float": "float",
    "numeric": "decimal(10,0)",
    "bool": "boolean",
    "timestamp without time zone": "timestamp_ntz",
    "timestamp_ntz": "timestamp_ntz",
}


def _norm(t: str) -> str:
    t = t.strip().lower()
    return _TYPE_ALIASES.get(t, t)


def enforce_contract_columns(node, actual: dict) -> None:
    """Assert the model's analyzed schema matches its declared columns
    (names, order-insensitive; types when declared). ``actual`` is a
    ``{name: simpleString-type}`` mapping — the shape ``DESCRIBE
    QUERY`` rows give, so the check runs through the ADAPTER surface
    (record/replay covered) without a live SparkSession."""
    contract = node.config.get("contract") or {}
    if not contract.get("enforced"):
        return
    declared = {
        name: (spec or {}).get("data_type")
        for name, spec in node.columns.items()
    }
    problems = []
    for name, dtype in declared.items():
        if name not in actual:
            problems.append(f"missing column '{name}'")
        elif dtype and _norm(str(dtype)) != _norm(actual[name]):
            # allow ntz/ltz equivalence: parquet timestamps surface as ntz
            a, d = _norm(actual[name]), _norm(str(dtype))
            if {a, d} <= {"timestamp", "timestamp_ntz"}:
                continue
            problems.append(
                f"column '{name}': declared {dtype}, actual {actual[name]}"
            )
    for name in actual:
        if name not in declared:
            problems.append(f"undeclared column '{name}' in model output")
    if problems:
        raise ExecutionError(
            f"{node.unique_id}: contract violation — " + "; ".join(problems)
        )


def _gather_constraints(node) -> list[tuple[str, str, str | None]]:
    """(kind, label, violation-count SQL expr | None) per constraint.
    None expr = recorded-not-enforced (foreign_key, custom)."""
    out = []
    for cname, spec in node.columns.items():
        for c in (spec or {}).get("constraints", []) or []:
            ctype = c.get("type") if isinstance(c, dict) else str(c)
            expr = (c or {}).get("expression") if isinstance(c, dict) else None
            q = f"`{cname}`"
            if ctype == "not_null":
                out.append((
                    "not_null", f"not_null({cname})",
                    f"sum(case when {q} is null then 1 else 0 end)",
                ))
            elif ctype == "check" and expr:
                out.append((
                    "check", f"check({cname}: {expr})",
                    f"sum(case when ({expr}) = false then 1 else 0 end)",
                ))
            elif ctype in ("unique", "primary_key"):
                # primary_key = unique + not_null
                out.append((
                    ctype, f"{ctype}({cname})",
                    f"count({q}) - count(distinct {q})"
                    + (f" + sum(case when {q} is null then 1 else 0 end)"
                       if ctype == "primary_key" else ""),
                ))
            else:
                out.append((ctype or "custom", f"{ctype}({cname})", None))
    for c in node.config.get("constraints") or []:
        ctype = c.get("type") if isinstance(c, dict) else str(c)
        expr = (c or {}).get("expression") if isinstance(c, dict) else None
        cols = (c or {}).get("columns") if isinstance(c, dict) else None
        if ctype == "check" and expr:
            out.append((
                "check", f"check(model: {expr})",
                f"sum(case when ({expr}) = false then 1 else 0 end)",
            ))
        elif ctype in ("unique", "primary_key") and cols:
            # multi-column form: {"type": "primary_key",
            # "columns": ["a", "b"]} — unique over the tuple,
            # plus not-null per component for primary_key
            key = ", ".join(f"`{col}`" for col in cols)
            tup = f"struct({key})"
            violation = f"count({tup}) - count(distinct {tup})"
            if ctype == "primary_key":
                violation += "".join(
                    f" + sum(case when `{col}` is null then 1 else 0 end)"
                    for col in cols
                )
            out.append((
                ctype, f"{ctype}({', '.join(cols)})", violation,
            ))
        elif ctype == "not_null" and cols:
            for col in cols:
                out.append((
                    "not_null", f"not_null({col})",
                    f"sum(case when `{col}` is null then 1 else 0 end)",
                ))
        else:
            out.append((ctype or "custom", f"{ctype}(model)", None))
    return out


def enforce_constraints(node, adapter) -> None:
    """Data-level constraint enforcement (reference column-level
    ``constraints`` on contract-enforced models, dbt-common
    ``ConstraintType``; behavior pinned by
    ``tests/functional/adapter/constraints/fixtures.py:275-281``).

    Warehouses enforce these as DDL constraints at insert time; our
    engine IS the warehouse, so ``not_null`` / ``check`` /
    ``unique`` / ``primary_key`` are verified with ONE aggregate job
    over the model's compiled SELECT *before anything is written* —
    a violation aborts the node with nothing replaced (same atomicity
    as a failed warehouse CTAS). SQL CHECK semantics: NULL check
    expressions pass (violation only when the expression is FALSE).
    ``foreign_key``/``custom`` are recorded, not enforced, matching
    adapters that emit them as metadata only. Cost: one extra
    execution of the model query — the same price a warehouse pays to
    validate DDL constraints; opt-in via ``contract.enforced``.
    """
    cons = _gather_constraints(node)
    enforced = [(label, expr) for _k, label, expr in cons if expr]
    if not enforced:
        return
    aggs = ", ".join(
        f"{expr} as c{i}" for i, (_l, expr) in enumerate(enforced)
    )
    # through the ADAPTER (not a bare spark.sql): replay mode has no
    # SparkSession, and a direct session touch is itself a divergence
    # (the incremental path's DESCRIBE QUERY doctrine; r12 core
    # review #4)
    _, res = adapter.execute(
        f"select {aggs} from ({node.compiled_code}) __sparkt_constraints",
        fetch=True,
    )
    if not len(res):  # an aggregate select always yields one row
        return
    row = res.rows[0]
    problems = [
        f"{label}: {row[f'c{i}']} violating row(s)"
        for i, (label, _e) in enumerate(enforced)
        if (row[f"c{i}"] or 0) > 0
    ]
    if problems:
        raise ExecutionError(
            f"{node.unique_id}: constraint violation — " + "; ".join(problems)
        )
