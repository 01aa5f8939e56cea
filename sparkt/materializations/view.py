"""view / ephemeral / analysis materializations.

Reference behavior: ``CREATE OR REPLACE VIEW AS <select>``; default
materialization is view (``artifacts/resources/v1/config.py:81``),
pinned by ``tests/functional/basic/test_simple_reference.py``.
"""

from __future__ import annotations

from sparkt.materializations import (
    MatContext,
    check_contract,
    persist_docs,
    register,
)
from sparkt.materializations.python_model import write_python_model


@register("view")
def materialize_view(ctx: MatContext, node):
    ctx.compiler.compile_node(node)
    if node.language == "python":
        return _materialize_python_view(ctx, node)
    check_contract(ctx, node)
    ctx.adapter.create_view_as(node.relation, node.compiled_code)
    persist_docs(ctx, node, is_view=True)
    return "CREATE VIEW"


def _materialize_python_view(ctx: MatContext, node):
    """``materialized='view'`` python model (r9, VERDICT r8 #3).

    DOCUMENTED DIVERGENCE: a Spark permanent view requires SQL text,
    and a python model's output is a DataFrame plan that cannot be
    rendered back to SQL — so the faithful-in-data emulation is a
    table-backed relation rebuilt on every run (dbt-core itself
    rejects view python models outright; this engine accepts them and
    materializes the recompute-per-run semantics the user asked for,
    at table storage cost). Records / replays exactly like the
    table python path: the DataFrame stand-in reproduces the CTAS
    key and the recorded ``python_model_result`` serves the output
    shape, so a bundle replays warehouse-free (sparkt/record.py).
    """
    replayed = write_python_model(ctx, node, node.relation)
    persist_docs(ctx, node)
    if replayed is not None:
        return (
            f"CREATE VIEW (python, table-backed, replayed: "
            f"{replayed['count']} rows)"
        )
    return "CREATE VIEW (python, table-backed)"


@register("ephemeral")
def materialize_ephemeral(ctx: MatContext, node):
    """Never materialized; downstream nodes splice the compiled SQL in
    as a ``__dbt__cte__<name>`` CTE (``compilation.py:302-392``)."""
    ctx.compiler.compile_node(node)
    return "EPHEMERAL (compiled only)"


@register("analysis")
def materialize_analysis(ctx: MatContext, node):
    ctx.compiler.compile_node(node)
    return "ANALYSIS (compiled only)"
