"""table materialization: atomic CTAS replace.

Reference: CTAS, atomically replace
(``tests/functional/basic/test_simple_reference.py:15-24``). The
adapter's versioned-path swap supplies the atomicity (see
``sparkt/adapter.py``); ``partition_by``/``partitioned CTAS`` is the
scale path for 100 TB targets.
"""

from __future__ import annotations

from sparkt.materializations import (
    MatContext,
    check_contract,
    persist_docs,
    register,
)
from sparkt.materializations.python_model import write_python_model


def _partition_by(node) -> list[str] | None:
    pb = node.config.get("partition_by")
    if pb is None:
        return None
    return [pb] if isinstance(pb, str) else list(pb)


def _listify(v) -> list[str] | None:
    if v is None:
        return None
    return [v] if isinstance(v, str) else list(v)


def _bucket_kwargs(node) -> dict:
    """bucket_by/buckets/sort_by configs → co-located join layout
    (Spark CLUSTERED BY; the analogue of warehouse cluster keys)."""
    return {
        "bucket_by": _listify(node.config.get("bucket_by")),
        "buckets": node.config.get("buckets"),
        "sort_by": _listify(node.config.get("sort_by")),
    }


@register("table")
def materialize_table(ctx: MatContext, node):
    ctx.compiler.compile_node(node)
    write = dict(partition_by=_partition_by(node), **_bucket_kwargs(node))
    replayed = None
    if node.language == "python":
        replayed = write_python_model(ctx, node, node.relation, **write)
    else:
        check_contract(ctx, node)
        ctx.adapter.create_table_as(
            node.relation, select_sql=node.compiled_code, **write
        )
    persist_docs(ctx, node)
    if replayed is not None:
        return f"CREATE TABLE AS (python, replayed: {replayed['count']} rows)"
    return "CREATE TABLE AS"
