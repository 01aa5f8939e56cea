"""materialized_view materialization.

Spark has no managed MVs (SURVEY.md §2.1 notes the divergence), so the
reference semantics are emulated: the MV is a table plus its recorded
refresh query; ``on_configuration_change ∈ {apply, continue, fail}``
(``artifacts/resources/v1/config.py:107-109``) is honored by comparing
the stored definition against the compiled one.

The stored definition (an md5 of the compiled SQL — change detection
needs equality only) lives in the relation's durable catalog entry
(``SparkAdapter.set_relation_meta``, catalog.json), NOT in process
memory or TBLPROPERTIES: CLI invocations are separate processes, and
the catalog restore re-creates tables without their properties. The
microbatch run state (``incremental.py``) is kept the same way.
"""

from __future__ import annotations

import hashlib

from sparkt.exceptions import ExecutionError
from sparkt.materializations import MatContext, register

_MV_DEF_PROP = "sparkt.mv.definition_md5"


@register("materialized_view")
def materialize_mv(ctx: MatContext, node):
    ctx.compiler.compile_node(node)
    rel = node.relation
    policy = node.config.get("on_configuration_change", "apply")
    new_md5 = hashlib.md5(node.compiled_code.encode()).hexdigest()
    if ctx.adapter.relation_exists(rel):
        existing = ctx.adapter.get_relation_meta(rel).get(_MV_DEF_PROP)
        if existing is not None and existing != new_md5:
            if policy == "fail":
                raise ExecutionError(
                    f"{node.unique_id}: materialized view definition "
                    "changed and on_configuration_change='fail'"
                )
            if policy == "continue":
                return "MV UNCHANGED (configuration change ignored)"
    ctx.adapter.create_table_as(rel, select_sql=node.compiled_code)
    ctx.adapter.set_relation_meta(rel, **{_MV_DEF_PROP: new_md5})
    return "CREATE MATERIALIZED VIEW (table + recorded refresh query)"
