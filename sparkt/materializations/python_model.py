"""Python model execution.

Reference design: ``def model(dbt, session) -> DataFrame``
(``core/dbt/parser/models.py:32-104``; ADR
``docs/arch/adr-004-python-model-arch.md:27-47``). On this engine the
``session`` IS the engine's SparkSession, so there is no
``submit_python_job`` indirection — dbt's own ADR calls Spark the
native home for this feature.
"""

from __future__ import annotations

from typing import Any

from sparkt.exceptions import ExecutionError


class _DbtConfig:
    def __init__(self, config: dict):
        self._config = config

    def __call__(self, *args, **kwargs):
        return None

    def get(self, key, default=None):
        return self._config.get(key, default)


class _DbtObject:
    def __init__(self, ctx, node, is_incremental=False):
        self._ctx = ctx
        self._node = node
        self._is_incremental = bool(is_incremental)
        self.config = _DbtConfig(node.config)

    def ref(self, *args):
        name = args[-1]
        target = self._ctx.manifest.ref_lookup(name)
        if target is None:
            raise ExecutionError(f"python model: unknown ref '{name}'")
        if target.is_ephemeral:
            sql = target.compiled_code
            if sql is None:
                target = self._ctx.compiler.compile_node(target)
                sql = target.compiled_code
            return self._ctx.spark.sql(sql)
        return self._ctx.spark.table(self._ctx.compiler.relation_for(target).render())

    def source(self, source_name, table_name):
        target = self._ctx.manifest.source_lookup(source_name, table_name)
        if target is None:
            raise ExecutionError(
                f"python model: unknown source '{source_name}.{table_name}'"
            )
        return self._ctx.spark.table(self._ctx.compiler.relation_for(target).render())

    @property
    def this(self):
        return self._ctx.compiler.relation_for(self._node)

    def is_incremental(self):
        # per-call state, NOT ctx.extras: the runner shares ONE
        # MatContext across all nodes and threads, so a flag written
        # there by the first incremental python model would leak
        # dbt.is_incremental() == True into every later python model
        # — including a full-refresh CTAS, whose delta-only source
        # would then silently drop all history (r12 core review #2)
        return self._is_incremental


def run_python_model(ctx, node, is_incremental: bool = False) -> Any:
    """Exec the model file, call ``model(dbt, session)``, return its
    DataFrame (pandas results are converted)."""
    namespace: dict[str, Any] = {}
    exec(compile(node.raw_code, node.path or node.name, "exec"), namespace)
    fn = namespace.get("model")
    if fn is None:
        raise ExecutionError(f"{node.unique_id}: no model(dbt, session) function")
    result = fn(_DbtObject(ctx, node, is_incremental), ctx.spark)
    if result is None:
        raise ExecutionError(f"{node.unique_id}: model() returned None")
    try:
        import pandas as pd

        if isinstance(result, pd.DataFrame):
            result = ctx.spark.createDataFrame(result)
    except ImportError:
        pass
    return result


def write_python_model(ctx, node, rel, **write_kwargs) -> dict | None:
    """CTAS a python model's DataFrame into ``rel``; ``write_kwargs``
    go to ``create_table_as``. Under replay (sparkt/record.py) no user
    code runs: a DataFrame stand-in reproduces the recorded CTAS key,
    and the recorded ``python_model_result`` (output schema + row
    count) is returned. Otherwise returns None; record mode captures
    that result for the replay."""
    if getattr(ctx.adapter, "is_replay", False):
        from sparkt.record import dataframe_standin

        ctx.adapter.create_table_as(
            rel, df=dataframe_standin(), **write_kwargs
        )
        return ctx.adapter.python_model_result(rel.render())
    ctx.adapter.create_table_as(
        rel, df=run_python_model(ctx, node), **write_kwargs
    )
    if getattr(ctx.adapter, "is_recording", False):
        ctx.adapter.python_model_result(rel.render())
    return None
