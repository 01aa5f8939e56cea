"""incremental materialization.

Reference semantics (``artifacts/resources/v1/config.py:82,102-106``;
pinned by ``tests/functional/basic/test_simple_reference.py:27-39`` and
``tests/functional/incremental_schema_tests/fixtures.py``): first run =
CTAS; later runs apply only new rows, with the model gating its delta
logic on ``{% if is_incremental() %}``.

Strategies (SURVEY.md §2.1):
- ``append``            → ``INSERT INTO`` (fast path, no rewrite)
- ``merge``             → upsert on ``unique_key``
- ``delete+insert``     → delete matching keys, insert all new rows
                          (same final state as merge here)
- ``insert_overwrite``  → dynamic partition overwrite
                          (``partitionOverwriteMode=dynamic``)
- ``microbatch``        → one write loop over event-time batch groups,
                          each replacing its windows idempotently; the
                          run state (completion flag, unhealed failed
                          windows) lives in the relation's durable
                          catalog entry (``_materialize_microbatch``)

Every target is a parquet table (a model's ``file_format`` is not
read), so the merge paths compile to a single set-oriented SQL
statement — new rows UNION ALL the surviving target rows via LEFT ANTI
JOIN — materialized through the adapter's atomic CTAS swap. At 100 TB
the anti-join shuffles on the unique key and AQE handles skew, while
``insert_overwrite`` + ``partition_by`` is the recommended no-rewrite
path.

``on_schema_change`` ∈ {ignore, fail, append_new_columns,
sync_all_columns} (``artifacts/resources/v1/config.py:136-145``).
"""

from __future__ import annotations

import time

from sparkt import events as EV
from sparkt.exceptions import ExecutionError, SchemaChangeError
from sparkt.materializations import (
    MatContext,
    bt,
    check_contract,
    persist_docs,
    register,
    unique_key_list,
)
from sparkt.materializations.python_model import (
    run_python_model,
    write_python_model,
)
from sparkt.materializations.table import _partition_by


def _source_df(ctx, node):
    if node.language == "python":
        # incremental-run path only (first builds call
        # run_python_model directly with the False default)
        return run_python_model(ctx, node, is_incremental=True)
    return ctx.spark.sql(node.compiled_code)


def _uk_eq(uk: list[str], left: str, right: str) -> str:
    # null-safe equality: dbt merges treat NULL keys as matching values
    return " AND ".join(
        f"{left}.{bt(k)} <=> {right}.{bt(k)}" for k in uk
    )


def _apply_schema_change(ctx, node, src_cols, tgt_cols):
    """Returns (final_cols, needs_rewrite). final_cols is the output
    column list; each entry is (name, present_in_src, present_in_tgt)."""
    policy = node.config.get("on_schema_change", "ignore")
    src_names = [c[0] for c in src_cols]
    tgt_names = [c[0] for c in tgt_cols]
    new_in_src = [c for c in src_cols if c[0] not in tgt_names]
    missing_in_src = [c for c in tgt_cols if c[0] not in src_names]
    if not new_in_src and not missing_in_src:
        return [(n, True, True) for n in tgt_names], False
    if policy == "fail":
        raise SchemaChangeError(
            f"{node.unique_id}: schema changed (new: {[c[0] for c in new_in_src]}, "
            f"removed: {[c[0] for c in missing_in_src]}) and on_schema_change='fail'"
        )
    if policy == "ignore":
        # keep target schema; source must supply every target column
        if missing_in_src:
            raise ExecutionError(
                f"{node.unique_id}: source is missing target columns "
                f"{[c[0] for c in missing_in_src]} (on_schema_change='ignore')"
            )
        return [(n, True, True) for n in tgt_names], False
    if policy == "append_new_columns":
        cols = [(n, n in src_names, True) for n in tgt_names]
        cols += [(c[0], True, False) for c in new_in_src]
        return cols, True
    if policy == "sync_all_columns":
        # adopt the source schema: add new, drop removed, keep src order
        return [(n, True, n in tgt_names) for n in src_names], True
    raise ExecutionError(f"bad on_schema_change: {policy}")


def _col_select(cols, alias: str, side: str, types: dict[str, str]) -> str:
    """Project ``cols`` from one side, NULL-filling columns it lacks."""
    out = []
    for name, in_src, in_tgt in cols:
        present = in_src if side == "src" else in_tgt
        if present:
            out.append(f"{alias}.{bt(name)}")
        else:
            out.append(
                f"CAST(NULL AS {types.get(name, 'string')}) AS {bt(name)}"
            )
    return ", ".join(out)


# ------------------------------------------------------- microbatch
_BATCH_SIZES = ("hour", "day", "month", "year")


def _parse_ts(v):
    from datetime import datetime, timezone

    if isinstance(v, datetime):
        dt = v
    else:
        dt = datetime.fromisoformat(str(v).replace("Z", "+00:00"))
    if dt.tzinfo is not None:
        dt = dt.astimezone(timezone.utc).replace(tzinfo=None)
    return dt


def _batch_floor(dt, size):
    if size == "hour":
        return dt.replace(minute=0, second=0, microsecond=0)
    if size == "day":
        return dt.replace(hour=0, minute=0, second=0, microsecond=0)
    if size == "month":
        return dt.replace(day=1, hour=0, minute=0, second=0, microsecond=0)
    return dt.replace(
        month=1, day=1, hour=0, minute=0, second=0, microsecond=0
    )


def _batch_shift(dt, size, n):
    import calendar
    from datetime import timedelta

    if size == "hour":
        return dt + timedelta(hours=n)
    if size == "day":
        return dt + timedelta(days=n)
    if size == "month":
        m = dt.month - 1 + n
        y, mo = dt.year + m // 12, m % 12 + 1
        # clamp the day (Jan 31 + 1 month, Nov 29 + 3 months → Feb):
        # batch boundaries are floored (day=1) so this only matters for
        # raw caller timestamps, but a ValueError there is still a bug
        day = min(dt.day, calendar.monthrange(y, mo)[1])
        return dt.replace(year=y, month=mo, day=day)
    y = dt.year + n
    day = min(dt.day, calendar.monthrange(y, dt.month)[1])
    return dt.replace(year=y, day=day)


# durable run state of a microbatch target, kept in its catalog.json
# entry (``SparkAdapter.set_relation_meta``) so it outlives the process:
# the completion flag is true only after a run with zero failed batches
# (false or absent on an existing table means a crash or partial run and
# triggers the backfill-gap recovery); the failed list holds the
# UNHEALED batch windows of prior partial-success runs as [start, end]
# pairs. run_results is overwritten by every command, so without the
# list a plain ``run`` after a partial success would leave interior
# holes undetectable (the crash scan only reaches max(event_time)).
_MB_COMPLETE = "sparkt.microbatch.complete"
_MB_FAILED = "sparkt.microbatch.failed"


def _target_max_event_time(ctx, rel, et):
    _, res = ctx.adapter.execute(
        f"SELECT max({bt(et)}) AS mx FROM {rel.render()}", fetch=True
    )
    mx = res.rows[0]["mx"] if len(res) else None
    return _parse_ts(mx) if mx is not None else None


def _materialize_microbatch(ctx, node, rel, exists, full_refresh,
                            partition_by):
    """dbt 1.9 microbatch incremental strategy (EXTENSION: the
    reference snapshot predates it; semantics follow dbt's published
    design). The event-time range splits into ``batch_size`` periods;
    per batch, every ref/source declaring ``event_time`` compiles to a
    batch-filtered subquery (``Compiler._maybe_event_filtered``) and
    the batch window of the target is replaced idempotently
    (delete+insert on the window). Incremental runs reprocess the
    current batch plus ``lookback`` preceding batches; the first build
    starts at ``begin``. ``--event-time-start/--event-time-end``
    override the window for backfills.

    One write loop over batch groups. By default each batch is its own
    group. ``concurrent_batches`` groups a first build as ``[first]``,
    ``[rest]`` (one create, one unioned append) and an incremental run
    on an existing table as one group (one unioned rewrite); Spark runs
    a union's branches in parallel inside one job, so no two writers
    share a committer directory. Per group, the missing table is
    created (after ``check_contract``); a first build appends (windows
    tile disjointly); a later run rewrites through the atomic swap,
    keeping every target row outside the group's windows. Rows whose
    event_time is NULL belong to no batch: never inserted, always kept.

    Batch-level results (dbt 1.9 semantics): each batch records its own
    success/failure (a group shares one fate); a failed batch does NOT
    abort the node — later groups still run, the node finishes as
    ``partial success`` with a ``batch_results`` entry in run_results,
    and ``retry`` re-runs ONLY the failed batch windows. The run state
    (completion flag, unhealed failed windows) lives in catalog.json
    through the relation meta, read once before any write: a later
    plain run re-attempts the unhealed windows, and a crash mid-run
    (flag cleared before the first write) is recovered on the next run
    by extending the window back to the newest batch present in the
    target (one ``max(event_time)`` scan).
    """
    cfg = node.config
    et = cfg.get("event_time")
    if not et:
        raise ExecutionError(
            f"{node.unique_id}: microbatch requires an event_time config"
        )
    size = str(cfg.get("batch_size", "day")).lower()
    if size not in _BATCH_SIZES:
        raise ExecutionError(
            f"{node.unique_id}: batch_size must be one of {_BATCH_SIZES}"
        )
    lookback = int(cfg.get("lookback", 1))
    first_build = not exists or full_refresh
    meta = (
        ctx.adapter.get_relation_meta(rel)
        if exists and not full_refresh else {}
    )
    prior_failed = [
        (_parse_ts(s), _parse_ts(e)) for s, e in meta.get(_MB_FAILED) or []
    ]

    # ---- compute and VALIDATE the whole window BEFORE any destructive
    # step: a bad 'begin' / unparseable --event-time bound must fail the
    # node with the existing table intact (drop-then-raise would leave
    # the model destroyed with nothing rebuilt)
    end = _parse_ts(
        ctx.extras.get("event_time_end") or ctx.extras["batch_ts"]
    )
    retry_windows = None
    if not full_refresh:
        retry_windows = (ctx.extras.get("retry_batches") or {}).get(
            node.unique_id
        )
    start_override = ctx.extras.get("event_time_start")
    if retry_windows:
        # batch retry: heal EXACTLY the failed windows from the prior
        # invocation via the idempotent window-replace path
        batches = [
            (_parse_ts(s), _parse_ts(e)) for s, e in retry_windows
        ]
        first_build = False
    elif start_override:
        start = _parse_ts(start_override)
    elif first_build:
        begin = cfg.get("begin")
        if not begin:
            raise ExecutionError(
                f"{node.unique_id}: microbatch first build requires a "
                "'begin' config (start of time for the initial backfill)"
            )
        start = _parse_ts(begin)
    else:
        start = _batch_shift(_batch_floor(end, size), size, -lookback)
        if not meta.get(_MB_COMPLETE):
            # prior run crashed / left failed batches: resume from the
            # newest batch actually present instead of silently leaving
            # the crash-to-lookback gap unprocessed forever
            mx = _target_max_event_time(ctx, rel, et)
            if mx is None:
                # table exists but is empty — re-backfill from begin
                begin = cfg.get("begin")
                if begin:
                    start = min(start, _parse_ts(begin))
            else:
                start = min(start, _batch_floor(mx, size))

    if full_refresh and exists:
        # a full refresh REBUILDS from 'begin': drop so the first batch
        # recreates the table (new schema, nothing outside the new
        # window surviving) — safe now that the window above validated
        ctx.adapter.drop_relation(rel)

    if not retry_windows and not prior_failed and start >= end:
        if not ctx.adapter.relation_exists(rel):
            # empty window on a first build: still create the (empty)
            # table from the compiled schema so downstream refs resolve
            # and node.relation is set — returning bare success with no
            # relation would fail every child while this node reports ok
            bound = end.isoformat(sep=" ")
            ctx.compiler.event_time_bounds = (bound, bound)
            try:
                ctx.compiler.compile_node(node, is_incremental=False)
            finally:
                ctx.compiler.event_time_bounds = None
            check_contract(ctx, node)
            ctx.adapter.create_table_as(
                rel,
                select_sql=(
                    f"SELECT * FROM ({node.compiled_code}) "
                    "__sparkt_mb WHERE 1 = 0"
                ),
                partition_by=partition_by,
            )
        node.relation = rel
        return "MICROBATCH (0 batches — window empty)"

    if not retry_windows:
        batches = []
        if start < end:
            b = _batch_floor(start, size)
            while b < end:
                nb = _batch_shift(b, size, 1)
                batches.append((max(b, start), min(nb, end)))
                b = nb

    # heal prior unhealed windows on EVERY later run (plain run or
    # retry): append any persisted failed window the current window
    # does not already cover — the window replace is idempotent, so
    # reprocessing a past window is exact
    for fs, fe in prior_failed:
        if not any(bs <= fs and be >= fe for bs, be in batches):
            batches.append((fs, fe))
    batches.sort()

    label, groups = "", [[b] for b in batches]
    if cfg.get("concurrent_batches") and len(batches) > 1:
        if first_build:
            label = "concurrent backfill: 1 create + 1 unioned append, "
            groups = [batches[:1], batches[1:]]
        elif exists:
            label = "concurrent window replace: 1 unioned rewrite, "
            groups = [batches]

    compiler = ctx.compiler

    def _ts(t):
        return t.isoformat(sep=" ")

    def _window(bs, be):
        return (
            f"{bt(et)} >= TIMESTAMP '{_ts(bs)}' AND "
            f"{bt(et)} < TIMESTAMP '{_ts(be)}'"
        )

    def _batch_sql(bs, be, is_incremental):
        """This node's SQL for one batch, without mutating the shared
        node; the batch bounds ride the compiler's thread-local slot."""
        from sparkt.compilation import inject_ctes_into_sql

        compiler.event_time_bounds = (_ts(bs), _ts(be))
        try:
            extra: list = []
            compiled = compiler.render(
                node, extra, None, is_incremental=is_incremental
            )
            return inject_ctes_into_sql(compiled, extra)
        finally:
            compiler.event_time_bounds = None

    def _write(group):
        present = ctx.adapter.relation_exists(rel)
        # a retry against a table whose create batch failed has no
        # relation yet: compile non-incrementally so is_incremental()
        # blocks (which reference {{ this }}) don't resolve a missing
        # table
        sqls = [
            _batch_sql(bs, be, not first_build and present)
            for bs, be in group
        ]
        # the artifact shows the last batch compiled; the contract
        # check below reads it too
        node.compiled_code = sqls[-1]
        cols = "*"
        if present:
            cols = ", ".join(
                bt(c) for c, _ in ctx.adapter.get_columns_in_relation(rel)
            )
        # The model OUTPUT is constrained to the batch window too —
        # input-side event_time filters are the efficiency path, but an
        # input WITHOUT an event_time config would otherwise re-emit its
        # whole history every batch, duplicating rows on every rerun
        src = " UNION ALL ".join(
            f"SELECT {cols} FROM (SELECT * FROM ({sql}) __sparkt_mb "
            f"WHERE {_window(*b)}) __b{i}"
            for i, (sql, b) in enumerate(zip(sqls, group))
        )
        # AND binds tighter than OR: the disjunction of the windows
        windows = " OR ".join(_window(*b) for b in group)
        if not present:
            check_contract(ctx, node)
            ctx.adapter.create_table_as(
                rel, select_sql=src, partition_by=partition_by
            )
        elif first_build:
            # initial backfill: windows tile disjointly (pinned by the
            # tiling property test) and the target holds only prior
            # batches, so a plain APPEND is exact — a rewrite here would
            # rewrite the whole table once per group
            ctx.adapter.insert_into(rel, f"({cols}) {src}")
        else:
            # NULL event_time rows live in NO window: the keep side
            # retains them explicitly (NOT(window) is NULL for them,
            # which a bare WHERE would silently drop)
            ctx.adapter.create_table_as(
                rel,
                select_sql=(
                    f"SELECT {cols} FROM ({src}) __sparkt_src "
                    f"UNION ALL SELECT {cols} FROM {rel.render()} "
                    f"WHERE {bt(et)} IS NULL OR NOT ({windows})"
                ),
                partition_by=partition_by,
            )

    # mark the run in-flight BEFORE the first write: a crash before the
    # end of the run re-sets the flag must be detectable on the next run
    # (every write keeps the meta: an append leaves the catalog entry
    # alone and the CTAS swap carries it into the new entry)
    if exists and not full_refresh:
        ctx.adapter.set_relation_meta(rel, **{_MB_COMPLETE: False})

    events = ctx.extras.get("events")
    succeeded, failed = [], []
    index = 0
    for group in groups:
        t0 = time.time()
        if events is not None:
            for i, (bs, be) in enumerate(group, start=index + 1):
                events.fire(EV.MicrobatchExecutionStarted(
                    unique_id=node.unique_id, batch_start=_ts(bs),
                    batch_end=_ts(be), index=i, total=len(batches),
                ))
        try:
            _write(group)
            succeeded.extend(group)
            status = "success"
        except Exception as e:  # noqa: BLE001 — dbt 1.9: a failed
            # batch is recorded and the run CONTINUES (later batches
            # are independent windows; retry heals this one via the
            # idempotent window replace). The append path stays exact
            # for the survivors: a group whose write failed contributed
            # no rows to its windows.
            err = f"{type(e).__name__}: {e}"
            failed.extend((b, err) for b in group)
            status = "error"
        if events is not None:
            # a group's batches run as branches of one Spark job: each
            # Q044 carries the group's wall time
            for i, (bs, _) in enumerate(group, start=index + 1):
                events.fire(EV.MicrobatchExecutionCompleted(
                    unique_id=node.unique_id, batch_start=_ts(bs),
                    index=i, total=len(batches),
                    execution_time=time.time() - t0, status=status,
                ))
        index += len(group)

    # run-results v6 batch_results shape; status follows dbt 1.9: all
    # green → success, mixed → 'partial success' (downstream nodes still
    # run against the partially-populated table), all red → error.
    # Prior-run unhealed windows are injected into ``batches`` above, so
    # each normally sits in succeeded or failed already; any that this
    # run did not heal carries forward (the defensive net).
    failed += [
        (w, "unhealed window carried from a prior run")
        for w in prior_failed
        if not any(bs <= w[0] and be >= w[1] for bs, be in succeeded)
        and not any(b == w for b, _ in failed)
    ]

    def _win(b):
        return [_ts(b[0]), _ts(b[1])]

    out = {
        "status": (
            "success" if not failed
            else "partial success" if succeeded
            else "error"
        ),
        "message": (
            f"MICROBATCH ({len(batches)} {size} batch"
            f"{'es' if len(batches) != 1 else ''}, {label}"
            f"{_ts(batches[0][0])} → {_ts(batches[-1][1])})"
        ),
        "batch_results": {
            "successful": [_win(b) for b in succeeded],
            "failed": [_win(b) for b, _ in failed],
        },
    }
    if failed:
        out["failures"] = len(failed)
        out["message"] += "; failed batches: " + "; ".join(
            f"[{_ts(b[0])} → {_ts(b[1])}]: {err}" for b, err in failed
        )
    node.relation = rel if ctx.adapter.relation_exists(rel) else None
    if node.relation is not None:
        # persist the remaining holes (or clear them when healed); the
        # flag is set ONLY when no hole remains, so a later plain run
        # can never mask an interior gap
        ctx.adapter.set_relation_meta(rel, **{
            _MB_COMPLETE: not failed,
            _MB_FAILED: [_win(b) for b, _ in failed],
        })
        # reference behavior: persist_docs on every invocation
        persist_docs(ctx, node, rel)
    return out


@register("incremental")
def materialize_incremental(ctx: MatContext, node):
    rel = ctx.compiler.relation_for(node)
    exists = ctx.adapter.relation_exists(rel)
    full_refresh = ctx.full_refresh or node.config.get("full_refresh", False)
    partition_by = _partition_by(node)

    if node.config.get("incremental_strategy") == "microbatch":
        return _materialize_microbatch(
            ctx, node, rel, exists, full_refresh, partition_by
        )

    if not exists or full_refresh:
        ctx.compiler.compile_node(node, is_incremental=False)
        if node.language == "python":
            write_python_model(ctx, node, rel, partition_by=partition_by)
        else:
            check_contract(ctx, node)
            ctx.adapter.create_table_as(
                rel, select_sql=node.compiled_code, partition_by=partition_by
            )
        node.relation = rel
        persist_docs(ctx, node, rel)
        return "CREATE TABLE AS (first run)"

    ctx.compiler.compile_node(node, is_incremental=True)
    node.relation = rel
    uk = unique_key_list(node)
    strategy = node.config.get(
        "incremental_strategy", "merge" if uk else "append"
    )

    if node.language == "python":
        if getattr(ctx.adapter, "is_replay", False):
            # replay: the recorded source schema drives schema-change
            # handling and strategy SQL generation identically; the
            # downstream statements (which only reference the temp
            # view by NAME) are served from the recording
            src_df = None
            info = ctx.adapter.python_model_source(node.unique_id)
            src_cols = [tuple(c) for c in info["columns"]]
        else:
            src_df = _source_df(ctx, node)
            src_cols = [
                (f.name, f.dataType.simpleString())
                for f in src_df.schema.fields
            ]
            if getattr(ctx.adapter, "is_recording", False):
                ctx.adapter.stash_python_model_source(
                    node.unique_id, [list(c) for c in src_cols]
                )
                ctx.adapter.python_model_source(node.unique_id)
    else:
        # analysis-only schema discovery via the ADAPTER (DESCRIBE QUERY
        # emits the same simpleString type forms), not a bare spark.sql
        # — keeps the whole SQL incremental path on the recorded surface
        # so record/replay covers it (sparkt/record.py)
        _, res = ctx.adapter.execute(
            f"DESCRIBE QUERY {node.compiled_code}", fetch=True
        )
        src_cols = [(r["col_name"], r["data_type"]) for r in res]
    tgt_cols = ctx.adapter.get_columns_in_relation(rel)
    types = dict(tgt_cols)
    for n, t in src_cols:
        types.setdefault(n, t)
    final_cols, schema_rewrite = _apply_schema_change(ctx, node, src_cols, tgt_cols)

    if node.language == "python":
        if src_df is not None:
            src_df.createOrReplaceTempView(f"__sparkt_src_{node.name}")
        # replay: the recorded statements reference the view by NAME
        # only, so the same src_sql string reproduces their keys
        src_sql = f"SELECT * FROM __sparkt_src_{node.name}"
    else:
        src_sql = node.compiled_code

    if strategy == "append" and not schema_rewrite:
        cols = ", ".join(bt(name) for name, _, _ in final_cols)
        ctx.adapter.insert_into(
            rel, f"({cols}) SELECT {cols} FROM ({src_sql}) __sparkt_src"
        )
        persist_docs(ctx, node, rel)
        return "INSERT INTO (append)"

    if strategy == "insert_overwrite" and not schema_rewrite:
        cols = ", ".join(bt(name) for name, _, _ in final_cols)
        ctx.adapter.insert_overwrite(
            rel, f"SELECT {cols} FROM ({src_sql}) __sparkt_src"
        )
        persist_docs(ctx, node, rel)
        return "INSERT OVERWRITE (dynamic partitions)"

    if strategy in ("merge", "delete+insert") and not uk:
        raise ExecutionError(f"{node.unique_id}: {strategy} requires unique_key")

    # rewrite path: one set-oriented statement through the atomic swap.
    # The source is MATERIALIZED ONCE into a staging table first (the
    # reference's __dbt_tmp contract — dbt's default incremental
    # materialization stages the source before merging): the rewrite
    # references the source twice (insert branch + anti-join keep
    # branch) and Spark inlines CTEs wholesale, so without staging an
    # expensive source executes twice AND a non-deterministic source
    # (rand() sampling, LIMIT without ORDER BY) can evaluate
    # differently in the two branches — a key present only in the
    # second evaluation would anti-join its target row away without
    # inserting a replacement (r12 core review #8).
    tmp_rel = rel.incorporate(
        identifier=rel.identifier + "__sparkt_tmp"
    )
    ctx.adapter.create_table_as(tmp_rel, select_sql=src_sql)
    src_sql = f"SELECT * FROM {tmp_rel.render()}"
    try:
        return _incremental_rewrite(
            ctx, node, rel, src_sql, strategy, uk, partition_by,
            final_cols, types, schema_rewrite,
        )
    finally:
        # the staging table is dropped on SUCCESS AND FAILURE
        # (second-opinion review #6: a failed rewrite leaked
        # <name>__sparkt_tmp into the warehouse and catalog.json,
        # and the restore faithfully recreated it forever)
        ctx.adapter.drop_relation(tmp_rel)


def _incremental_rewrite(
    ctx, node, rel, src_sql, strategy, uk, partition_by,
    final_cols, types, schema_rewrite,
):
    if strategy in ("merge", "delete+insert"):
        # incremental_predicates (reference tests/functional/adapter/
        # incremental/test_incremental_predicates.py): target rows are
        # delete/update-eligible only if ALL predicates hold — a
        # non-matching target row SURVIVES and the source row inserts
        # alongside it. Predicates bind to the target row; the aliases
        # DBT_INTERNAL_DEST (target) and DBT_INTERNAL_SOURCE (source)
        # are honored for cross-adapter compatibility. At scale this is
        # the merge-scope limiter (e.g. "DBT_INTERNAL_DEST.ds >
        # current_date - 7" keeps the anti-join off cold partitions).
        preds = node.config.get("incremental_predicates") or []
        if isinstance(preds, str):
            preds = [preds]
        tgt_from = f"{rel.render()} t"
        join_on = _uk_eq(uk, "t", "s")
        if preds:
            # target-bound predicates (bare columns or DBT_INTERNAL_DEST)
            # evaluate in a target-only scope so unqualified names can't
            # collide with source columns; source-referencing predicates
            # (must qualify both sides) go into the join condition.
            # Each splice ends in a newline, so a trailing ``--``
            # comment in a predicate cannot swallow the closing paren.
            tgt_preds = [
                p.replace("DBT_INTERNAL_DEST.", "")
                for p in preds
                if "DBT_INTERNAL_SOURCE" not in p
            ]
            join_preds = [
                p.replace("DBT_INTERNAL_DEST", "t")
                 .replace("DBT_INTERNAL_SOURCE", "s")
                for p in preds
                if "DBT_INTERNAL_SOURCE" in p
            ]
            if tgt_preds:
                flags = " AND ".join(f"({p}\n)" for p in tgt_preds)
                tgt_from = (
                    f"(SELECT *, ({flags}) AS __sparkt_pred "
                    f"FROM {rel.render()}) t"
                )
                join_on = f"({join_on}) AND t.__sparkt_pred"
            for p in join_preds:
                join_on = f"({join_on}) AND ({p}\n)"
        keep_tgt = (
            f"SELECT {_col_select(final_cols, 't', 'tgt', types)} "
            f"FROM {tgt_from} LEFT ANTI JOIN __sparkt_src s ON {join_on}"
        )
        # merge_update_columns / merge_exclude_columns (reference
        # tests/functional/adapter/incremental/test_incremental_
        # merge_exclude_columns.py): matched rows update ONLY the
        # configured columns, keeping target values elsewhere.
        # Three-branch rewrite: unmatched source inserts, matched rows
        # mix s/t per column, unmatched target keeps.
        upd_cfg = node.config.get("merge_update_columns")
        exc_cfg = node.config.get("merge_exclude_columns")
        if strategy == "merge" and (upd_cfg or exc_cfg):
            if upd_cfg and exc_cfg:
                raise ExecutionError(
                    f"{node.unique_id}: merge_update_columns and "
                    "merge_exclude_columns are mutually exclusive"
                )
            names = [name for name, _, _ in final_cols]
            if upd_cfg:
                upd_set = {c for c in upd_cfg}
            else:
                upd_set = set(names) - set(exc_cfg)
            unknown = (set(upd_cfg or exc_cfg)) - set(names)
            if unknown:
                raise ExecutionError(
                    f"{node.unique_id}: merge column config names "
                    f"unknown columns {sorted(unknown)}"
                )
            matched_sel = ", ".join(
                (
                    f"s.{bt(name)}" if in_src
                    else f"CAST(NULL AS {types.get(name, 'string')}) "
                    f"AS {bt(name)}"
                )
                if name in upd_set
                else (
                    f"t.{bt(name)}" if in_tgt
                    else f"CAST(NULL AS {types.get(name, 'string')}) "
                    f"AS {bt(name)}"
                )
                for name, in_src, in_tgt in final_cols
            )
            merged = (
                f"WITH __sparkt_src AS ({src_sql}) "
                f"SELECT {_col_select(final_cols, 's', 'src', types)} "
                f"FROM __sparkt_src s LEFT ANTI JOIN {tgt_from} "
                f"ON {join_on} "
                f"UNION ALL "
                f"SELECT {matched_sel} FROM {tgt_from} "
                f"JOIN __sparkt_src s ON {join_on} "
                f"UNION ALL {keep_tgt}"
            )
            ctx.adapter.create_table_as(
                rel, select_sql=merged, partition_by=partition_by
            )
            persist_docs(ctx, node, rel)
            return "MERGE (merge, partial-update rewrite)"
    elif strategy == "insert_overwrite":
        # overwrite semantics survive the rewrite: keep only target rows
        # in partitions the source does NOT touch
        if not partition_by:
            raise ExecutionError(
                f"{node.unique_id}: insert_overwrite requires partition_by "
                "(unpartitioned overwrite would drop all existing rows)"
            )
        part_eq = _uk_eq(partition_by, "t", "s")
        part_cols = ", ".join(bt(c) for c in partition_by)
        keep_tgt = (
            f"SELECT {_col_select(final_cols, 't', 'tgt', types)} "
            f"FROM {rel.render()} t LEFT ANTI JOIN "
            f"(SELECT DISTINCT {part_cols} FROM __sparkt_src) s "
            f"ON {part_eq}"
        )
    else:  # append that needs a schema rewrite keeps every target row
        keep_tgt = (
            f"SELECT {_col_select(final_cols, 't', 'tgt', types)} FROM {rel.render()} t"
        )
    merged = (
        f"WITH __sparkt_src AS ({src_sql}) "
        f"SELECT {_col_select(final_cols, 's', 'src', types)} FROM __sparkt_src s "
        f"UNION ALL {keep_tgt}"
    )
    ctx.adapter.create_table_as(rel, select_sql=merged, partition_by=partition_by)
    # persist_docs runs on EVERY invocation (reference behavior): the
    # rewrite built a brand-new table, so comments set on the first
    # run would otherwise silently vanish (r12 core review #7)
    persist_docs(ctx, node, rel)
    return f"MERGE ({strategy}, rewrite)"
