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

Without a transactional table format the merge paths compile to a
single set-oriented SQL statement — new rows UNION ALL the surviving
target rows via LEFT ANTI JOIN — materialized through the adapter's
atomic CTAS swap. On Delta/Iceberg the same strategy dispatch emits
``MERGE INTO``; at 100 TB the anti-join shuffles on the unique key and
AQE handles skew, while ``insert_overwrite`` + ``partition_by`` is the
recommended no-rewrite path.

``on_schema_change`` ∈ {ignore, fail, append_new_columns,
sync_all_columns} (``artifacts/resources/v1/config.py:136-145``).
"""

from __future__ import annotations

from sparkt.exceptions import ExecutionError, SchemaChangeError
from sparkt.materializations import (
    MatContext,
    bt,
    check_contract,
    persist_docs,
    register,
    unique_key_list,
)
from sparkt.materializations.python_model import run_python_model
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


# table property marking a microbatch target whose last run completed
# with zero failed batches; absence on an existing table signals a
# crash/partial run and triggers backfill-gap recovery
_MB_COMPLETE_PROP = "sparkt.microbatch.complete"


def _microbatch_complete(ctx, rel) -> bool:
    try:
        _, rows = ctx.adapter.execute(
            f"SHOW TBLPROPERTIES {rel.render()}", fetch=True
        )
        return any(
            r["key"] == _MB_COMPLETE_PROP and str(r["value"]) == "true"
            for r in rows
        )
    except Exception:
        # catalogs without property support can't detect partial runs;
        # assume complete (recovery is best-effort, retry still heals)
        return True


def _set_microbatch_complete(ctx, rel) -> None:
    try:
        ctx.adapter.execute(
            f"ALTER TABLE {rel.render()} SET TBLPROPERTIES "
            f"('{_MB_COMPLETE_PROP}' = 'true')"
        )
    except Exception:
        pass


# table property persisting the UNHEALED failed batch windows of prior
# partial-success runs (JSON list of [start, end] pairs). run_results is
# overwritten by every command, so a plain ``run`` after a partial
# success would otherwise make interior holes permanently undetectable
# (the crash scan only extends to max(event_time), not interior gaps).
# Every later incremental run re-attempts these windows until healed;
# the completion marker is only set once none remain.
_MB_FAILED_PROP = "sparkt.microbatch.failed"


def _get_failed_windows(ctx, rel):
    import json

    try:
        _, rows = ctx.adapter.execute(
            f"SHOW TBLPROPERTIES {rel.render()}", fetch=True
        )
        for r in rows:
            if r["key"] == _MB_FAILED_PROP:
                return [
                    (_parse_ts(s), _parse_ts(e))
                    for s, e in json.loads(str(r["value"]))
                ]
    except Exception:
        pass
    return []


def _set_failed_windows(ctx, rel, windows) -> None:
    """windows: list of [start_str, end_str] pairs (empty → unset)."""
    import json

    try:
        if windows:
            # JSON uses double quotes and ISO timestamps contain no
            # single quotes, so the literal embeds safely
            ctx.adapter.execute(
                f"ALTER TABLE {rel.render()} SET TBLPROPERTIES "
                f"('{_MB_FAILED_PROP}' = '{json.dumps(windows)}')"
            )
        else:
            ctx.adapter.execute(
                f"ALTER TABLE {rel.render()} UNSET TBLPROPERTIES "
                f"IF EXISTS ('{_MB_FAILED_PROP}')"
            )
    except Exception:
        pass


def _clear_microbatch_complete(ctx, rel) -> None:
    """Drop the completion marker BEFORE the first batch write of a
    run: on parquet the CTAS swap would drop it incidentally, but on
    delta/iceberg ``REPLACE WHERE``/``MERGE`` preserve TBLPROPERTIES —
    without the explicit clear, a crash mid-run would leave last run's
    'true' marker and crash detection would never fire."""
    try:
        ctx.adapter.execute(
            f"ALTER TABLE {rel.render()} UNSET TBLPROPERTIES IF EXISTS "
            f"('{_MB_COMPLETE_PROP}')"
        )
    except Exception:
        pass


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

    100 TB shape: each batch scans only its input slice (partition-
    pruned when inputs are partitioned on an event_time-derived
    column); the initial backfill APPENDS batch-by-batch (windows tile
    disjointly); on delta/iceberg the incremental window replace
    dispatches to ``INSERT INTO ... REPLACE WHERE`` (file-level
    replace, no table rewrite); the parquet fallback is the documented
    atomic-swap rewrite. Rows whose event_time is NULL belong to no
    batch: they are never inserted by microbatch and always survive
    the window replace.

    Batch-level results (dbt 1.9 semantics): each batch records its own
    success/failure; a failed batch does NOT abort the node — remaining
    batches still run, the node finishes as ``partial success`` with a
    ``batch_results`` entry in run_results, and ``retry`` re-runs ONLY
    the failed batch windows (idempotent window replace heals the
    holes). A hard crash mid-backfill is detected on the next run via
    the ``sparkt.microbatch.complete`` table property (set only after a
    fully-successful run): recovery extends the incremental window back
    to the last batch actually present in the target (one
    ``max(event_time)`` scan — column-stats cheap on parquet).
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
    # unhealed failed windows persisted by prior partial-success runs:
    # read BEFORE any marker churn; re-attempted below until healed
    prior_failed = (
        _get_failed_windows(ctx, rel)
        if exists and not full_refresh else []
    )

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
        if not _microbatch_complete(ctx, rel):
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

    file_format = str(cfg.get("file_format") or "parquet").lower()
    compiler = ctx.compiler
    events = ctx.extras.get("events")

    def _batch_sql(bs, be):
        """Compile this node for one batch WITHOUT mutating the shared
        node (concurrent batches would clobber node.compiled_code);
        batch bounds ride the compiler's thread-local slot."""
        from sparkt.compilation import inject_ctes_into_sql

        compiler.event_time_bounds = (bs.isoformat(sep=" "),
                                      be.isoformat(sep=" "))
        try:
            extra: list = []
            compiled = compiler.render(
                node, extra, None, is_incremental=not first_build
            )
            sql = inject_ctes_into_sql(compiled, extra)
        finally:
            compiler.event_time_bounds = None
        window = (
            f"{bt(et)} >= TIMESTAMP '{bs.isoformat(sep=' ')}' AND "
            f"{bt(et)} < TIMESTAMP '{be.isoformat(sep=' ')}'"
        )
        return f"SELECT * FROM ({sql}) __sparkt_mb WHERE {window}"

    # mark the run in-flight: a crash between here and the final
    # marker re-set must be detectable on the next run even on table
    # formats whose writes preserve properties
    if ctx.adapter.relation_exists(rel):
        _clear_microbatch_complete(ctx, rel)

    def _win(bs, be):
        return [bs.isoformat(sep=" "), be.isoformat(sep=" ")]

    def _result(succeeded, failed, message):
        """run-results v6 batch_results shape; status follows dbt 1.9:
        all green → success, mixed → 'partial success' (downstream
        nodes still run against the partially-populated table), all
        red → error. ``retry`` re-runs only ``failed``. Prior-run
        unhealed windows this run did not heal carry forward (they are
        injected into ``batches`` above, so normally each already sits
        in succeeded or failed — this is the defensive net)."""
        carried = [
            w for w in prior_failed
            if not any(bs <= w[0] and be >= w[1] for bs, be in succeeded)
            and not any(b == w for b, _ in failed)
        ]
        failed = failed + [
            (w, "unhealed window carried from a prior run")
            for w in carried
        ]
        out = {
            "status": (
                "success" if not failed
                else "partial success" if succeeded
                else "error"
            ),
            "message": message,
            "batch_results": {
                "successful": [_win(*b) for b in succeeded],
                "failed": [_win(*b) for b, _ in failed],
            },
        }
        if failed:
            out["failures"] = len(failed)
            out["message"] += "; failed batches: " + "; ".join(
                f"[{_win(*b)[0]} → {_win(*b)[1]}]: {err}"
                for b, err in failed
            )
        if ctx.adapter.relation_exists(rel):
            # persist the remaining holes (or clear when healed); the
            # completion marker is set ONLY when no hole remains, so a
            # later plain run can never mask an interior gap
            _set_failed_windows(
                ctx, rel, [_win(*b) for b, _ in failed]
            )
            if not failed:
                _set_microbatch_complete(ctx, rel)
        node.relation = (
            rel if ctx.adapter.relation_exists(rel) else None
        )
        if node.relation is not None:
            # reference behavior: persist_docs on every invocation
            persist_docs(ctx, node, rel)
        return out

    # concurrent_batches (dbt 1.9): the initial backfill's batches are
    # provably disjoint (tiling property), so they execute CONCURRENTLY
    # as branches of ONE unioned insert — Spark schedules the union's
    # subtrees in parallel within a single job, and unlike N parallel
    # INSERT INTO statements there is no shared _temporary committer
    # directory to corrupt (parquet tables do not support concurrent
    # appends to one path). Incremental window replaces stay serial.
    concurrent = bool(cfg.get("concurrent_batches")) and first_build
    if concurrent and len(batches) > 1:
        import time as _time

        from sparkt import events as EV

        _t0 = _time.time()
        if events is not None:
            for bi, (bs, be) in enumerate(batches, start=1):
                events.fire(EV.MicrobatchExecutionStarted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    batch_end=be.isoformat(sep=" "),
                    index=bi, total=len(batches),
                ))
        first_bs, first_be = batches[0]
        # contract check runs UNCONDITIONALLY (same as the serial
        # path's create branch — an existing table from a crashed
        # backfill must not bypass enforcement)
        compiler.event_time_bounds = (
            first_bs.isoformat(sep=" "), first_be.isoformat(sep=" ")
        )
        try:
            compiler.compile_node(node, is_incremental=False)
        finally:
            compiler.event_time_bounds = None
        check_contract(ctx, node)
        succeeded, failed = [], []
        try:
            if not ctx.adapter.relation_exists(rel):
                ctx.adapter.create_table_as(
                    rel, select_sql=_batch_sql(first_bs, first_be),
                    partition_by=partition_by,
                )
            succeeded.append(batches[0])
        except Exception as e:  # noqa: BLE001 — recorded per batch
            failed.append((batches[0], f"{type(e).__name__}: {e}"))
        if succeeded:
            try:
                cols = ", ".join(
                    bt(c)
                    for c, _ in ctx.adapter.get_columns_in_relation(rel)
                )
                union_sql = " UNION ALL ".join(
                    f"SELECT {cols} FROM ({_batch_sql(bs, be)}) __b{i}"
                    for i, (bs, be) in enumerate(batches[1:])
                )
                ctx.adapter.insert_into(rel, f"({cols}) {union_sql}")
                succeeded.extend(batches[1:])
            except Exception as e:  # noqa: BLE001
                # one job = one fate for every unioned batch
                err = f"{type(e).__name__}: {e}"
                failed.extend((b, err) for b in batches[1:])
        else:
            failed.extend(
                (b, "skipped: create batch failed") for b in batches[1:]
            )
        if events is not None:
            # batches ran as branches of one Spark job: per-batch wall
            # time does not exist, each Q044 carries the shared wall
            elapsed = _time.time() - _t0
            for bi, (bs, be) in enumerate(batches, start=1):
                events.fire(EV.MicrobatchExecutionCompleted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    index=bi, total=len(batches),
                    execution_time=elapsed,
                    status=(
                        "success" if (bs, be) in succeeded else "error"
                    ),
                ))
        return _result(
            succeeded, failed,
            f"MICROBATCH ({len(batches)} {size} batches, concurrent "
            f"backfill: 1 create + 1 unioned append, "
            f"{batches[0][0].isoformat(sep=' ')} → "
            f"{batches[-1][1].isoformat(sep=' ')})",
        )

    # concurrent_batches, incremental run (r16, guide §2.6/§1.2): the
    # serial parquet window replace rewrites the WHOLE table once per
    # batch (O(n_batches × table size) written); one invocation's
    # windows are disjoint (tiling property), so a single rewrite whose
    # source unions every batch-filtered compile and whose keep side
    # excludes ALL windows is row-identical (pytest-pinned against the
    # serial path) and writes the table once. Spark schedules the
    # union's subtrees concurrently inside ONE job — no parallel
    # INSERTs, so there is no shared _temporary committer directory to
    # race (the same no-race-by-construction argument as the backfill
    # branch above). delta/iceberg keep the serial per-window REPLACE
    # WHERE (file-level replace — no rewrite to collapse; per-batch
    # results stay finer-grained there). Trade-off mirroring the
    # backfill branch: one job = one fate for every batch (a failure
    # marks all batches failed; retry re-runs them all).
    concurrent_replace = (
        bool(cfg.get("concurrent_batches"))
        and not first_build
        and len(batches) > 1
        and file_format not in ("delta", "iceberg")
        and ctx.adapter.relation_exists(rel)
    )
    if concurrent_replace:
        import time as _time

        from sparkt import events as EV

        _t0 = _time.time()
        if events is not None:
            for bi, (bs, be) in enumerate(batches, start=1):
                events.fire(EV.MicrobatchExecutionStarted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    batch_end=be.isoformat(sep=" "),
                    index=bi, total=len(batches),
                ))
        succeeded, failed = [], []
        try:
            cols = ", ".join(
                bt(c)
                for c, _ in ctx.adapter.get_columns_in_relation(rel)
            )
            union_sql = " UNION ALL ".join(
                f"SELECT {cols} FROM ({_batch_sql(bs, be)}) __b{i}"
                for i, (bs, be) in enumerate(batches)
            )
            windows = " OR ".join(
                f"({bt(et)} >= TIMESTAMP '{bs.isoformat(sep=' ')}' AND "
                f"{bt(et)} < TIMESTAMP '{be.isoformat(sep=' ')}')"
                for bs, be in batches
            )
            # NULL event_time rows live in NO window: keep explicitly
            # (same contract as the serial path)
            merged = (
                f"SELECT {cols} FROM ({union_sql}) __sparkt_src "
                f"UNION ALL SELECT {cols} FROM {rel.render()} "
                f"WHERE {bt(et)} IS NULL OR NOT ({windows})"
            )
            ctx.adapter.create_table_as(
                rel, select_sql=merged, partition_by=partition_by
            )
            succeeded.extend(batches)
        except Exception as e:  # noqa: BLE001 — one job, one fate
            err = f"{type(e).__name__}: {e}"
            failed.extend((b, err) for b in batches)
        if events is not None:
            elapsed = _time.time() - _t0
            for bi, (bs, be) in enumerate(batches, start=1):
                events.fire(EV.MicrobatchExecutionCompleted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    index=bi, total=len(batches),
                    execution_time=elapsed,
                    status=(
                        "success" if (bs, be) in succeeded else "error"
                    ),
                ))
        return _result(
            succeeded, failed,
            f"MICROBATCH ({len(batches)} {size} batches, concurrent "
            f"window replace: 1 unioned rewrite, "
            f"{batches[0][0].isoformat(sep=' ')} → "
            f"{batches[-1][1].isoformat(sep=' ')})",
        )

    succeeded, failed = [], []
    try:
        for bi, (bs, be) in enumerate(batches, start=1):
            import time as _time

            _t0 = _time.time()
            if events is not None:
                from sparkt import events as EV

                events.fire(EV.MicrobatchExecutionStarted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    batch_end=be.isoformat(sep=" "),
                    index=bi, total=len(batches),
                ))
            try:
                compiler.event_time_bounds = (bs.isoformat(sep=" "),
                                              be.isoformat(sep=" "))
                # a retry against a table whose create batch failed has
                # no relation yet: compile non-incrementally so
                # is_incremental() blocks (which reference {{ this }})
                # don't resolve a missing table
                compiler.compile_node(
                    node,
                    is_incremental=(
                        not first_build
                        and ctx.adapter.relation_exists(rel)
                    ),
                )
                window = (
                    f"{bt(et)} >= TIMESTAMP '{bs.isoformat(sep=' ')}' "
                    f"AND {bt(et)} < TIMESTAMP '{be.isoformat(sep=' ')}'"
                )
                # The model OUTPUT is constrained to the batch window
                # too — input-side event_time filters are the
                # efficiency path, but an input WITHOUT an event_time
                # config would otherwise re-emit its whole history
                # every batch, duplicating rows on every rerun (window
                # replace removes only in-window rows).
                src_sql = (
                    f"SELECT * FROM ({node.compiled_code}) __sparkt_mb "
                    f"WHERE {window}"
                )
                if not ctx.adapter.relation_exists(rel):
                    check_contract(ctx, node)
                    ctx.adapter.create_table_as(
                        rel, select_sql=src_sql,
                        partition_by=partition_by,
                    )
                elif first_build:
                    # initial backfill: windows tile disjointly (pinned
                    # by the tiling property test) and the target holds
                    # only prior batches, so a plain APPEND is exact —
                    # the union-rewrite here would rewrite the whole
                    # table once per batch (O(n_batches²) data written)
                    cols = ", ".join(
                        bt(c) for c, _ in
                        ctx.adapter.get_columns_in_relation(rel)
                    )
                    ctx.adapter.insert_into(
                        rel,
                        f"({cols}) SELECT {cols} "
                        f"FROM ({src_sql}) __mb_ins",
                    )
                elif file_format in ("delta", "iceberg"):
                    # file-level window replace, no table rewrite
                    ctx.adapter.execute(
                        f"INSERT INTO {rel.render()} "
                        f"REPLACE WHERE {window} {src_sql}"
                    )
                else:
                    cols = ", ".join(
                        bt(c) for c, _ in
                        ctx.adapter.get_columns_in_relation(rel)
                    )
                    # NULL event_time rows live in NO window: the keep
                    # side must retain them explicitly (NOT(window) is
                    # NULL for them, which a bare WHERE would silently
                    # drop — and would diverge from the REPLACE WHERE
                    # path, which keeps them)
                    merged = (
                        f"WITH __sparkt_src AS ({src_sql}) "
                        f"SELECT {cols} FROM __sparkt_src UNION ALL "
                        f"SELECT {cols} FROM {rel.render()} "
                        f"WHERE {bt(et)} IS NULL OR NOT ({window})"
                    )
                    ctx.adapter.create_table_as(
                        rel, select_sql=merged, partition_by=partition_by
                    )
                succeeded.append((bs, be))
                status = "success"
            except Exception as e:  # noqa: BLE001 — dbt 1.9: a failed
                # batch is recorded and the run CONTINUES (later
                # batches are independent windows; retry heals this one
                # via the idempotent window replace). The append path
                # stays exact for the survivors: a batch whose insert
                # failed contributed no rows to its window.
                failed.append(((bs, be), f"{type(e).__name__}: {e}"))
                status = "error"
            if events is not None:
                events.fire(EV.MicrobatchExecutionCompleted(
                    unique_id=node.unique_id,
                    batch_start=bs.isoformat(sep=" "),
                    index=bi, total=len(batches),
                    execution_time=_time.time() - _t0,
                    status=status,
                ))
    finally:
        compiler.event_time_bounds = None
    return _result(
        succeeded, failed,
        f"MICROBATCH ({len(batches)} {size} batch"
        f"{'es' if len(batches) != 1 else ''}, "
        f"{batches[0][0].isoformat(sep=' ')} → "
        f"{batches[-1][1].isoformat(sep=' ')})",
    )


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
        if node.language != "python":
            check_contract(ctx, node)
        if node.language == "python":
            if getattr(ctx.adapter, "is_replay", False):
                # replay (sparkt/record.py): the stand-in reproduces
                # the recorded CTAS key; no user code, no session
                from sparkt.record import dataframe_standin

                ctx.adapter.create_table_as(
                    rel, df=dataframe_standin(), partition_by=partition_by
                )
                ctx.adapter.python_model_result(rel.render())
            else:
                df = run_python_model(ctx, node)
                ctx.adapter.create_table_as(
                    rel, df=df, partition_by=partition_by
                )
                if getattr(ctx.adapter, "is_recording", False):
                    ctx.adapter.python_model_result(rel.render())
        else:
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

    # ACID-format dispatch: on delta/iceberg the merge strategy submits
    # a real MERGE INTO (file-stat-pruned, rewrites only matched files)
    # instead of the whole-relation versioned-path rewrite below
    file_format = str(node.config.get("file_format") or "parquet").lower()
    if (
        strategy == "merge"
        and file_format in ("delta", "iceberg")
        and not schema_rewrite
    ):
        preds = node.config.get("incremental_predicates") or []
        if isinstance(preds, str):
            preds = [preds]
        merge_sql = ctx.adapter.merge_into_sql(
            rel,
            src_sql,
            uk,
            [name for name, _, _ in final_cols],
            predicates=preds,
            update_columns=node.config.get("merge_update_columns"),
            exclude_columns=node.config.get("merge_exclude_columns"),
        )
        ctx.adapter.execute(merge_sql)
        persist_docs(ctx, node, rel)
        return f"MERGE INTO ({file_format})"

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
        # configured columns, keeping target values elsewhere. The
        # delta MERGE path already honors these; the rewrite path
        # silently ignored them (r15 review) — matched rows were
        # fully replaced. Three-branch rewrite: unmatched source
        # inserts, matched rows mix s/t per column, unmatched target
        # keeps.
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
