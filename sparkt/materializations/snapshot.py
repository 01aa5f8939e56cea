"""snapshot materialization: SCD-2 history tables.

Reference semantics (``core/dbt/artifacts/resources/v1/snapshot.py:10-61``,
``core/dbt/task/snapshot.py``; pinned by
``tests/functional/simple_snapshot/fixtures.py:1-160`` including the
``lead(dbt_valid_from) over (partition by id order by dbt_valid_from)``
validity-interval checks):

- strategies: ``timestamp`` (compare ``updated_at``) and ``check``
  (compare ``check_cols`` or ``"all"``).
- metadata columns: ``dbt_scd_id`` (md5 of unique_key ∥ updated_at),
  ``dbt_updated_at``, ``dbt_valid_from``, ``dbt_valid_to`` (NULL =
  current row).
- one batch timestamp per run, captured at runner start, not per-row
  (SURVEY.md §7 "Snapshot timestamp semantics").

Every snapshot table is parquet (a ``file_format`` config is not
read), so a run compiles to one set-oriented statement — close out
changed current rows + append new versions — through the adapter's
atomic CTAS swap (SURVEY.md §2.1 names a MERGE as the Delta form). At
scale the joins shuffle on the unique key; snapshot tables should be
partitioned on a stable key prefix.
"""

from __future__ import annotations

from datetime import datetime, timezone

from sparkt.exceptions import ExecutionError
from sparkt.materializations import MatContext, bt, register, unique_key_list

META_COLS = ["dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to"]


def _scd_id_expr(uk: list[str], updated_expr: str, alias: str) -> str:
    parts = ", ".join(
        [f"cast({alias}.{bt(k)} as string)" for k in uk]
        + [f"cast({updated_expr} as string)"]
    )
    return f"md5(concat_ws('|', {parts}))"


@register("snapshot")
def materialize_snapshot(ctx: MatContext, node):
    ctx.compiler.compile_node(node)
    cfg = node.config
    strategy = cfg.get("strategy", "timestamp")
    uk = unique_key_list(node)
    if not uk:
        raise ExecutionError(f"{node.unique_id}: snapshot requires unique_key")
    # relation_for owns the schema choice (target_schema verbatim,
    # else the generate_schema_name path) so refs to this snapshot
    # resolve to the SAME relation the write lands in
    rel = ctx.compiler.relation_for(node)
    node.relation = rel

    batch_ts = ctx.extras.get("batch_ts") or datetime.now(timezone.utc)
    ts_literal = f"timestamp'{batch_ts.strftime('%Y-%m-%d %H:%M:%S.%f')}'"

    # snapshot_meta_column_names (dbt 1.9): rename the dbt_ meta
    # columns — lets legacy SCD-2 tables keep their column names
    meta = {c: c for c in META_COLS + ["dbt_is_deleted"]}
    meta.update(cfg.get("snapshot_meta_column_names") or {})
    m_scd, m_upd, m_from, m_to, m_del = (
        meta["dbt_scd_id"], meta["dbt_updated_at"],
        meta["dbt_valid_from"], meta["dbt_valid_to"],
        meta["dbt_is_deleted"],
    )
    # dbt_valid_to_current (dbt 1.9): a sentinel "current row" value
    # (e.g. date'9999-12-31') instead of NULL — legacy warehouse
    # conventions and BETWEEN-friendly range joins
    vt_cur = cfg.get("dbt_valid_to_current")
    cur_val = str(vt_cur) if vt_cur else "CAST(NULL AS timestamp)"
    cur_pred = (
        f"= {vt_cur}" if vt_cur else "IS NULL"
    )

    src_sql = node.compiled_code
    # analysis-only schema discovery through the ADAPTER so record/
    # replay covers snapshots (sparkt/record.py; same move as the
    # incremental path's DESCRIBE QUERY)
    _, _res = ctx.adapter.execute(
        f"DESCRIBE QUERY {src_sql}", fetch=True
    )
    src_types = {
        r["col_name"]: r["data_type"]
        for r in _res
        if r["col_name"] not in set(meta.values())
    }
    src_data = list(src_types)
    data_cols = src_data

    if strategy == "timestamp":
        updated_at = cfg.get("updated_at")
        if not updated_at:
            raise ExecutionError(f"{node.unique_id}: timestamp strategy needs updated_at")
        upd = lambda a: f"{a}.{bt(updated_at)}"  # noqa: E731
        changed = f"s.{bt(updated_at)} > c.{bt(m_upd)}"
    elif strategy == "check":
        check_cols = cfg.get("check_cols", "all")
        if check_cols == "all":
            check_cols = [c for c in data_cols if c not in uk]
        if not check_cols:
            # '()' would be a SQL parse error at runtime; surface the
            # config problem (every data column is in unique_key, or an
            # explicit empty list) up front instead
            raise ExecutionError(
                f"{node.unique_id}: check strategy resolved to an empty "
                "check_cols list (no data columns outside unique_key) — "
                "nothing could ever register as changed"
            )
        upd = lambda a: ts_literal  # noqa: E731
        changed = "(" + " OR ".join(
            f"NOT (s.{bt(c)} <=> c.{bt(c)})" for c in check_cols
        ) + ")"
    else:
        raise ExecutionError(f"unknown snapshot strategy '{strategy}'")

    uk_eq_sc = " AND ".join(f"s.{bt(k)} <=> c.{bt(k)}" for k in uk)
    s_cols = ", ".join(f"s.{bt(c)}" for c in data_cols)

    # hard_deletes modes (dbt 1.9): ignore (default) | invalidate
    # (close vanished keys) | new_record (close AND insert a
    # dbt_is_deleted=TRUE marker row, so the deletion itself is a
    # queryable SCD-2 version; a reappearing key revives normally)
    new_record = cfg.get("hard_deletes") == "new_record"
    invalidate = bool(
        cfg.get("invalidate_hard_deletes")
        or cfg.get("hard_deletes") == "invalidate"
        or new_record
    )

    if not ctx.adapter.relation_exists(rel):
        extra_first = f", FALSE AS {bt(m_del)}" if new_record else ""
        first = (
            f"SELECT {s_cols}, "
            f"{_scd_id_expr(uk, upd('s'), 's')} AS {bt(m_scd)}, "
            f"{upd('s')} AS {bt(m_upd)}, "
            f"{upd('s')} AS {bt(m_from)}, "
            f"{cur_val} AS {bt(m_to)}"
            f"{extra_first} "
            f"FROM ({src_sql}) s"
        )
        ctx.adapter.create_table_as(rel, select_sql=first)
        return "SNAPSHOT (first run)"

    # schema evolution (dbt snapshot semantics, r12 core review #5):
    # the rewrite's column set is the UNION of the target's data
    # columns (history is never destroyed by a column vanishing from
    # the source) and the source's (new columns append, NULL for
    # history rows). Removed columns take NULL for newly inserted
    # versions; the reference expands the target the same way
    # (create_columns on missing) and keeps removed columns.
    _tgt_raw = ctx.adapter.get_columns_in_relation(rel)
    tgt_types = {
        c: t for c, t in _tgt_raw if c not in set(meta.values())
    }
    data_cols = list(tgt_types) + [
        c for c in src_data if c not in tgt_types
    ]
    s_cols = ", ".join(
        f"s.{bt(c)}"
        if c in src_types
        else f"CAST(NULL AS {tgt_types[c]}) AS {bt(c)}"
        for c in data_cols
    )
    t_cols = ", ".join(
        f"t.{bt(c)}"
        if c in tgt_types
        else f"CAST(NULL AS {src_types[c]}) AS {bt(c)}"
        for c in data_cols
    )
    if strategy == "check":
        missing = [c for c in check_cols if c not in src_types]
        if missing:
            raise ExecutionError(
                f"{node.unique_id}: check_cols {missing} no longer "
                "exist in the snapshot source query"
            )
        # a column newly added to the source compares against NULL on
        # the current-rows side (the expanded-target convention): a
        # non-NULL value registers as changed and versions the row
        changed = "(" + " OR ".join(
            f"NOT (s.{bt(c)} <=> "
            + (
                f"c.{bt(c)})"
                if c in tgt_types
                else f"CAST(NULL AS {src_types[c]}))"
            )
            for c in check_cols
        ) + ")"
    uk_eq_tch = " AND ".join(f"t.{bt(k)} <=> ch.{bt(k)}" for k in uk)
    if new_record:
        tgt_cols = {c for c, _ in _tgt_raw}
        # mode enabled on a pre-existing snapshot: synthesize FALSE for
        # history rows until the rewrite lands the real column
        t_del = (
            f"t.{bt(m_del)}" if m_del in tgt_cols else "FALSE"
        )
        c_del = (
            f"c.{bt(m_del)}" if m_del in tgt_cols else "FALSE"
        )
        # a current deletion marker counts as changed when its key
        # reappears in the source (revival inserts a normal row)
        changed = f"({changed}) OR {c_del}"
    c_uk = ", ".join(f"c.{bt(k)}" for k in uk)
    uk_eq_td = " AND ".join(f"t.{bt(k)} <=> d.{bt(k)}" for k in uk)
    # in new_record mode a current DELETION MARKER must not count as
    # freshly deleted again (it would be re-closed and re-inserted
    # every run — never idempotent)
    not_marker = f" WHERE NOT {c_del}" if new_record else ""
    deleted_cte = (
        f""",
__deleted AS (
    SELECT {c_uk}, TRUE AS __del
    FROM __cur c LEFT ANTI JOIN __src s ON {uk_eq_sc}{not_marker}
)"""
        if invalidate
        else ""
    )
    deleted_join = (
        f" LEFT JOIN __deleted d ON {uk_eq_td}" if invalidate else ""
    )
    deleted_case = (
        f"WHEN t.{bt(m_to)} {cur_pred} AND d.__del THEN {ts_literal}\n         "
        if invalidate
        else ""
    )
    if new_record:
        # __cur is target-shaped: columns new in the source take NULL
        c_data = ", ".join(
            f"c.{bt(c)}"
            if c in tgt_types
            else f"CAST(NULL AS {src_types[c]}) AS {bt(c)}"
            for c in data_cols
        )
        ts_str = ts_literal.replace("timestamp'", "'")
        marker_branch = f"""
UNION ALL
SELECT {c_data},
    md5(concat_ws('|', {c_uk}, {ts_str}, 'deleted')) AS {bt(m_scd)},
    {ts_literal} AS {bt(m_upd)},
    {ts_literal} AS {bt(m_from)},
    {cur_val} AS {bt(m_to)},
    TRUE AS {bt(m_del)}
FROM __cur c JOIN __deleted d
  ON {' AND '.join(f'c.{bt(k)} <=> d.{bt(k)}' for k in uk)}"""
        t_extra = f", {t_del} AS {bt(m_del)}"
        s_extra = f", FALSE AS {bt(m_del)}"
    else:
        marker_branch, t_extra, s_extra = "", "", ""
    merged = f"""
WITH __src AS ({src_sql}),
__cur AS (SELECT * FROM {rel.render()} WHERE {bt(m_to)} {cur_pred}),
__changed AS (
    SELECT {s_cols}, {upd('s')} AS __new_ts
    FROM __src s JOIN __cur c ON {uk_eq_sc}
    WHERE {changed}
),
__new_keys AS (
    SELECT {s_cols}, {upd('s')} AS __new_ts
    FROM __src s LEFT ANTI JOIN __cur c ON {uk_eq_sc}
){deleted_cte}
SELECT {t_cols}, t.{bt(m_scd)}, t.{bt(m_upd)}, t.{bt(m_from)},
    CASE WHEN t.{bt(m_to)} {cur_pred} AND ch.__new_ts IS NOT NULL
         THEN ch.__new_ts
         {deleted_case}ELSE t.{bt(m_to)} END AS {bt(m_to)}{t_extra}
FROM {rel.render()} t LEFT JOIN __changed ch ON {uk_eq_tch}{deleted_join}
UNION ALL
SELECT {s_cols},
    {_scd_id_expr(uk, 's.__new_ts', 's')} AS {bt(m_scd)},
    s.__new_ts AS {bt(m_upd)},
    s.__new_ts AS {bt(m_from)},
    {cur_val} AS {bt(m_to)}{s_extra}
FROM (SELECT * FROM __changed UNION ALL SELECT * FROM __new_keys) s{marker_branch}
"""
    ctx.adapter.create_table_as(rel, select_sql=merged)
    return "SNAPSHOT (merged)"
