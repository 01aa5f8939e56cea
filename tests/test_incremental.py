"""Incremental materialization semantics (reference:
tests/functional/basic/test_simple_reference.py:27-39 and
tests/functional/incremental_schema_tests/)."""

from __future__ import annotations

import pytest


def _users_csv(n, start=1):
    rows = ["id,name,batch\n"]
    for i in range(start, start + n):
        rows.append(f"{i},user{i},{1 if i <= 100 else 2}\n")
    return "".join(rows)


BASE = {
    "dbt_project.yml": "name: incr\nmodel-paths: [models]\nseed-paths: [seeds]\n",
    "seeds/users.csv": _users_csv(100),
}


def test_incremental_append(make_project, spark):
    files = dict(BASE)
    files["models/incr_append.sql"] = (
        "{{ config(materialized='incremental') }}\n"
        "select id, name from {{ ref('users') }}\n"
        "{% if is_incremental() %}"
        "where id > (select max(id) from {{ this }})"
        "{% endif %}"
    )
    runner = make_project(files, schema="t_incr_a")
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_incr_a.incr_append").count() == 100
    # append 100 more rows to the seed, rerun
    import os

    with open(os.path.join(runner.project.project_root, "seeds/users.csv"), "w") as f:
        f.write(_users_csv(200))
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_incr_a.incr_append").count() == 200
    # no duplicates
    assert (
        spark.table("t_incr_a.incr_append").select("id").distinct().count() == 200
    )


def test_incremental_merge_updates(make_project, spark):
    files = dict(BASE)
    files["models/incr_merge.sql"] = (
        "{{ config(materialized='incremental', unique_key='id', "
        "incremental_strategy='merge') }}\n"
        "select id, name, '{{ var('tag', 'v1') }}' as version "
        "from {{ ref('users') }}"
    )
    runner = make_project(files, schema="t_incr_m")
    assert runner.seed().ok
    assert runner.run().ok
    t = spark.table("t_incr_m.incr_merge")
    assert t.count() == 100
    assert t.filter("version = 'v1'").count() == 100
    # second run with changed var: all rows replaced (merge on key)
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root,
        spark=spark,
        cli_vars={"tag": "v2"},
        project_overrides={"schema": "t_incr_m"},
    )
    assert runner2.run().ok
    t = spark.table("t_incr_m.incr_merge")
    assert t.count() == 100
    assert t.filter("version = 'v2'").count() == 100


def test_incremental_full_refresh(make_project, spark):
    files = dict(BASE)
    files["models/incr_fr.sql"] = (
        "{{ config(materialized='incremental') }}\n"
        "select id from {{ ref('users') }}\n"
        "{% if is_incremental() %}where 1 = 0{% endif %}"
    )
    runner = make_project(files, schema="t_incr_fr")
    assert runner.seed().ok
    assert runner.run().ok
    assert runner.run().ok  # incremental: adds nothing
    assert spark.table("t_incr_fr.incr_fr").count() == 100
    assert runner.run(full_refresh=True).ok
    assert spark.table("t_incr_fr.incr_fr").count() == 100


def test_on_schema_change_fail(make_project, spark):
    files = dict(BASE)
    files["models/incr_sc.sql"] = (
        "{{ config(materialized='incremental', unique_key='id', "
        "on_schema_change='fail') }}\n"
        "select id, name{{ ', batch as extra' if var('wide', false) else '' }} "
        "from {{ ref('users') }}"
    )
    runner = make_project(files, schema="t_incr_sc")
    assert runner.seed().ok
    assert runner.run().ok
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root,
        spark=spark,
        cli_vars={"wide": True},
        project_overrides={"schema": "t_incr_sc"},
    )
    res = runner2.run()
    assert not res.ok
    assert "on_schema_change" in res.results[0].message


def test_on_schema_change_append_new_columns(make_project, spark):
    files = dict(BASE)
    files["models/incr_anc.sql"] = (
        "{{ config(materialized='incremental', unique_key='id', "
        "on_schema_change='append_new_columns') }}\n"
        "select id, name{{ ', batch as extra' if var('wide', false) else '' }} "
        "from {{ ref('users') }}"
    )
    runner = make_project(files, schema="t_incr_anc")
    assert runner.seed().ok
    assert runner.run().ok
    assert "extra" not in spark.table("t_incr_anc.incr_anc").columns
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root,
        spark=spark,
        cli_vars={"wide": True},
        project_overrides={"schema": "t_incr_anc"},
    )
    assert runner2.run().ok
    t = spark.table("t_incr_anc.incr_anc")
    assert "extra" in t.columns
    assert t.count() == 100
    assert t.filter("extra is not null").count() == 100


def test_insert_overwrite_partitions(make_project, spark):
    files = dict(BASE)
    files["models/incr_io.sql"] = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='insert_overwrite', partition_by='batch') }}\n"
        "select id, name, batch from {{ ref('users') }}\n"
        "{% if is_incremental() %}where batch = 2{% endif %}"
    )
    runner = make_project(files, schema="t_incr_io")
    import os

    with open(os.path.join(runner.project.project_root, "seeds/users.csv"), "w") as f:
        f.write(_users_csv(150))
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_incr_io.incr_io").count() == 150
    # grow batch 2; rerun only overwrites partition 2
    with open(os.path.join(runner.project.project_root, "seeds/users.csv"), "w") as f:
        f.write(_users_csv(200))
    assert runner.seed().ok
    assert runner.run().ok
    t = spark.table("t_incr_io.incr_io")
    assert t.filter("batch = 1").count() == 100
    assert t.filter("batch = 2").count() == 100


def _partition_files(location: str) -> dict[str, list[str]]:
    """partition dir -> its parquet data files (no .crc/_SUCCESS)."""
    import os

    return {
        d: sorted(f for f in os.listdir(os.path.join(location, d))
                  if f.startswith("part-"))
        for d in os.listdir(location) if "=" in d
    }


def test_insert_overwrite_one_writer_per_partition(make_project, spark):
    """A small partitioned write gives each partition value one writer
    task: one file per partition directory, and the files come from
    several tasks (part-NNNNN indices), not all from one."""
    files = dict(BASE)
    files["models/incr_fan.sql"] = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='insert_overwrite', partition_by='p') }}\n"
        "select id, name, id % 20 as p from {{ ref('users') }}\n"
        "{% if is_incremental() %}where id % 20 >= 10{% endif %}"
    )
    runner = make_project(files, schema="t_incr_fan")
    import os

    def check_shape(dirs):
        loc = runner.adapter._catalog["t_incr_fan.incr_fan"]["location"]
        layout = _partition_files(loc)
        assert len(layout) == 20
        assert all(len(layout[d]) == 1 for d in layout), layout
        tasks = {layout[d][0].split("-")[1] for d in dirs}
        assert len(tasks) > 1, tasks

    with open(os.path.join(runner.project.project_root, "seeds/users.csv"), "w") as f:
        f.write(_users_csv(150))
    assert runner.seed().ok
    assert runner.run().ok  # first run: partitioned CTAS
    check_shape([f"p={i}" for i in range(20)])
    with open(os.path.join(runner.project.project_root, "seeds/users.csv"), "w") as f:
        f.write(_users_csv(200))
    assert runner.seed().ok
    assert runner.run().ok  # incremental: overwrites p = 10..19 only
    check_shape([f"p={i}" for i in range(10, 20)])
    got = dict(
        spark.table("t_incr_fan.incr_fan").groupBy("p").count().collect()
    )
    # untouched partitions keep the 150-user counts, rewritten ones
    # hold the 200-user counts
    want = {p: sum(1 for i in range(1, (150 if p < 10 else 200) + 1)
                   if i % 20 == p) for p in range(20)}
    assert got == want


def test_on_schema_change_sync_all_columns(make_project, spark):
    files = dict(BASE)
    files["models/incr_sync.sql"] = (
        "{{ config(materialized='incremental', unique_key='id', "
        "on_schema_change='sync_all_columns') }}\n"
        "{% if var('wide', false) %}"
        "select id, batch as extra from {{ ref('users') }}"
        "{% else %}"
        "select id, name from {{ ref('users') }}"
        "{% endif %}"
    )
    runner = make_project(files, schema="t_incr_sync")
    assert runner.seed().ok
    assert runner.run().ok
    assert set(spark.table("t_incr_sync.incr_sync").columns) == {"id", "name"}
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"wide": True},
        project_overrides={"schema": "t_incr_sync"},
    )
    assert runner2.run().ok
    t = spark.table("t_incr_sync.incr_sync")
    # source schema adopted: name dropped, extra added
    assert set(t.columns) == {"id", "extra"}
    assert t.count() == 100


def test_insert_overwrite_survives_static_session_conf(make_project, spark):
    """The driver may hand us a session configured with
    partitionOverwriteMode=STATIC (the Spark default): under STATIC an
    INSERT OVERWRITE replaces the WHOLE table. SparkAdapter.__init__
    must pin dynamic mode so only source-touched partitions change."""
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "STATIC")
    try:
        files = dict(BASE)
        files["models/incr_io_static.sql"] = (
            "{{ config(materialized='incremental', "
            "incremental_strategy='insert_overwrite', partition_by='batch') }}\n"
            "select id, name, batch from {{ ref('users') }}\n"
            "{% if is_incremental() %}where batch = 2{% endif %}"
        )
        runner = make_project(files, schema="t_incr_io_st")
        # adapter construction must have flipped the session back
        assert (
            spark.conf.get("spark.sql.sources.partitionOverwriteMode").lower()
            == "dynamic"
        )
        import os

        with open(
            os.path.join(runner.project.project_root, "seeds/users.csv"), "w"
        ) as f:
            f.write(_users_csv(150))
        assert runner.seed().ok
        assert runner.run().ok
        assert spark.table("t_incr_io_st.incr_io_static").count() == 150
        assert runner.run().ok  # incremental: only batch-2 partition rewritten
        t = spark.table("t_incr_io_st.incr_io_static")
        assert t.filter("batch = 1").count() == 100  # NOT dropped
        assert t.filter("batch = 2").count() == 50
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")


def test_insert_overwrite_unpartitioned_refuses(make_project, spark):
    """insert_overwrite on an unpartitioned target would silently drop
    every existing row — the engine must refuse (data-loss guard)."""
    files = dict(BASE)
    files["models/incr_io_nopart.sql"] = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='insert_overwrite') }}\n"
        "select id, name, batch from {{ ref('users') }}\n"
        "{% if is_incremental() %}where batch = 2{% endif %}"
    )
    runner = make_project(files, schema="t_incr_io_np")
    assert runner.seed().ok
    assert runner.run().ok  # first run is a plain CTAS — fine
    res = runner.run()  # incremental run must refuse
    assert not res.ok
    msgs = " ".join(str(r.message) for r in res.results)
    assert "not" in msgs and "partition" in msgs
    # target untouched
    assert spark.table("t_incr_io_np.incr_io_nopart").count() == 100


def test_insert_overwrite_schema_change_replaces_partitions(make_project, spark):
    """insert_overwrite + on_schema_change rewrite: partitions present in
    the source must be REPLACED (not unioned with stale target rows)."""
    files = dict(BASE)
    files["models/incr_io_sc.sql"] = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='insert_overwrite', partition_by='batch', "
        "on_schema_change='append_new_columns') }}\n"
        "{% if var('wide', false) %}"
        "select id, name, batch, 'x' as extra from {{ ref('users') }}"
        "{% if is_incremental() %} where batch = 2{% endif %}"
        "{% else %}"
        "select id, name, batch from {{ ref('users') }}"
        "{% endif %}"
    )
    runner = make_project(files, schema="t_incr_io_sc")
    import os

    with open(
        os.path.join(runner.project.project_root, "seeds/users.csv"), "w"
    ) as f:
        f.write(_users_csv(150))
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_incr_io_sc.incr_io_sc").count() == 150
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"wide": True},
        project_overrides={"schema": "t_incr_io_sc"},
    )
    assert runner2.run().ok
    t = spark.table("t_incr_io_sc.incr_io_sc")
    assert "extra" in t.columns
    # batch 2 replaced (50 rows, extra set), batch 1 kept (100 rows, extra null)
    assert t.filter("batch = 1").count() == 100
    assert t.filter("batch = 2").count() == 50
    assert t.filter("batch = 2 and extra = 'x'").count() == 50
    assert t.filter("batch = 1 and extra is null").count() == 100


def test_partitioned_python_model_table_scan(make_project, spark):
    """DataFrame-path create_table_as with partition_by leaves a table
    whose partitions the in-memory catalog knows (else it scans 0
    rows)."""
    files = dict(BASE)
    files["models/py_part.py"] = (
        "def model(dbt, session):\n"
        "    dbt.config(materialized='table', partition_by='batch')\n"
        "    return dbt.ref('users')\n"
    )
    runner = make_project(files, schema="t_py_part")
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_py_part.py_part").count() == 100


def test_incremental_predicates_delete_insert(make_project, spark):
    """Reference tests/functional/adapter/incremental/
    test_incremental_predicates.py: with predicate 'id != 2' the target
    row id=2 is NOT delete-eligible, so the new id=2 row inserts
    alongside the old one. A predicate ending in a ``--`` comment gives
    the same rows."""
    body = (
        "{% if not is_incremental() %}\n"
        "select 1 as id, 'hello' as msg, 'blue' as color\n"
        "union all select 2 as id, 'goodbye' as msg, 'red' as color\n"
        "{% else %}\n"
        "select 1 as id, 'hey' as msg, 'blue' as color\n"
        "union all select 2 as id, 'yo' as msg, 'green' as color\n"
        "union all select 3 as id, 'anyway' as msg, 'purple' as color\n"
        "{% endif %}\n"
    )
    files = {"dbt_project.yml": "name: ip\nmodel-paths: [models]\n"}
    for name, pred in [("pred_di", "id != 2"),
                       ("pred_di_c", "id != 2 -- keep id 2")]:
        files[f"models/{name}.sql"] = (
            "{{ config(materialized='incremental', unique_key='id', "
            "incremental_strategy='delete+insert', "
            f"incremental_predicates=['{pred}']) }}}}\n" + body
        )
    runner = make_project(files, schema="t_ipred")
    assert runner.run().ok
    res = runner.run()  # incremental pass
    assert res.ok, [r.message for r in res.results]
    for name in ("pred_di", "pred_di_c"):
        rows = {
            (r.id, r.msg, r.color)
            for r in spark.table(f"t_ipred.{name}").collect()
        }
        assert rows == {
            (1, "hey", "blue"),
            (2, "goodbye", "red"),
            (2, "yo", "green"),
            (3, "anyway", "purple"),
        }, name


def test_incremental_predicates_dest_alias_merge(make_project, spark):
    """DBT_INTERNAL_DEST-qualified predicates work on the merge path,
    also when the predicate ends in a ``--`` comment."""
    body = (
        "{% if not is_incremental() %}\n"
        "select 1 as id, 'a' as v, true as locked\n"
        "union all select 2 as id, 'b' as v, false as locked\n"
        "{% else %}\n"
        "select 1 as id, 'A' as v, true as locked\n"
        "union all select 2 as id, 'B' as v, false as locked\n"
        "{% endif %}\n"
    )
    files = {"dbt_project.yml": "name: ip2\nmodel-paths: [models]\n"}
    for name, pred in [
        ("pred_m", "DBT_INTERNAL_DEST.locked = false"),
        ("pred_m_c", "DBT_INTERNAL_DEST.locked = false -- unlocked only"),
    ]:
        files[f"models/{name}.sql"] = (
            "{{ config(materialized='incremental', unique_key='id', "
            "incremental_strategy='merge', "
            f"incremental_predicates=['{pred}']) }}}}\n" + body
        )
    runner = make_project(files, schema="t_ipred2")
    assert runner.run().ok
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    for name in ("pred_m", "pred_m_c"):
        rows = {
            (r.id, r.v) for r in spark.table(f"t_ipred2.{name}").collect()
        }
        # id=1 locked: old row survives AND new row merges in (not
        # eligible for update -> insert path); id=2 unlocked: plain
        # upsert
        assert rows == {(1, "a"), (1, "A"), (2, "B")}, name


# ---------------------------------------------------------- microbatch
_MB_FILES = {
    "dbt_project.yml": "name: mb\nmodel-paths: [models]\nseed-paths: [seeds]\n",
    "seeds/ev.csv": (
        "id,ts,v\n"
        "1,2024-01-01 10:00:00,5\n"
        "2,2024-01-02 00:30:00,6\n"
        "3,2024-01-02 12:00:00,7\n"
        "4,2024-01-04 08:00:00,8\n"
    ),
    "models/stg_ev.sql": (
        "{{ config(materialized='table', event_time='ts') }}\n"
        "select id, cast(ts as timestamp) as ts, v from {{ ref('ev') }}"
    ),
    "models/mb_daily.sql": (
        "{{ config(materialized='incremental', "
        "incremental_strategy='microbatch', event_time='ts', "
        "batch_size='day', begin='2024-01-01', lookback=1) }}\n"
        "select id, ts, v from {{ ref('stg_ev') }}"
    ),
}


def _rows(spark, schema):
    return {
        r["id"]: r["v"]
        for r in spark.table(f"{schema}.mb_daily").collect()
    }


def test_microbatch_first_build_and_incremental(make_project, spark):
    import os

    runner = make_project(dict(_MB_FILES), schema="t_mb")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-05 00:00:00")
    assert res.ok
    mb = next(r for r in res.results if "mb_daily" in r.unique_id)
    assert "MICROBATCH (4 day batches" in mb.message
    assert _rows(spark, "t_mb") == {1: 5, 2: 6, 3: 7, 4: 8}
    # the per-batch compile filtered the event_time ref
    assert "`ts` >= TIMESTAMP '2024-01-04" in (
        runner.manifest.nodes["model.mb.mb_daily"].compiled_code
    )

    # incremental run: id 4 updated in-window, id 5 new; lookback=1
    # reprocesses only [2024-01-04, 2024-01-05)
    with open(
        os.path.join(runner.project.project_root, "seeds/ev.csv"), "w"
    ) as f:
        f.write(
            "id,ts,v\n"
            "1,2024-01-01 10:00:00,99\n"  # out-of-window edit: ignored
            "2,2024-01-02 00:30:00,6\n"
            "3,2024-01-02 12:00:00,7\n"
            "4,2024-01-04 08:00:00,80\n"
            "5,2024-01-04 20:00:00,9\n"
        )
    assert runner.seed().ok
    assert runner.run(event_time_end="2024-01-05 00:00:00").ok
    assert _rows(spark, "t_mb") == {1: 5, 2: 6, 3: 7, 4: 80, 5: 9}

    # explicit backfill window replays only day 2
    assert runner.run(
        event_time_start="2024-01-02 00:00:00",
        event_time_end="2024-01-03 00:00:00",
    ).ok
    assert _rows(spark, "t_mb") == {1: 5, 2: 6, 3: 7, 4: 80, 5: 9}
    # out-of-window edit to id 1 still never leaks in
    assert _rows(spark, "t_mb")[1] == 5


def test_microbatch_requires_event_time_and_begin(make_project, spark):
    files = dict(_MB_FILES)
    files["models/mb_daily.sql"] = (
        "{{ config(materialized='incremental', "
        "incremental_strategy='microbatch', batch_size='day') }}\n"
        "select id, cast(ts as timestamp) as ts, v from {{ ref('ev') }}"
    )
    runner = make_project(files, schema="t_mb_err")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-05 00:00:00")
    mb = next(r for r in res.results if "mb_daily" in r.unique_id)
    assert mb.status == "error" and "event_time" in mb.message


def test_sample_mode_filters_event_time_refs(make_project, spark):
    """--sample 'N days' (dbt 1.10 sample-mode extension): refs with
    event_time scan only the trailing window; refs without event_time
    are untouched; a fresh run without sample restores full scans."""
    from datetime import datetime, timedelta, timezone

    now = datetime.now(timezone.utc).replace(tzinfo=None)
    old = (now - timedelta(days=10)).isoformat(sep=" ")
    recent = (now - timedelta(hours=5)).isoformat(sep=" ")
    files = {
        "dbt_project.yml": "name: smp\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/raw_ev.csv": f"id,ts\n1,{old}\n2,{recent}\n",
        "models/stg.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts from {{ ref('raw_ev') }}"
        ),
        "models/uses_stg.sql": (
            "{{ config(materialized='table') }}\n"
            "select count(*) as n from {{ ref('stg') }}"
        ),
    }
    runner = make_project(files, schema="t_sample")
    assert runner.seed().ok
    assert runner.run(sample="2 days").ok
    # stg itself has no event_time inputs -> both rows; the downstream
    # count sees only the in-window row
    assert spark.table("t_sample.stg").count() == 2
    assert spark.table("t_sample.uses_stg").first()["n"] == 1
    compiled = runner.manifest.nodes["model.smp.uses_stg"].compiled_code
    assert "`ts` >= TIMESTAMP" in compiled
    assert runner.run().ok  # full run restores the complete scan
    assert spark.table("t_sample.uses_stg").first()["n"] == 2


def test_reserved_word_columns_in_merge_and_snapshot(make_project, spark):
    """Generated DML backtick-quotes identifiers (reference
    tests/functional/column_quoting): a unique_key / data column named
    with a reserved word survives incremental merge and snapshots."""
    files = {
        "dbt_project.yml": (
            "name: cq\nmodel-paths: [models]\nsnapshot-paths: [snapshots]\n"
        ),
        "models/resv.sql": (
            "{{ config(materialized='incremental', unique_key='select', "
            "incremental_strategy='merge') }}\n"
            "select id as `select`, v as `order` from (\n"
            "  select 1 as id, {{ var('v', 10) }} as v\n"
            "  union all select 2, 20)"
        ),
        "snapshots/resv_snap.sql": """
{% snapshot resv_snap %}
{{ config(unique_key='select', strategy='check', check_cols='all') }}
select * from {{ ref('resv') }}
{% endsnapshot %}
""",
    }
    runner = make_project(files, schema="t_cq")
    assert runner.run().ok
    assert runner.run().ok  # second run exercises the merge path
    rows = {r["select"]: r["order"] for r in
            spark.table("t_cq.resv").collect()}
    assert rows == {1: 10, 2: 20}
    res = runner.snapshot()
    assert res.ok, [r.message for r in res.results]
    # change a value -> merge updates, snapshot adds an SCD-2 version
    assert runner.run(**{}).ok
    runner2 = make_project(files, schema="t_cq")
    assert runner2.run().ok
    assert spark.table("t_cq.resv").count() == 2


def test_microbatch_idempotent_with_unannotated_input(make_project, spark):
    """Regression: an input WITHOUT an event_time config re-emits its
    whole history every batch; the model output must be constrained to
    the batch window or reruns duplicate out-of-window rows (found by
    driving the CLI cross-process: 3 rows became 5 after two runs)."""
    files = {
        "dbt_project.yml": "name: mbu\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/ev3.csv": (
            "id,ts\n1,2024-01-01 05:00:00\n"
            "2,2024-02-02 05:00:00\n3,2024-02-03 05:00:00\n"
        ),
        # NOTE: no event_time config on the staging model
        "models/stg3.sql": (
            "select id, cast(ts as timestamp) as ts from {{ ref('ev3') }}"
        ),
        "models/mb3.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='month', begin='2024-01-01') }}\n"
            "select id, ts from {{ ref('stg3') }}"
        ),
    }
    runner = make_project(files, schema="t_mbu")
    assert runner.seed().ok
    for _ in range(3):  # initial build + 2 incremental reruns
        assert runner.run(event_time_end="2024-03-01 00:00:00").ok
        assert spark.table("t_mbu.mb3").count() == 3
    assert (
        spark.table("t_mbu.mb3").select("id").distinct().count() == 3
    )


def test_concurrent_microbatch_thread_isolation(make_project, spark):
    """Two microbatch models with DIFFERENT batch sizes plus plain
    models built on 4 threads: batch windows are thread-local on the
    shared compiler, so concurrent compiles must not leak another
    node's window (would show up as missing/duplicated rows)."""
    files = {
        "dbt_project.yml": "name: cmb\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/ev4.csv": (
            "id,ts\n" + "\n".join(
                f"{i},2024-01-{(i % 27) + 1:02d} 06:00:00"
                for i in range(1, 41)
            ) + "\n"
        ),
        "models/stg4.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts from {{ ref('ev4') }}"
        ),
        "models/mb_day.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01') }}\n"
            "select id, ts from {{ ref('stg4') }}"
        ),
        "models/mb_month.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='month', begin='2024-01-01') }}\n"
            "select id, ts from {{ ref('stg4') }}"
        ),
        "models/plain_all.sql": (
            "{{ config(materialized='table') }}\n"
            "select count(*) as n from {{ ref('stg4') }}"
        ),
    }
    runner = make_project(files, schema="t_cmb")
    assert runner.seed().ok
    for _ in range(2):
        assert runner.run(
            threads=4, event_time_end="2024-02-01 00:00:00"
        ).ok
        assert spark.table("t_cmb.mb_day").count() == 40
        assert spark.table("t_cmb.mb_month").count() == 40
        # the un-windowed plain model saw the FULL staging table
        assert spark.table("t_cmb.plain_all").first()["n"] == 40


def test_microbatch_full_refresh_recreates(make_project, spark):
    """--full-refresh drops and rebuilds from 'begin': rows outside the
    new window must NOT survive, and a changed schema applies
    (review finding: window-replace-only full refresh kept old rows)."""
    files = dict(_MB_FILES)
    runner = make_project(files, schema="t_mb_fr")
    assert runner.seed().ok
    assert runner.run(event_time_end="2024-01-05 00:00:00").ok
    assert spark.table("t_mb_fr.mb_daily").count() == 4
    # raise begin past the first rows and full-refresh
    import os

    p = os.path.join(runner.project.project_root, "models/mb_daily.sql")
    src = open(p).read().replace("begin='2024-01-01'", "begin='2024-01-02'")
    with open(p, "w") as f:
        f.write(src)
    from sparkt.runner import Runner

    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_mb_fr"})
    assert runner2.run(
        full_refresh=True, event_time_end="2024-01-05 00:00:00"
    ).ok
    ids = {r["id"] for r in spark.table("t_mb_fr.mb_daily").collect()}
    assert ids == {2, 3, 4}  # id=1 (2024-01-01) rebuilt away


def test_microbatch_null_event_time_rows_survive(make_project, spark):
    """NULL event_time rows belong to no batch: never inserted by
    microbatch, and NEVER deleted by the window replace (review
    finding: bare NOT(window) silently dropped them)."""
    files = {
        "dbt_project.yml": "name: mbn\nmodel-paths: [models]\n",
        "models/mbn.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01') }}\n"
            "select 1 as id, cast('2024-01-01 05:00:00' as timestamp) as ts"
        ),
    }
    runner = make_project(files, schema="t_mbn")
    assert runner.run(event_time_end="2024-01-02 00:00:00").ok
    # inject a NULL-ts row directly (e.g. legacy data in the target)
    spark.sql(
        "insert into t_mbn.mbn select 99 as id, "
        "cast(null as timestamp) as ts"
    )
    assert spark.table("t_mbn.mbn").count() == 2
    assert runner.run(event_time_end="2024-01-02 00:00:00").ok
    rows = {r["id"] for r in spark.table("t_mbn.mbn").collect()}
    assert 99 in rows and rows == {1, 99}


def test_microbatch_concurrent_backfill(make_project, spark):
    """concurrent_batches (dbt 1.9): the initial backfill appends
    disjoint batches in parallel; result equals the serial build and
    incremental runs after it stay correct."""
    files = {
        "dbt_project.yml": "name: cb\nmodel-paths: [models]\nseeds: {}\nseed-paths: [seeds]\n",
        "seeds/ev5.csv": (
            "id,ts\n" + "\n".join(
                f"{i},2024-01-{(i % 10) + 1:02d} 03:00:00"
                for i in range(1, 31)
            ) + "\n"
        ),
        "models/stg5.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts from {{ ref('ev5') }}"
        ),
        "models/mb5.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01', "
            "concurrent_batches=true) }}\n"
            "select id, ts from {{ ref('stg5') }}"
        ),
    }
    runner = make_project(files, schema="t_cb")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-11 00:00:00", threads=4)
    assert res.ok
    mb = next(r for r in res.results if "mb5" in r.unique_id)
    assert "concurrent backfill" in mb.message
    assert spark.table("t_cb.mb5").count() == 30
    assert spark.table("t_cb.mb5").select("id").distinct().count() == 30
    # incremental rerun (serial window replace) stays exact
    assert runner.run(event_time_end="2024-01-11 00:00:00").ok
    assert spark.table("t_cb.mb5").count() == 30


def _mbcr_files(concurrent: bool) -> dict:
    return {
        "dbt_project.yml": (
            "name: cr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        ),
        "seeds/ev6.csv": (
            "id,ts,v\n" + "\n".join(
                f"{i},2024-01-{(i % 12) + 1:02d} 04:00:00,{i * 2}"
                for i in range(1, 25)
            ) + "\n"
        ),
        "models/stg6.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts, v from {{ ref('ev6') }}"
        ),
        "models/mb6.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01', lookback=1"
            + (", concurrent_batches=true" if concurrent else "")
            + ") }}\n"
            "select id, ts, v from {{ ref('stg6') }}"
        ),
    }


def test_microbatch_concurrent_window_replace_matches_serial(
    make_project, spark
):
    """r16: with concurrent_batches, an incremental run's disjoint
    window replaces collapse into ONE unioned table rewrite (the
    serial parquet path rewrites the whole table once per batch).
    Pinned: rows identical to the serial path on the same project and
    windows — including idempotent re-replace of already-present days
    and survival of NULL event_time rows — and the message marks the
    collapsed path."""
    tables = {}
    for tag, conc in (("ser", False), ("conc", True)):
        schema = f"t_mbcr_{tag}"
        runner = make_project(_mbcr_files(conc), schema=schema)
        assert runner.seed().ok
        assert runner.run(event_time_end="2024-01-07 00:00:00").ok
        # legacy NULL-ts row: belongs to no window, must survive
        spark.sql(
            f"insert into {schema}.mb6 "
            "select 999, cast(null as timestamp), 0"
        )
        res = runner.run(
            event_time_start="2024-01-05 00:00:00",
            event_time_end="2024-01-13 00:00:00",
        )
        assert res.ok
        mb = next(r for r in res.results if "mb6" in r.unique_id)
        if conc:
            assert "concurrent window replace" in mb.message
        else:
            assert "concurrent" not in mb.message
        tables[tag] = sorted(
            map(tuple, spark.table(f"{schema}.mb6").collect())
        )
    assert tables["ser"] == tables["conc"]
    ids = {t[0] for t in tables["conc"]}
    assert 999 in ids  # NULL event_time survived the unioned rewrite
    # non-vacuous: the replace window overlapped existing days 5-6 and
    # extended through day 12 (ids land on days 1-12, 2 per day)
    assert len(tables["conc"]) == 25


# ------------------------------------- batch-level results (dbt 1.9)
_MB_BREAK_FILES = {
    "dbt_project.yml": (
        "name: mbr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
    ),
    "seeds/ev.csv": (
        "id,ts,v\n"
        "1,2024-01-01 10:00:00,5\n"
        "2,2024-01-02 00:30:00,6\n"
        "3,2024-01-02 12:00:00,7\n"
        "4,2024-01-04 08:00:00,8\n"
    ),
    "models/stg_ev.sql": (
        "{{ config(materialized='table', event_time='ts') }}\n"
        "select id, cast(ts as timestamp) as ts, v from {{ ref('ev') }}"
    ),
    # raise_error fires only for rows in the 2024-01-02 batch while
    # var('break_day2') holds — one red batch among green ones
    "models/mb_daily.sql": (
        "{{ config(materialized='incremental', "
        "incremental_strategy='microbatch', event_time='ts', "
        "batch_size='day', begin='2024-01-01', lookback=1) }}\n"
        "select id, ts,\n"
        "  case when {{ 'true' if var('break_day2', true) else 'false' }}"
        " and date(ts) = date'2024-01-02'\n"
        "       then cast(raise_error('boom day2') as int) else v end as v\n"
        "from {{ ref('stg_ev') }}"
    ),
}


def test_microbatch_continue_on_failure_and_batch_retry(
    make_project, spark
):
    """dbt 1.9 batch-level semantics: a failed batch does not abort the
    node — later batches still run, the node lands as 'partial success'
    with batch_results in run_results.json, and retry re-runs ONLY the
    failed windows (VERDICT r5 ask #2)."""
    import json
    import os

    runner = make_project(dict(_MB_BREAK_FILES), schema="t_mb_pr")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-05 00:00:00")
    assert not res.ok
    mb = next(r for r in res.results if "mb_daily" in r.unique_id)
    assert mb.status == "partial success"
    assert mb.failures == 1
    assert mb.batch_results["failed"] == [
        ["2024-01-02 00:00:00", "2024-01-03 00:00:00"]
    ]
    assert len(mb.batch_results["successful"]) == 3
    # batches AFTER the failure still ran: day-1 and day-4 rows landed
    ids = {r["id"] for r in spark.table("t_mb_pr.mb_daily").collect()}
    assert ids == {1, 4}
    # artifact carries the v6 batch_results key for the retry
    with open(
        os.path.join(runner.project.target_dir, "run_results.json")
    ) as f:
        raw = json.load(f)
    row = next(
        r for r in raw["results"] if "mb_daily" in r["unique_id"]
    )
    assert row["batch_results"]["failed"]

    # input rows for the ALREADY-GREEN day-1 batch change; the batch
    # retry must NOT reprocess that window
    spark.sql(
        "insert into t_mb_pr.stg_ev "
        "values (9, timestamp'2024-01-01 11:00:00', 123)"
    )
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_day2": False},
        project_overrides={"schema": "t_mb_pr"},
    )
    res2 = fixed.retry()
    assert res2.ok, [r.message for r in res2.results]
    mb2 = next(r for r in res2.results if "mb_daily" in r.unique_id)
    assert "1 day batch" in mb2.message
    assert mb2.batch_results["successful"] == [
        ["2024-01-02 00:00:00", "2024-01-03 00:00:00"]
    ]
    ids = {r["id"] for r in spark.table("t_mb_pr.mb_daily").collect()}
    # failed window healed (2,3); green windows untouched (no 9)
    assert ids == {1, 2, 3, 4}
    # nothing left to retry afterwards
    assert fixed.retry().results == []


def _mb_meta(runner, schema):
    from sparkt.relation import Relation

    return runner.adapter.get_relation_meta(
        Relation(schema=schema, identifier="mb_daily")
    )


def test_microbatch_plain_run_heals_persisted_failed_windows(
    make_project, spark
):
    """ADVICE r6 (medium): a partial success persists its failed
    windows in the relation meta (sparkt.microbatch.failed); a later
    PLAIN run (which overwrites run_results) re-attempts those windows
    and only sets the completion flag once no hole remains — the
    interior gap can never become undetectable."""
    runner = make_project(dict(_MB_BREAK_FILES), schema="t_mb_heal")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-05 00:00:00")
    assert not res.ok
    meta = _mb_meta(runner, "t_mb_heal")
    assert meta["sparkt.microbatch.failed"] == [
        ["2024-01-02 00:00:00", "2024-01-03 00:00:00"]
    ]
    assert meta["sparkt.microbatch.complete"] is False

    # plain run (NOT retry) whose lookback window [01-04, 01-06) does
    # not cover the day-2 hole; the persisted window must heal anyway
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_day2": False},
        project_overrides={"schema": "t_mb_heal"},
    )
    res2 = fixed.run(event_time_end="2024-01-06 00:00:00")
    assert res2.ok, [r.message for r in res2.results]
    ids = {r["id"] for r in spark.table("t_mb_heal.mb_daily").collect()}
    assert ids == {1, 2, 3, 4}
    meta = _mb_meta(fixed, "t_mb_heal")
    assert meta["sparkt.microbatch.failed"] == []
    assert meta["sparkt.microbatch.complete"] is True


def test_microbatch_failed_windows_survive_catalog_restore(
    make_project, spark
):
    """The unhealed failed windows outlive the process: after a partial
    success, every relation of the schema is dropped from the in-memory
    catalog (a new CLI invocation starts with none), a fresh Runner
    restores them from catalog.json, and a plain run to 01-06 — whose
    lookback window does not cover day 2 — still heals the day-2 hole
    and completes."""
    runner = make_project(dict(_MB_BREAK_FILES), schema="t_mb_rst")
    assert runner.seed().ok
    assert not runner.run(event_time_end="2024-01-05 00:00:00").ok

    for t in spark.catalog.listTables("t_mb_rst"):
        if not t.isTemporary:
            spark.sql(f"DROP TABLE t_mb_rst.{t.name}")
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_day2": False},
        project_overrides={"schema": "t_mb_rst"},
    )
    res = fixed.run(event_time_end="2024-01-06 00:00:00")
    assert res.ok, [r.message for r in res.results]
    ids = {r["id"] for r in spark.table("t_mb_rst.mb_daily").collect()}
    assert ids == {1, 2, 3, 4}
    meta = _mb_meta(fixed, "t_mb_rst")
    assert meta["sparkt.microbatch.complete"] is True
    assert meta["sparkt.microbatch.failed"] == []


def test_microbatch_run_state_survives_table_rewrite(
    make_project, spark, monkeypatch
):
    """The run state read at the start of a run stays in the catalog
    entry across the run's own rewrites: right after the first rewrite
    of the healing run, the meta still holds the unhealed day-2 window
    and the cleared completion flag, so a crash at that point loses
    neither."""
    runner = make_project(dict(_MB_BREAK_FILES), schema="t_mb_keep")
    assert runner.seed().ok
    assert not runner.run(event_time_end="2024-01-05 00:00:00").ok

    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_day2": False},
        project_overrides={"schema": "t_mb_keep"},
    )
    adapter = fixed.adapter
    real = adapter.create_table_as
    seen = []

    def spy(rel, *args, **kwargs):
        real(rel, *args, **kwargs)
        if rel.identifier == "mb_daily" and not seen:
            seen.append(adapter.get_relation_meta(rel))

    monkeypatch.setattr(adapter, "create_table_as", spy)
    res = fixed.run(event_time_end="2024-01-06 00:00:00")
    assert res.ok, [r.message for r in res.results]
    assert seen == [{
        "sparkt.microbatch.complete": False,
        "sparkt.microbatch.failed": [
            ["2024-01-02 00:00:00", "2024-01-03 00:00:00"]
        ],
    }]
    assert _mb_meta(fixed, "t_mb_keep") == {
        "sparkt.microbatch.complete": True,
        "sparkt.microbatch.failed": [],
    }


def test_microbatch_full_refresh_validates_before_drop(
    make_project, spark
):
    """ADVICE r5: --full-refresh with invalid microbatch config (begin
    removed) must fail BEFORE dropping — the existing table survives."""
    import os

    runner = make_project(dict(_MB_FILES), schema="t_mb_vbd")
    assert runner.seed().ok
    assert runner.run(event_time_end="2024-01-05 00:00:00").ok
    assert spark.table("t_mb_vbd.mb_daily").count() == 4

    p = os.path.join(runner.project.project_root, "models/mb_daily.sql")
    src = open(p).read().replace("begin='2024-01-01', ", "")
    with open(p, "w") as f:
        f.write(src)
    from sparkt.runner import Runner

    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_mb_vbd"})
    res = runner2.run(
        full_refresh=True, event_time_end="2024-01-05 00:00:00"
    )
    mb = next(r for r in res.results if "mb_daily" in r.unique_id)
    assert mb.status == "error" and "begin" in mb.message
    # the table was NOT destroyed by the failed refresh
    assert spark.table("t_mb_vbd.mb_daily").count() == 4


def test_microbatch_empty_window_first_build_creates_table(
    make_project, spark
):
    """ADVICE r5: a first build whose window is empty still creates the
    (empty) table and sets node.relation — downstream refs resolve."""
    files = dict(_MB_FILES)
    files["models/uses_mb.sql"] = (
        "{{ config(materialized='table') }}\n"
        "select count(*) as n from {{ ref('mb_daily') }}"
    )
    runner = make_project(files, schema="t_mb_empty")
    assert runner.seed().ok
    # end == begin → zero batches
    res = runner.run(event_time_end="2024-01-01 00:00:00")
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_mb_empty.mb_daily").count() == 0
    assert set(spark.table("t_mb_empty.mb_daily").columns) == {
        "id", "ts", "v"
    }
    assert spark.table("t_mb_empty.uses_mb").first()["n"] == 0


def test_microbatch_crash_recovery_resumes_backfill(make_project, spark):
    """ADVICE r5: a crash mid-initial-backfill leaves a partial table;
    the next incremental run detects the cleared completion flag and
    extends its window back to the newest batch present instead of
    silently skipping the crash-to-lookback gap."""
    runner = make_project(dict(_MB_FILES), schema="t_mb_crash")
    assert runner.seed().ok
    # backfill only day 1, then simulate a crash by clearing the flag
    assert runner.run(event_time_end="2024-01-02 00:00:00").ok
    from sparkt.relation import Relation

    runner.adapter.set_relation_meta(
        Relation(schema="t_mb_crash", identifier="mb_daily"),
        **{"sparkt.microbatch.complete": False},
    )
    # lookback=1 would normally reprocess only [01-04, 01-06); recovery
    # pulls start back to the newest present batch (01-01) so days 2-3
    # are NOT silently lost
    res = runner.run(event_time_end="2024-01-06 00:00:00")
    assert res.ok, [r.message for r in res.results]
    ids = {r["id"] for r in spark.table("t_mb_crash.mb_daily").collect()}
    assert ids == {1, 2, 3, 4}
    # flag restored after the fully-green run
    assert _mb_meta(runner, "t_mb_crash")["sparkt.microbatch.complete"]


def test_microbatch_concurrent_backfill_fires_batch_events(
    make_project, spark
):
    """ADVICE r5: the concurrent_batches path must fire Q043/Q044 like
    the serial path (it previously skipped observability entirely)."""
    files = {
        "dbt_project.yml": "name: cbe\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/ev6.csv": (
            "id,ts\n1,2024-01-01 03:00:00\n2,2024-01-02 03:00:00\n"
            "3,2024-01-03 03:00:00\n"
        ),
        "models/stg6.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts from {{ ref('ev6') }}"
        ),
        "models/mb6.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01', "
            "concurrent_batches=true) }}\n"
            "select id, ts from {{ ref('stg6') }}"
        ),
    }
    runner = make_project(files, schema="t_cbe")
    assert runner.seed().ok
    res = runner.run(event_time_end="2024-01-04 00:00:00")
    assert res.ok
    mb = next(r for r in res.results if "mb6" in r.unique_id)
    assert "concurrent backfill" in mb.message
    import json
    import os

    log = os.path.join(runner.project.project_root, "logs", "dbt.log")
    lines = [json.loads(x) for x in open(log)]
    started = [
        x for x in lines
        if x["info"]["code"] == "Q043" and "mb6" in x["data"]["unique_id"]
    ]
    done = [
        x for x in lines
        if x["info"]["code"] == "Q044" and "mb6" in x["data"]["unique_id"]
    ]
    assert len(started) == 3 and len(done) == 3
    assert all(d["data"]["status"] == "success" for d in done)


_FMT_SEED = (
    "id,v,updated_at,ts\n"
    "1,10,2024-01-01,2024-01-01 10:00:00\n"
    "2,20,2024-01-01,2024-01-02 12:00:00\n"
    "3,30,2024-01-01,2024-01-03 08:00:00\n"
)


def _fmt_files(fmt, models):
    ff = f", file_format='{fmt}'" if fmt else ""
    sql = {
        "models/inc.sql": (
            "{{ config(materialized='incremental', unique_key='id', "
            f"incremental_strategy='merge'{ff}) }}}}\n"
            "select id, v from {{ ref('raw') }}"
        ),
        "models/stg.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, v, cast(ts as timestamp) as ts from {{ ref('raw') }}"
        ),
        "models/mb.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            f"batch_size='day', begin='2024-01-01', lookback=1{ff}) }}}}\n"
            "select id, v, ts from {{ ref('stg') }}"
        ),
    }
    return {
        "dbt_project.yml": "name: fmt\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/raw.csv": _FMT_SEED,
        **{path: sql[path] for path in models},
    }


def _rebuild_in_both_formats(make_project, spark, models, table):
    """Build `models` with and without file_format='delta', change the
    seed (id 2 updated, id 4 added), build again (a rewrite of the
    parquet table) and return the rows of `table`, which must be the
    same in both formats: a model's file_format is not read."""
    import os

    rows = {}
    for fmt in (None, "delta"):
        schema = f"t_fmt_{table}_{fmt or 'default'}"
        runner = make_project(_fmt_files(fmt, models), schema=schema)
        assert runner.seed().ok
        assert runner.run(event_time_end="2024-01-04 00:00:00").ok
        with open(os.path.join(
            runner.project.project_root, "seeds/raw.csv"
        ), "w") as f:
            f.write(
                _FMT_SEED.replace(
                    "2,20,2024-01-01", "2,25,2024-01-02"
                ) + "4,40,2024-01-02,2024-01-04 09:00:00\n"
            )
        assert runner.seed().ok
        res = runner.run(event_time_end="2024-01-05 00:00:00")
        assert res.ok, [r.message for r in res.results]
        rows[fmt] = sorted(
            map(tuple, spark.table(f"{schema}.{table}").collect())
        )
    assert rows["delta"] == rows[None]
    return rows[None]


def test_delta_configured_merge_model_rebuilds_through_parquet(
    make_project, spark
):
    """Every managed table is parquet, so a delta-configured merge
    model's second run rewrites the table instead of issuing MERGE INTO
    (which Spark rejects on a parquet table)."""
    rows = _rebuild_in_both_formats(
        make_project, spark, ["models/inc.sql"], "inc"
    )
    # non-vacuous: the merge updated id 2 and added id 4
    assert rows == [(1, 10), (2, 25), (3, 30), (4, 40)]


def test_delta_configured_microbatch_model_rebuilds_through_parquet(
    make_project, spark
):
    """A delta-configured microbatch model's incremental run rewrites
    the parquet table instead of issuing INSERT INTO ... REPLACE WHERE
    (which Spark rejects on a v1 table)."""
    rows = _rebuild_in_both_formats(
        make_project, spark, ["models/stg.sql", "models/mb.sql"], "mb"
    )
    # non-vacuous: the window [01-04, 01-05) added id 4
    assert {r[0] for r in rows} == {1, 2, 3, 4}


def test_microbatch_marker_cleared_before_first_write(
    make_project, spark, monkeypatch
):
    """Crash detection: every batch write keeps the catalog entry's
    meta (an append leaves the entry alone, the CTAS swap carries the
    meta over), so the completion flag from the previous green run must
    be cleared before the first batch write, or a mid-run crash would
    leave it standing and recovery would never fire."""
    runner = make_project(dict(_MB_FILES), schema="t_mb_unset")
    assert runner.seed().ok
    assert runner.run(event_time_end="2024-01-03 00:00:00").ok
    assert _mb_meta(runner, "t_mb_unset")["sparkt.microbatch.complete"]

    calls = []
    adapter = runner.adapter
    real_meta = adapter.set_relation_meta

    def meta_spy(rel, **meta):
        calls.append(("meta", meta))
        return real_meta(rel, **meta)

    monkeypatch.setattr(adapter, "set_relation_meta", meta_spy)
    # every way a batch writes the target: the CTAS swap and an append
    for name in ("create_table_as", "insert_into"):
        def write_spy(rel, *args, _real=getattr(adapter, name), **kwargs):
            if rel.identifier == "mb_daily":
                calls.append(("write", rel.render()))
            return _real(rel, *args, **kwargs)

        monkeypatch.setattr(adapter, name, write_spy)
    assert runner.run(event_time_end="2024-01-05 00:00:00").ok
    clear_idx = calls.index(
        ("meta", {"sparkt.microbatch.complete": False})
    )
    write_idx = next(i for i, c in enumerate(calls) if c[0] == "write")
    assert clear_idx < write_idx
    # ...and the flag is back after the fully-green run
    assert _mb_meta(runner, "t_mb_unset")["sparkt.microbatch.complete"]


def test_python_is_incremental_does_not_leak(make_project, spark):
    """dbt.is_incremental() is per-call state, not run-global: after
    an incremental python model's second run flips it True, a table
    python model running later in the SAME run must still see False
    (r12 core review #2 — the shared-extras flag leaked True into
    every later python model, so a full-refresh CTAS gated on
    is_incremental() would silently build only the delta)."""
    files = {
        "dbt_project.yml": "name: leak\nmodel-paths: [models]\n",
        # alphabetical + dependency order puts a_inc before z_table
        "models/a_inc.py": (
            "def model(dbt, session):\n"
            "    dbt.config(materialized='incremental', unique_key='id')\n"
            "    if dbt.is_incremental():\n"
            "        return session.sql('select 2 as id')\n"
            "    return session.sql('select 1 as id')\n"
        ),
        "models/z_table.py": (
            "def model(dbt, session):\n"
            "    dbt.config(materialized='table')\n"
            "    # ref forces ordering after a_inc\n"
            "    dbt.ref('a_inc')\n"
            "    flag = 1 if dbt.is_incremental() else 0\n"
            "    return session.sql(f'select {flag} as leaked')\n"
        ),
    }
    runner = make_project(files, schema="t_leak")
    assert runner.run().ok           # first build: both False
    assert runner.run(threads=1).ok  # a_inc now incremental (True)
    assert spark.table("t_leak.z_table").collect()[0]["leaked"] == 0


def test_incremental_rewrite_stages_source_once_and_keeps_docs(
    make_project, spark
):
    """The merge rewrite stages the source into <name>__sparkt_tmp
    exactly once (dbt's __dbt_tmp contract — the old WITH-CTE form
    evaluated the source twice, wrong under non-determinism), drops
    the staging table afterwards, and re-applies persist_docs so
    catalog comments survive the rewrite (r12 core review #7/#8)."""
    files = {
        "dbt_project.yml": "name: stg\nmodel-paths: [models]\n",
        "models/inc_doc.sql": (
            "{{ config(materialized='incremental', unique_key='id', "
            "persist_docs={'relation': true}) }}\n"
            "select 1 as id, 'x' as v"
        ),
        "models/schema.yml": """
version: 2
models:
  - name: inc_doc
    description: the comment that must survive
""",
    }
    runner = make_project(files, schema="t_stg")
    assert runner.run().ok
    assert runner.run().ok  # incremental rewrite pass

    # staging table dropped
    assert not spark.catalog.tableExists("t_stg.inc_doc__sparkt_tmp")
    # table-level comment survived the rewrite
    row = [
        r for r in spark.sql(
            "DESCRIBE TABLE EXTENDED t_stg.inc_doc"
        ).collect()
        if r.col_name == "Comment"
    ]
    assert row and "must survive" in row[0].data_type
    assert spark.table("t_stg.inc_doc").count() == 1


def test_merge_update_columns_rewrite_path(make_project, spark):
    """r15 review: merge_update_columns must be honored on the parquet
    REWRITE path (the delta MERGE path already was) — matched rows
    update only the named columns, keeping target values elsewhere;
    unmatched source rows insert whole."""
    files = {
        "dbt_project.yml": "name: muc\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/src.csv": "id,a,b\n1,a1,b1\n2,a2,b2\n",
        "models/m.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='merge', unique_key='id', "
            "merge_update_columns=['a']) }}\n"
            "select id, a, b from {{ ref('src') }}\n"
        ),
    }
    runner = make_project(files, schema="t_muc")
    assert runner.seed().ok
    assert runner.run().ok
    import os

    with open(os.path.join(runner.project.project_root, "seeds/src.csv"), "w") as f:
        # id=2 changes BOTH a and b; only a may update. id=3 is new.
        f.write("id,a,b\n2,A2,B2\n3,a3,b3\n")
    assert runner.seed().ok
    assert runner.run().ok
    rows = {
        r["id"]: (r["a"], r["b"])
        for r in spark.table("t_muc.m").collect()
    }
    assert rows[1] == ("a1", "b1")          # untouched
    assert rows[2] == ("A2", "b2")          # a updated, b KEPT
    assert rows[3] == ("a3", "b3")          # new row inserts whole


def test_merge_exclude_columns_rewrite_path(make_project, spark):
    """merge_exclude_columns: update everything EXCEPT the named
    columns on matched rows."""
    files = {
        "dbt_project.yml": "name: mec\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/src.csv": "id,a,b\n1,a1,b1\n",
        "models/m.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='merge', unique_key='id', "
            "merge_exclude_columns=['b']) }}\n"
            "select id, a, b from {{ ref('src') }}\n"
        ),
    }
    runner = make_project(files, schema="t_mec")
    assert runner.seed().ok
    assert runner.run().ok
    import os

    with open(os.path.join(runner.project.project_root, "seeds/src.csv"), "w") as f:
        f.write("id,a,b\n1,A1,B1\n")
    assert runner.seed().ok
    assert runner.run().ok
    row = spark.table("t_mec.m").collect()[0]
    assert (row["a"], row["b"]) == ("A1", "b1")
