"""Snapshot SCD-2 semantics (reference:
tests/functional/simple_snapshot/fixtures.py, incl. the
lead(dbt_valid_from) validity-interval invariant at lines 138-148)."""

from __future__ import annotations

import os


def _seed(rows):
    return "id,name,status\n" + "".join(f"{i},{n},{s}\n" for i, n, s in rows)


FILES = {
    "dbt_project.yml": (
        "name: snap\nseed-paths: [seeds]\nsnapshot-paths: [snapshots]\n"
    ),
    "seeds/items.csv": _seed([(1, "a", "new"), (2, "b", "new"), (3, "c", "new")]),
    "snapshots/items_snap.sql": """
{% snapshot items_snap %}
{{ config(strategy='check', unique_key='id', check_cols=['status']) }}
select * from {{ ref('items') }}
{% endsnapshot %}
""",
}


def test_snapshot_check_strategy(make_project, spark):
    runner = make_project(FILES, schema="t_snap")
    assert runner.seed().ok
    assert runner.snapshot().ok
    t = spark.table("t_snap.items_snap")
    assert t.count() == 3
    assert t.filter("dbt_valid_to is null").count() == 3
    meta = {"dbt_scd_id", "dbt_updated_at", "dbt_valid_from", "dbt_valid_to"}
    assert meta <= set(t.columns)

    # change one row, add one row
    root = runner.project.project_root
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write(_seed([(1, "a", "sold"), (2, "b", "new"), (3, "c", "new"),
                       (4, "d", "new")]))
    assert runner.seed().ok
    assert runner.snapshot().ok
    t = spark.table("t_snap.items_snap")
    assert t.count() == 5  # 3 originals + 1 new version of id=1 + id=4
    cur = t.filter("dbt_valid_to is null")
    assert cur.count() == 4
    assert cur.filter("id = 1").first()["status"] == "sold"
    closed = t.filter("dbt_valid_to is not null")
    assert closed.count() == 1 and closed.first()["id"] == 1

    # unchanged rerun: no new versions
    assert runner.snapshot().ok
    assert spark.table("t_snap.items_snap").count() == 5

    # validity-interval invariant (fixtures.py:138-148): for each id,
    # lead(dbt_valid_from) == dbt_valid_to
    bad = spark.sql(
        """
        select * from (
          select id, dbt_valid_to,
                 lead(dbt_valid_from) over (partition by id
                                            order by dbt_valid_from) as nxt
          from t_snap.items_snap)
        where (dbt_valid_to is null) != (nxt is null)
           or (dbt_valid_to is not null and dbt_valid_to != nxt)
        """
    )
    assert bad.count() == 0


def test_snapshot_check_all(make_project, spark):
    files = dict(FILES)
    files["snapshots/items_snap.sql"] = """
{% snapshot items_snap %}
{{ config(strategy='check', unique_key='id', check_cols='all') }}
select * from {{ ref('items') }}
{% endsnapshot %}
"""
    runner = make_project(files, schema="t_snap_all")
    assert runner.seed().ok
    assert runner.snapshot().ok
    root = runner.project.project_root
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write(_seed([(1, "a2", "new"), (2, "b", "new"), (3, "c", "new")]))
    assert runner.seed().ok
    assert runner.snapshot().ok
    t = spark.table("t_snap_all.items_snap")
    assert t.count() == 4  # name change on id=1 detected via check 'all'


def test_snapshot_check_empty_cols_raises(make_project, spark):
    """check strategy where every data column is in unique_key must be
    rejected up front (would compile to invalid SQL 'changed = ()')."""
    files = {
        "dbt_project.yml": "name: snapx\nmodel-paths: [models]\nsnapshot-paths: [snapshots]\n",
        "models/src_only_keys.sql": "select 1 as id",
        "snapshots/empty_check.sql": (
            "{% snapshot empty_check %}\n"
            "{{ config(target_schema='t_snap_ec', unique_key='id', "
            "strategy='check', check_cols='all') }}\n"
            "select id from {{ ref('src_only_keys') }}\n"
            "{% endsnapshot %}"
        ),
    }
    runner = make_project(files, schema="t_snap_ec")
    assert runner.run().ok
    res = runner.snapshot()
    assert not res.ok
    msg = " ".join(str(r.message) for r in res.results)
    assert "check_cols" in msg


def test_snapshot_invalidate_hard_deletes(make_project, spark):
    """invalidate_hard_deletes=True (reference
    tests/functional/adapter/simple_snapshot/snapshots.py:9): a row that
    vanishes from the source closes its validity interval at the batch
    timestamp; without the flag it stays current forever. The dbt 1.9
    `hard_deletes: invalidate` spelling is accepted too."""
    files = dict(FILES)
    files["snapshots/items_snap.sql"] = """
{% snapshot items_snap %}
{{ config(strategy='check', unique_key='id', check_cols=['status'],
          invalidate_hard_deletes=true) }}
select * from {{ ref('items') }}
{% endsnapshot %}
"""
    runner = make_project(files, schema="t_snap_hd")
    assert runner.seed().ok and runner.snapshot().ok
    root = runner.project.project_root

    # delete id=3, change id=1
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write(_seed([(1, "a", "sold"), (2, "b", "new")]))
    assert runner.seed().ok and runner.snapshot().ok
    t = spark.table("t_snap_hd.items_snap")
    # id=3's only row is now closed; ids 1 (new version) and 2 current
    current = {r["id"] for r in t.filter("dbt_valid_to is null").collect()}
    assert current == {1, 2}
    closed3 = t.filter("id = 3").collect()
    assert len(closed3) == 1 and closed3[0]["dbt_valid_to"] is not None

    # the key coming BACK creates a fresh current version (new interval)
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write(_seed([(1, "a", "sold"), (2, "b", "new"), (3, "c", "back")]))
    assert runner.seed().ok and runner.snapshot().ok
    t = spark.table("t_snap_hd.items_snap")
    rows3 = sorted(t.filter("id = 3").collect(),
                   key=lambda r: r["dbt_valid_from"])
    assert len(rows3) == 2
    assert rows3[0]["dbt_valid_to"] is not None
    assert rows3[1]["dbt_valid_to"] is None and rows3[1]["status"] == "back"


def test_snapshot_without_flag_keeps_deleted_current(make_project, spark):
    """Default (no invalidate_hard_deletes): hard-deleted keys remain
    current — the pre-1.9 dbt default."""
    runner = make_project(FILES, schema="t_snap_nohd")
    assert runner.seed().ok and runner.snapshot().ok
    with open(os.path.join(runner.project.project_root,
                           "seeds/items.csv"), "w") as f:
        f.write(_seed([(1, "a", "new")]))
    assert runner.seed().ok and runner.snapshot().ok
    t = spark.table("t_snap_nohd.items_snap")
    current = {r["id"] for r in t.filter("dbt_valid_to is null").collect()}
    assert current == {1, 2, 3}


def test_delta_configured_snapshot_rebuilds_through_parquet(
    make_project, spark
):
    """Every managed table is parquet, so a delta-configured snapshot's
    second run rewrites the table instead of issuing the change-type
    MERGE (which Spark rejects on a parquet table), and leaves the same
    rows as the same snapshot without file_format."""
    seed = "id,name,updated_at\n1,ada,2024-01-01\n2,bob,2024-01-01\n"
    rows = {}
    for fmt in (None, "delta"):
        ff = f", file_format='{fmt}'" if fmt else ""
        files = {
            "dbt_project.yml": (
                "name: snapd\nseed-paths: [seeds]\n"
                "snapshot-paths: [snapshots]\n"
            ),
            "seeds/people.csv": seed,
            "snapshots/people_snap.sql": (
                "{% snapshot people_snap %}\n"
                "{{ config(strategy='timestamp', unique_key='id', "
                f"updated_at='updated_at'{ff}) }}}}\n"
                "select * from {{ ref('people') }}\n"
                "{% endsnapshot %}\n"
            ),
        }
        schema = f"t_snapd_{fmt or 'default'}"
        runner = make_project(files, schema=schema)
        assert runner.seed().ok
        assert runner.snapshot().ok
        with open(os.path.join(
            runner.project.project_root, "seeds/people.csv"
        ), "w") as f:
            f.write(
                seed.replace("2,bob,2024-01-01", "2,bea,2024-01-02")
                + "3,cy,2024-01-02\n"
            )
        assert runner.seed().ok
        res = runner.snapshot()
        assert res.ok, [r.message for r in res.results]
        rows[fmt] = sorted(
            (r["id"], r["name"], r["dbt_valid_to"] is None)
            for r in spark.table(f"{schema}.people_snap").collect()
        )
    assert rows["delta"] == rows[None]
    # non-vacuous: id 2's old version is closed, its new one and id 3
    # are current
    assert rows[None] == [
        (1, "ada", True), (2, "bea", True), (2, "bob", False),
        (3, "cy", True),
    ]


def test_hard_deletes_new_record(make_project, spark):
    """hard_deletes: new_record (dbt 1.9): a vanished key closes its
    current row AND inserts a dbt_is_deleted=TRUE marker version;
    re-running with the key still absent is idempotent; a reappearing
    key revives (marker closes, fresh row inserts)."""
    import os

    files = {
        "dbt_project.yml": (
            "name: hd\nmodel-paths: [models]\nseed-paths: [seeds]\n"
            "snapshot-paths: [snapshots]\n"
        ),
        "seeds/items.csv": (
            "id,v,updated_at\n"
            "1,a,2024-01-01 00:00:00\n2,b,2024-01-01 00:00:00\n"
        ),
        "models/stg_items.sql": (
            "select id, v, cast(updated_at as timestamp) as updated_at "
            "from {{ ref('items') }}"
        ),
        "snapshots/items_snap.sql": """
{% snapshot items_snap %}
{{ config(unique_key='id', strategy='timestamp', updated_at='updated_at',
          hard_deletes='new_record') }}
select * from {{ ref('stg_items') }}
{% endsnapshot %}
""",
    }
    runner = make_project(files, schema="t_hd_nr")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    snap = "t_hd_nr.items_snap"
    assert spark.table(snap).count() == 2
    assert spark.table(snap).filter("dbt_is_deleted").count() == 0

    # delete id=2 from the source
    root = runner.project.project_root
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write("id,v,updated_at\n1,a,2024-01-01 00:00:00\n")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table(snap)
    assert t.count() == 3  # 1-current, 2-closed, 2-deletion-marker
    marker = t.filter("dbt_is_deleted").collect()
    assert len(marker) == 1 and marker[0]["id"] == 2
    assert marker[0]["dbt_valid_to"] is None
    closed = t.filter("id = 2 and not dbt_is_deleted").first()
    assert closed["dbt_valid_to"] is not None

    # idempotent while still deleted
    assert runner.snapshot().ok
    assert spark.table(snap).count() == 3

    # revival: id=2 reappears with a NEWER updated_at
    with open(os.path.join(root, "seeds/items.csv"), "w") as f:
        f.write(
            "id,v,updated_at\n1,a,2024-01-01 00:00:00\n"
            "2,b2,2024-02-01 00:00:00\n"
        )
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table(snap)
    assert t.count() == 4
    cur2 = t.filter("id = 2 and dbt_valid_to is null").collect()
    assert len(cur2) == 1
    assert cur2[0]["v"] == "b2" and not cur2[0]["dbt_is_deleted"]
    # the marker row is closed now
    assert t.filter("dbt_is_deleted and dbt_valid_to is null").count() == 0


def test_snapshot_meta_column_names(make_project, spark):
    """snapshot_meta_column_names (dbt 1.9): renamed meta columns flow
    through first build + change capture (legacy SCD-2 tables keep
    their column names)."""
    import os

    files = {
        "dbt_project.yml": (
            "name: mn\nmodel-paths: [models]\nseed-paths: [seeds]\n"
            "snapshot-paths: [snapshots]\n"
        ),
        "seeds/m_items.csv": "id,v,updated_at\n1,a,2024-01-01 00:00:00\n",
        "models/stg_m.sql": (
            "select id, v, cast(updated_at as timestamp) as updated_at "
            "from {{ ref('m_items') }}"
        ),
        "snapshots/m_snap.sql": """
{% snapshot m_snap %}
{{ config(unique_key='id', strategy='timestamp', updated_at='updated_at',
          snapshot_meta_column_names={
            'dbt_scd_id': 'scd_key', 'dbt_updated_at': 'upd_ts',
            'dbt_valid_from': 'valid_from', 'dbt_valid_to': 'valid_to'}) }}
select * from {{ ref('stg_m') }}
{% endsnapshot %}
""",
    }
    runner = make_project(files, schema="t_metanames")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table("t_metanames.m_snap")
    assert {"scd_key", "upd_ts", "valid_from", "valid_to"} <= set(t.columns)
    assert "dbt_scd_id" not in t.columns

    # change the row -> one closed + one current version, custom names
    root = runner.project.project_root
    with open(os.path.join(root, "seeds/m_items.csv"), "w") as f:
        f.write("id,v,updated_at\n1,a2,2024-02-01 00:00:00\n")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table("t_metanames.m_snap")
    assert t.count() == 2
    assert t.filter("valid_to is null").first()["v"] == "a2"
    assert t.filter("valid_to is not null").count() == 1


def test_dbt_valid_to_current_sentinel(make_project, spark):
    """dbt_valid_to_current (dbt 1.9): current rows carry a sentinel
    timestamp instead of NULL; change capture closes them and new
    versions get the sentinel."""
    import os

    files = {
        "dbt_project.yml": (
            "name: vc\nmodel-paths: [models]\nseed-paths: [seeds]\n"
            "snapshot-paths: [snapshots]\n"
        ),
        "seeds/v_items.csv": "id,v,updated_at\n1,a,2024-01-01 00:00:00\n",
        "models/stg_v.sql": (
            "select id, v, cast(updated_at as timestamp) as updated_at "
            "from {{ ref('v_items') }}"
        ),
        "snapshots/v_snap.sql": """
{% snapshot v_snap %}
{{ config(unique_key='id', strategy='timestamp', updated_at='updated_at',
          dbt_valid_to_current="timestamp'9999-12-31 00:00:00'") }}
select * from {{ ref('stg_v') }}
{% endsnapshot %}
""",
    }
    runner = make_project(files, schema="t_vtc")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table("t_vtc.v_snap")
    assert str(t.first()["dbt_valid_to"]).startswith("9999-12-31")

    root = runner.project.project_root
    with open(os.path.join(root, "seeds/v_items.csv"), "w") as f:
        f.write("id,v,updated_at\n1,a2,2024-02-01 00:00:00\n")
    assert runner.seed().ok and runner.run().ok
    assert runner.snapshot().ok
    t = spark.table("t_vtc.v_snap")
    assert t.count() == 2
    cur = t.filter("dbt_valid_to = timestamp'9999-12-31 00:00:00'")
    assert cur.count() == 1 and cur.first()["v"] == "a2"
    closed = t.filter("dbt_valid_to < timestamp'9999-01-01'")
    assert closed.count() == 1 and closed.first()["v"] == "a"
    # idempotent re-snapshot
    assert runner.snapshot().ok
    assert spark.table("t_vtc.v_snap").count() == 2


def test_snapshot_ref_resolves_to_target_schema(make_project, spark):
    """A model ref()ing a snapshot with target_schema reads the SAME
    relation the snapshot wrote (reference: SnapshotParser sets
    node.schema = config.target_schema verbatim,
    core/dbt/parser/snapshots.py:39). Previously the writer honored
    target_schema while refs resolved through generate_schema_name —
    the two diverged whenever either schema config was set (r12 core
    review #1)."""
    files = {
        "dbt_project.yml": (
            "name: snapref\nmodel-paths: [models]\n"
            "snapshot-paths: [snapshots]\nseed-paths: [seeds]\n"
        ),
        "seeds/items.csv": "id,name\n1,a\n2,b\n",
        "snapshots/items_snap.sql": (
            "{% snapshot items_snap %}\n"
            "{{ config(target_schema='t_snapref_hist', unique_key='id', "
            "strategy='check', check_cols='all') }}\n"
            "select * from {{ ref('items') }}\n"
            "{% endsnapshot %}"
        ),
        "models/current_items.sql": (
            "select id, name from {{ ref('items_snap') }} "
            "where dbt_valid_to is null"
        ),
    }
    runner = make_project(files, schema="t_snapref")
    assert runner.seed().ok
    assert runner.snapshot().ok
    # snapshot landed in the verbatim target_schema
    assert spark.catalog.tableExists("t_snapref_hist.items_snap")
    # and the downstream ref reads it (previously: NOT_FOUND in
    # t_snapref.items_snap)
    res = runner.run()
    assert res.ok, [str(r.message) for r in res.results]
    assert spark.table("t_snapref.current_items").count() == 2


def test_snapshot_schema_evolution(make_project, spark):
    """dbt snapshot schema semantics (r12 core review #5): a column
    REMOVED from the source keeps its full history (NULL for new
    versions) instead of being destroyed by the rewrite; a column
    ADDED to the source appends (NULL for history rows) instead of
    crashing; with check_cols='all' the added column's non-NULL value
    registers as a change."""
    files = {
        "dbt_project.yml": (
            "name: sev2\nsnapshot-paths: [snapshots]\nmodel-paths: [models]\n"
        ),
        "models/src.sql": (
            "select 1 as id, 'a' as name, 'x' as extra"
        ),
        "snapshots/ev_snap.sql": (
            "{% snapshot ev_snap %}\n"
            "{{ config(strategy='check', unique_key='id', "
            "check_cols='all') }}\n"
            "select * from {{ ref('src') }}\n"
            "{% endsnapshot %}"
        ),
    }
    runner = make_project(files, schema="t_sev2")
    assert runner.run().ok and runner.snapshot().ok
    root = runner.project.project_root

    # drop 'extra', add 'added' (fresh Runner: the manifest is parsed
    # at construction, so the file edit needs a re-parse)
    from sparkt.runner import Runner

    with open(os.path.join(root, "models/src.sql"), "w") as f:
        f.write("select 1 as id, 'a' as name, 7 as added")
    runner = Runner(root, spark=spark,
                    project_overrides={"schema": "t_sev2"})
    assert runner.run().ok
    res = runner.snapshot()
    assert res.ok, [str(r.message) for r in res.results]

    t = spark.table("t_sev2.ev_snap")
    assert {"id", "name", "extra", "added"} <= set(t.columns)
    hist = t.filter("dbt_valid_to is not null").collect()
    cur = t.filter("dbt_valid_to is null").collect()
    # the original version closed (added-col NULL -> 7 is a change),
    # its 'extra' history preserved
    assert len(hist) == 1 and hist[0]["extra"] == "x"
    assert hist[0]["added"] is None
    # the new current version carries the added col, NULL for extra
    assert len(cur) == 1 and cur[0]["added"] == 7
    assert cur[0]["extra"] is None

    # idempotence: nothing changed -> third run adds no versions
    assert runner.snapshot().ok
    assert spark.table("t_sev2.ev_snap").count() == 2
