"""Concurrency (many scheduler threads sharing one SparkSession +
catalog DDL) and the {% call statement() %} macro protocol (reference:
tests/functional/statements, core/dbt/context/providers.py:884-902)."""

from __future__ import annotations


def test_concurrent_dag_execution(make_project, spark):
    """20 models across 3 DAG levels on 8 threads: every relation must
    land correctly despite concurrent catalog DDL (the reference's
    relation-cache locking concern, SURVEY.md §7)."""
    files = {
        "dbt_project.yml": "name: conc\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "profiles.yml": "target:\n  schema: ignored\n  threads: 8\n",
        "seeds/base.csv": "id,v\n" + "".join(f"{i},{i*10}\n" for i in range(1, 21)),
    }
    for i in range(8):
        files[f"models/stage_{i}.sql"] = (
            f"select id, v + {i} as v from {{{{ ref('base') }}}}"
        )
    for i in range(8):
        files[f"models/mid_{i}.sql"] = (
            "{{ config(materialized='table') }}\n"
            f"select sum(v) as s from {{{{ ref('stage_{i}') }}}}"
        )
    files["models/final_union.sql"] = (
        "{{ config(materialized='table') }}\n"
        + "\nunion all\n".join(
            f"select s from {{{{ ref('mid_{i}') }}}}" for i in range(8)
        )
    )
    files["models/final_sum.sql"] = (
        "{{ config(materialized='table') }}\n"
        "select sum(s) as total from {{ ref('final_union') }}"
    )
    runner = make_project(files, schema="t_conc")
    assert runner.seed().ok
    res = runner.run(threads=8)
    assert res.ok, [r.message for r in res.results if r.status == "error"]
    assert len(res.results) == 18
    threads_used = {r.thread for r in res.results}
    assert len(threads_used) > 1  # actually parallel
    base_sum = sum(i * 10 for i in range(1, 21))
    expected = sum(base_sum + 20 * i for i in range(8))
    assert spark.table("t_conc.final_sum").first()["total"] == expected


def test_statement_call_block(make_project, spark):
    """{% call statement('x', fetch_result=True) %} ... {% endcall %}
    + load_result — the run_query underpinning."""
    files = {
        "dbt_project.yml": "name: stmt\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/nums.csv": "id\n1\n2\n3\n",
        "models/uses_statement.sql": """
{%- call statement('max_id', fetch_result=True) -%}
  select max(id) as m from {{ ref('nums') }}
{%- endcall -%}
{%- set max_id = load_result('max_id').table.rows[0][0] -%}
select {{ max_id }} as observed_max
""",
    }
    runner = make_project(files, schema="t_stmt")
    assert runner.seed().ok
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_stmt.uses_statement").first()["observed_max"] == 3


def test_deferred_version_gc_protects_inflight_readers(spark, tmp_path):
    """Rewrites keep N-1: a reader holding the previous version's files
    can finish its scan; the old version disappears only after the NEXT
    write (the VACUUM-retention analogue for the versioned-dir store)."""
    import os

    from sparkt.adapter import SparkAdapter
    from sparkt.relation import Relation

    adapter = SparkAdapter(spark, str(tmp_path / "wh"))
    rel = Relation(schema="t_gc", identifier="tbl")
    adapter.create_table_as(rel, select_sql="select id from range(100)")
    base = os.path.join(adapter.warehouse_dir, "t_gc", "tbl")
    v1 = sorted(os.listdir(base))
    assert len(v1) == 1
    # a reader resolves v1's files directly (simulates an in-flight scan)
    reader = spark.read.parquet(os.path.join(base, v1[0]))

    adapter.create_table_as(rel, select_sql="select id from range(200)")
    v2 = sorted(os.listdir(base))
    assert len(v2) == 2 and v1[0] in v2  # previous version retained
    assert reader.count() == 100  # in-flight reader completes

    adapter.create_table_as(rel, select_sql="select id from range(300)")
    v3 = sorted(os.listdir(base))
    assert len(v3) == 2  # v1 collected on the NEXT write
    assert v1[0] not in v3
    assert spark.table("t_gc.tbl").count() == 300
    adapter.drop_schema("t_gc")


def test_create_table_as_builds_overlap(spark, tmp_path):
    """Only the catalog swap holds the adapter's DDL lock, so two
    threads building DIFFERENT tables run their CTAS data jobs at the
    same time. Every CTAS waits on a two-party barrier before it runs;
    if the statements ran one after the other the barrier would break
    and both builds would fail."""
    import threading

    from sparkt.adapter import SparkAdapter
    from sparkt.relation import Relation

    barrier = threading.Barrier(2, timeout=30)

    class BarrierSpark:
        """The session, except that ``CREATE TABLE ... AS`` meets the
        other builder at the barrier first."""

        def sql(self, text, *args, **kwargs):
            if text.startswith("CREATE TABLE") and " AS " in text:
                barrier.wait()
            return spark.sql(text, *args, **kwargs)

        def __getattr__(self, name):
            return getattr(spark, name)

    adapter = SparkAdapter(spark, str(tmp_path / "wh"))
    adapter.spark = BarrierSpark()
    rels = [Relation(schema="t_overlap", identifier=f"m{i}") for i in (1, 2)]
    errors = []

    def build(rel, n):
        try:
            adapter.create_table_as(rel, select_sql=f"select id from range({n})")
        except Exception as e:  # noqa: BLE001 — reported below
            errors.append(e)

    threads = [
        threading.Thread(target=build, args=(rel, 10 * i))
        for i, rel in enumerate(rels, start=1)
    ]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert not barrier.broken
    assert [spark.table(r.render()).count() for r in rels] == [10, 20]
    adapter.drop_schema("t_overlap")


def test_parallel_rebuilds_restore_newest_versions(make_project, spark):
    """k independent table models rebuilt on k threads (more threads
    than cores, with frequent interpreter thread switches), twice: a
    fresh adapter over the same warehouse restores every table, with its
    row count, from a catalog.json entry that points at the table's
    newest version directory. A lost catalog update breaks this."""
    import json
    import os
    import sys

    from sparkt.adapter import SparkAdapter

    k = 8
    files = {
        "dbt_project.yml": "name: rebuild\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/base.csv": "id\n" + "".join(f"{i}\n" for i in range(1, 81)),
    }
    for i in range(1, k + 1):
        files[f"models/t{i}.sql"] = (
            "{{ config(materialized='table') }}\n"
            f"select id from {{{{ ref('base') }}}} where id <= {10 * i}"
        )
    runner = make_project(files, schema="t_rebuild")
    assert runner.seed().ok
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        for _ in range(2):
            res = runner.run(threads=k)
            assert res.ok, [
                r.message for r in res.results if r.status == "error"
            ]
    finally:
        sys.setswitchinterval(interval)
    wh = runner.project.warehouse_dir
    with open(os.path.join(wh, "catalog.json")) as f:
        catalog = json.load(f)
    for i in range(1, k + 1):
        spark.sql(f"DROP TABLE t_rebuild.t{i}")  # as if a new process

    SparkAdapter(spark, wh)
    for i in range(1, k + 1):
        loc = catalog[f"t_rebuild.t{i}"]["location"]
        versions = sorted(os.listdir(os.path.dirname(loc)))
        assert len(versions) == 2  # the rebuild kept one previous version
        assert os.path.basename(loc) == versions[-1]
        assert spark.table(f"t_rebuild.t{i}").count() == 10 * i
    assert not [
        t.name for t in spark.catalog.listTables("t_rebuild")
        if "__sparkt_tmp_" in t.name
    ]
    runner.adapter.drop_schema("t_rebuild")
