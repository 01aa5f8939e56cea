"""Adapter contract surface (SURVEY.md §2.4): model hooks, relation
listing and batch freshness the reference's core calls
(``core/dbt/task/run.py:258-296``,
``core/dbt/task/freshness.py:107-145``), and the table write and
catalog restore behind them."""

from __future__ import annotations

from pyspark.sql import functions as F

from sparkt.relation import Relation


def _runner(make_project, schema):
    files = {
        "dbt_project.yml": "name: surf\nmodel-paths: [models]\n",
        "models/base.sql": (
            "{{ config(materialized='table') }}\nselect 1 as id, 'x' as tag"
        ),
        "models/conf_model.sql": (
            "{{ config(materialized='table', "
            "spark_session_conf={'spark.sql.shuffle.partitions': '4'}) }}\n"
            "select id from {{ ref('base') }} group by id"
        ),
    }
    return make_project(files, schema=schema)


def test_model_hook_session_conf(make_project, spark):
    """pre_model_hook applies spark_session_conf for the node and
    post_model_hook restores the previous value."""
    runner = _runner(make_project, "t_surf2")
    before = spark.conf.get("spark.sql.shuffle.partitions")
    assert runner.run().ok
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    a = runner.adapter
    state = a.pre_model_hook(
        {"spark_session_conf": {"spark.sql.shuffle.partitions": "3"}}
    )
    assert spark.conf.get("spark.sql.shuffle.partitions") == "3"
    a.post_model_hook({}, state)
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_relations_cache_and_listing(make_project, spark):
    runner = _runner(make_project, "t_surf3")
    assert runner.run().ok
    a = runner.adapter
    names = {r.identifier for r in a.list_relations("t_surf3")}
    assert {"base", "conf_model"} <= names


def test_python_model_runs_in_process(make_project, spark):
    files = {
        "dbt_project.yml": "name: surf\nmodel-paths: [models]\n",
        "models/base.sql": "select 1 as id",
        "models/py_model.py": (
            "def model(dbt, session):\n"
            "    return dbt.ref('base').selectExpr('id * 10 as id')\n"
        ),
    }
    runner = make_project(files, schema="t_surf4")
    assert runner.run().ok
    assert spark.table("t_surf4.py_model").first()["id"] == 10


def test_batch_metadata_freshness(make_project, spark):
    runner = _runner(make_project, "t_surf5")
    assert runner.run().ok
    a = runner.adapter
    rels = [
        Relation(schema="t_surf5", identifier="base"),
        Relation(schema="t_surf5", identifier="conf_model"),
        Relation(schema="t_surf5", identifier="ghost"),
    ]
    ages = a.calculate_freshness_from_metadata_batch(rels)
    assert ages["t_surf5.base"] is not None and ages["t_surf5.base"] < 3600
    assert ages["t_surf5.ghost"] is None


def test_csv_json_external_sources(make_project, spark, tmp_path):
    """External sources in csv and json formats register as zero-copy
    tables with reader options (reference ExternalTable.file_format,
    source_definition.py:25-60)."""
    csv_path = tmp_path / "people.csv"
    csv_path.write_text("id;name\n1;ada\n2;grace\n")
    json_path = tmp_path / "orders.json"
    json_path.write_text('{"oid": 10, "amt": 1.5}\n{"oid": 11, "amt": 2.5}\n')
    runner = make_project(
        {
            "dbt_project.yml": "name: extsrc\nmodel-paths: [models]\n",
            "models/sources.yml": f"""
version: 2
sources:
  - name: raw
    tables:
      - name: people
        external:
          location: {csv_path}
          file_format: csv
          options: {{delimiter: ";"}}
      - name: orders
        external:
          location: {json_path}
          format: json
""",
            "models/joined.sql": (
                "{{ config(materialized='table') }}\n"
                "select p.name, o.amt from {{ source('raw', 'people') }} p\n"
                "join {{ source('raw', 'orders') }} o on p.id + 9 = o.oid\n"
                "order by p.name"
            ),
        },
        schema="t_extsrc",
    )
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    rows = [tuple(r) for r in spark.table("t_extsrc.joined").collect()]
    assert rows == [("ada", 1.5), ("grace", 2.5)]


def test_external_location_with_quote_in_path(make_project, spark, tmp_path):
    """A single quote in the data path must not break the CREATE TABLE
    ... LOCATION DDL (ADVICE r3: LOCATION interpolation was unescaped)."""
    qdir = tmp_path / "o'brien data"
    qdir.mkdir()
    spark.createDataFrame([(1, "x"), (2, "y")], ["id", "s"]).write.parquet(
        str(qdir / "t.parquet")
    )
    runner = make_project(
        {
            "dbt_project.yml": "name: qloc\nmodel-paths: [models]\n",
            "models/sources.yml": f"""
version: 2
sources:
  - name: raw
    tables:
      - name: t
        external:
          location: "{qdir}/t.parquet"
""",
            "models/m.sql": (
                "{{ config(materialized='table') }}\n"
                "select count(*) as n from {{ source('raw', 't') }}"
            ),
        },
        schema="t_qloc",
    )
    res = runner.run()
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_qloc.m").first()["n"] == 2


def test_sql_str_escaping_unit(spark):
    """_sql_str doubles quotes (valid under both parser modes) and
    doubles backslashes only under the default escape mode."""
    from sparkt.adapter import _sql_str

    assert _sql_str(spark, "o'brien") == "o''brien"
    assert _sql_str(spark, "a\\b") == "a\\\\b"
    # round-trip through the parser: literal comes back verbatim
    val = spark.sql(f"select '{_sql_str(spark, 'o' + chr(39) + 'b')}' as v")
    assert val.first()["v"] == "o'b"


def test_query_comment_attribution(make_project, spark):
    """query-comment (reference core/dbt/config/project.py:211-240):
    the rendered comment rides every submitted statement and becomes
    the Spark job description (thread-local), so the Spark UI groups
    jobs by node."""
    runner = _runner(make_project, "t_qc1")
    a = runner.adapter

    a.set_query_header('{"node_id": "model.x.y"}')
    assert a._commented("select 1").startswith('/* {"node_id": "model.x.y"} */')
    assert spark.sparkContext.getLocalProperty("spark.job.description") \
        == '{"node_id": "model.x.y"}'
    # comment must not break execution, append mode trails the SQL
    assert a.execute("select 1 as n", fetch=True)[1].rows[0]["n"] == 1
    a.set_query_header("tail", append=True)
    assert a._commented("select 1").endswith("/* tail */")
    a.set_query_header(None)
    assert a._commented("select 1") == "select 1"
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None


def test_query_comment_rendering(make_project, spark):
    """Default comment is the dbt-style JSON blob; a configured jinja
    string renders with node/target/invocation_id; explicit null
    disables; header is cleared after the run."""
    import json as _json
    import os

    runner = _runner(make_project, "t_qc2")
    node = runner.manifest.nodes["model.surf.base"]
    blob = _json.loads(runner._query_comment_for(node))
    assert blob["node_id"] == "model.surf.base"
    assert blob["app"] == "sparkt" and blob["invocation_id"]

    # custom jinja comment end-to-end
    files = {
        "dbt_project.yml": (
            "name: surf\nmodel-paths: [models]\n"
            "query-comment: \"node {{ node.unique_id }} in {{ target.schema }}\"\n"
        ),
        "models/base.sql": "{{ config(materialized='table') }}\nselect 1 as id",
    }
    runner2 = make_project(files, schema="t_qc3")
    node2 = runner2.manifest.nodes["model.surf.base"]
    assert runner2._query_comment_for(node2) \
        == "node model.surf.base in t_qc3"
    assert runner2.run().ok
    # header cleared after each node
    assert spark.sparkContext.getLocalProperty("spark.job.description") is None

    # explicit null disables
    files["dbt_project.yml"] = (
        "name: surf\nmodel-paths: [models]\nquery-comment:\n"
    )
    runner3 = make_project(files, schema="t_qc4")
    assert runner3._query_comment_for(
        runner3.manifest.nodes["model.surf.base"]) == ""
    assert runner3.run().ok


def test_optimize_table_compacts_files(make_project, spark):
    """optimize_table rewrites a many-file table into few files at the
    same row count, atomically (old location gc'd, catalog updated)."""
    runner = _runner(make_project, "t_opt1")
    a = runner.adapter
    rel = Relation(schema="t_opt1", identifier="frag")
    df = spark.range(0, 10000).withColumn("v", F.col("id") % 7)
    a.create_table_as(rel, df=df.repartition(24))
    stats = a.optimize_table(rel, target_file_mb=128)
    assert stats["files_before"] >= 24
    assert stats["files_after"] == 1  # 10k rows << 128 MB
    assert spark.table(rel.render()).count() == 10000


def test_optimize_table_cluster_by_enables_skipping(make_project, spark):
    """cluster_by range-partitions + sorts: each output file covers a
    disjoint id range, so a point predicate prunes to one file."""
    runner = _runner(make_project, "t_opt2")
    a = runner.adapter
    rel = Relation(schema="t_opt2", identifier="clust")
    a.create_table_as(
        rel,
        df=spark.range(0, 300000)
        .withColumn("v", F.md5(F.col("id").cast("string")))  # incompressible
        .repartition(16),
    )
    # force multiple output files via a tiny target size
    stats = a.optimize_table(rel, target_file_mb=1, cluster_by=["id"])
    assert stats["files_after"] >= 2
    import duckdb

    loc = a._catalog["t_opt2.clust"]["location"]
    ranges = duckdb.connect().execute(
        f"select filename, min(id), max(id) from "
        f"read_parquet('{loc}/*.parquet', filename=true) group by filename"
    ).fetchall()
    spans = sorted((lo, hi) for _, lo, hi in ranges)
    for (_, hi_prev), (lo_next, _) in zip(spans, spans[1:]):
        assert hi_prev < lo_next  # disjoint ranges -> min/max skipping
    assert spark.table(rel.render()).count() == 300000


def test_optimize_table_partitioned_keeps_layout(make_project, spark):
    """A zero-padded string partition column stays a string with its
    padding, after the DataFrame build and after optimize_table."""
    runner = _runner(make_project, "t_opt3")
    a = runner.adapter
    rel = Relation(schema="t_opt3", identifier="part")
    df = spark.range(0, 5000).withColumn(
        "day", F.format_string("%02d", F.col("id") % 3)
    )

    def check():
        out = spark.table(rel.render())
        assert dict(out.dtypes)["day"] == "string"
        assert sorted(
            r.day for r in out.select("day").distinct().collect()
        ) == ["00", "01", "02"]
        assert out.count() == 5000

    a.create_table_as(rel, df=df.repartition(8), partition_by=["day"])
    check()
    stats = a.optimize_table(rel, target_file_mb=64)
    check()
    assert stats["files_after"] <= stats["files_before"]
    assert a.partition_columns(rel) == ["day"]
    import os as _os

    loc = a._catalog["t_opt3.part"]["location"]
    assert any(d.startswith("day=") for d in _os.listdir(loc))


def test_partition_columns_from_describe(make_project, spark):
    """partition_columns reads the table's partition spec: one column,
    two columns (one a reserved word), none, and a missing table."""
    runner = _runner(make_project, "t_partcols")
    a = runner.adapter
    df = spark.range(0, 12).select(
        "id", (F.col("id") % 3).alias("day"), (F.col("id") % 2).alias("order")
    )
    one = Relation(schema="t_partcols", identifier="one")
    two = Relation(schema="t_partcols", identifier="two")
    flat = Relation(schema="t_partcols", identifier="flat")
    a.create_table_as(one, df=df, partition_by=["day"])
    a.create_table_as(two, df=df, partition_by=["day", "order"])
    a.create_table_as(flat, df=df)
    assert a.partition_columns(one) == ["day"]
    assert a.partition_columns(two) == ["day", "order"]
    assert a.partition_columns(flat) == []
    assert a.partition_columns(
        Relation(schema="t_partcols", identifier="missing")
    ) == []
    assert spark.table(two.render()).count() == 12


def _restart(spark, adapter, *rels):
    """Drop ``rels`` from the session catalog, as a new process would
    not have them, and restore them with a fresh adapter."""
    from sparkt.adapter import SparkAdapter

    for rel in rels:
        spark.sql(f"DROP TABLE {rel.render()}")
    return SparkAdapter(spark, adapter.warehouse_dir)


def _rows(spark, rel):
    df = spark.table(rel.render())
    return df.dtypes, sorted(df.collect())


def test_restore_keeps_declared_partition_types(make_project, spark):
    """A restarted process re-creates a partitioned table with its
    declared column types: a digit-string partition column keeps its
    leading zero and a boolean one stays boolean. A catalog.json entry
    without a recorded column list (an older catalog) still restores,
    its types inferred from the files."""
    import json
    import os

    runner = _runner(make_project, "t_restore")
    a = runner.adapter
    rel = Relation(schema="t_restore", identifier="zips")
    a.create_table_as(
        rel,
        select_sql="select id, lpad(cast(id % 3 as string), 5, '0') as zip, "
        "id % 2 = 0 as flag from range(12)",
        partition_by=["zip", "flag"],
    )
    legacy_loc = os.path.join(a.warehouse_dir, "legacy_parquet")
    spark.range(6).selectExpr("id", "id % 2 as p").write.partitionBy(
        "p").parquet(legacy_loc)
    legacy = Relation(schema="t_restore", identifier="legacy")
    with open(os.path.join(a.warehouse_dir, "catalog.json")) as f:
        catalog = json.load(f)
    catalog["t_restore.legacy"] = {
        "kind": "table", "location": legacy_loc, "partitioned": True,
        "bucket_by": None, "buckets": None, "sort_by": None,
        "schema_ddl": None,
    }
    with open(os.path.join(a.warehouse_dir, "catalog.json"), "w") as f:
        json.dump(catalog, f)
    before = _rows(spark, rel)
    assert dict(before[0]) == {"id": "bigint", "zip": "string",
                               "flag": "boolean"}
    assert {r.zip for r in before[1]} == {"00000", "00001", "00002"}

    _restart(spark, a, rel)
    assert _rows(spark, rel) == before
    assert a.partition_columns(rel) == ["zip", "flag"]
    assert sorted(spark.table(legacy.render()).collect()) == sorted(
        spark.read.parquet(legacy_loc).collect())
    assert a.partition_columns(legacy) == ["p"]


def test_partition_names_that_need_quoting(make_project, spark):
    """Partition columns named ``sp ace`` and ``order`` (reserved) work
    from SQL and from a DataFrame, and after a restore. A DataFrame
    write leaves no temp view behind, also when it fails."""
    import pytest
    from pyspark.errors import AnalysisException

    runner = _runner(make_project, "t_quote")
    a = runner.adapter
    src = "select id, id % 2 as `sp ace`, id % 3 as `order` from range(12)"
    by_sql = Relation(schema="t_quote", identifier="by_sql")
    by_df = Relation(schema="t_quote", identifier="by_df")
    a.create_table_as(by_sql, select_sql=src, partition_by=["sp ace", "order"])
    a.create_table_as(by_df, df=spark.sql(src), partition_by=["sp ace", "order"])
    with pytest.raises(AnalysisException):
        a.create_table_as(
            Relation(schema="t_quote", identifier="bad"),
            df=spark.sql(src), partition_by=["missing"],
        )
    assert not [
        t.name for t in spark.catalog.listTables()
        if t.name.startswith("__sparkt_df_")
    ]
    before = [_rows(spark, rel) for rel in (by_sql, by_df)]
    assert before[0] == before[1]
    assert len(before[0][1]) == 12
    _restart(spark, a, by_sql, by_df)
    for rel, rows in zip((by_sql, by_df), before):
        assert _rows(spark, rel) == rows
        assert a.partition_columns(rel) == ["sp ace", "order"]


def _bucket_spec(spark, rel) -> dict:
    rows = spark.sql(f"DESCRIBE TABLE EXTENDED {rel.render()}").collect()
    keys = ("Num Buckets", "Bucket Columns", "Sort Columns")
    return {r.col_name: r.data_type for r in rows if r.col_name in keys}


def test_bucketed_partitioned_dataframe_write_keeps_bucket_spec(
    make_project, spark
):
    """A DataFrame written with bucket_by, sort_by and partition_by keeps
    its bucket spec and partition column, after the write and after a
    restore."""
    runner = _runner(make_project, "t_bucket")
    a = runner.adapter
    rel = Relation(schema="t_bucket", identifier="b")
    df = spark.range(40).selectExpr(
        "id", "id % 5 as k", "cast(id % 2 as string) as p"
    )
    a.create_table_as(
        rel, df=df, partition_by=["p"], bucket_by=["k"], buckets=4,
        sort_by=["id"],
    )
    spec = {"Num Buckets": "4", "Bucket Columns": "[`k`]",
            "Sort Columns": "[`id`]"}
    assert _bucket_spec(spark, rel) == spec
    assert a.partition_columns(rel) == ["p"]
    before = _rows(spark, rel)
    assert len(before[1]) == 40
    _restart(spark, a, rel)
    assert _bucket_spec(spark, rel) == spec
    assert a.partition_columns(rel) == ["p"]
    assert _rows(spark, rel) == before


def test_partitioned_ctas_keeps_statement_endings(make_project, spark):
    """The partitioned CTAS wraps the select in a subquery; a trailing
    `;`, `-- comment` or both, legal after the bare select, must stay
    legal, and a `;` or `--` inside a literal must stay in it."""
    runner = _runner(make_project, "t_ends")
    a = runner.adapter
    tails = (
        ("semi", ";\n"), ("comment", " -- last line"),
        ("semi_comment", " ; -- end"), ("semi_block", "; /* end */ ;"),
    )
    for name, tail in tails:
        rel = Relation(schema="t_ends", identifier=name)
        a.create_table_as(
            rel,
            select_sql="select id, id % 3 as p, 'a;--b' as `s;--` "
            f"from range(6){tail}",
            partition_by=["p"],
        )
        rows = spark.table(rel.render()).collect()
        assert len(rows) == 6
        assert {r["s;--"] for r in rows} == {"a;--b"}


def _files_per_partition(location: str) -> dict[str, list[str]]:
    """partition dir -> its parquet data files."""
    import os

    return {
        d: sorted(f for f in os.listdir(os.path.join(location, d))
                  if f.startswith("part-"))
        for d in os.listdir(location) if "=" in d
    }


def test_partitioned_ctas_keeps_select_order(make_project, spark):
    """A select ordered by (partition col, x) writes each partition's
    file in that order: the write is not re-shuffled."""
    import os

    runner = _runner(make_project, "t_order")
    a = runner.adapter
    rel = Relation(schema="t_order", identifier="ordered")
    a.create_table_as(
        rel, select_sql="select id, id % 3 as p from range(300) "
        "order by p, id desc",
        partition_by=["p"],
    )
    loc = a._catalog["t_order.ordered"]["location"]
    for d, names in _files_per_partition(loc).items():
        for name in names:
            ids = [r.id for r in spark.read.parquet(
                os.path.join(loc, d, name)).collect()]
            assert ids == sorted(ids, reverse=True), (d, name)


def test_large_partitioned_write_keeps_spark_shape(make_project, spark):
    """Only a write whose size estimate fits in one AQE advisory
    partition gets one writer task per partition value; above it the
    scan's tasks each write their own file per partition, as Spark
    plans it."""
    runner = _runner(make_project, "t_large")
    a = runner.adapter
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    before = spark.conf.get(key)
    src = "select id, id % 3 as p from range(600)"
    small = Relation(schema="t_large", identifier="small")
    large = Relation(schema="t_large", identifier="large")
    a.create_table_as(small, select_sql=src, partition_by=["p"])
    spark.conf.set(key, "1b")  # every write is now "large"
    try:
        a.create_table_as(large, select_sql=src, partition_by=["p"])
    finally:
        spark.conf.set(key, before)
    per_dir = {
        rel.identifier: {
            len(v) for v in _files_per_partition(
                a._catalog[f"t_large.{rel.identifier}"]["location"]
            ).values()
        }
        for rel in (small, large)
    }
    assert per_dir["small"] == {1}
    # range(600) scans in defaultParallelism tasks, each writing to
    # every partition
    assert per_dir["large"] == {spark.sparkContext.defaultParallelism}
    assert spark.table(large.render()).count() == 600


def test_failing_insert_overwrite_fails_as_its_statement(make_project, spark):
    """A select that fails analysis fails as the INSERT OVERWRITE
    statement, with its SQLQuery event and an ERROR status."""
    from types import SimpleNamespace

    import pytest
    from pyspark.errors import AnalysisException

    runner = _runner(make_project, "t_iofail")
    a = runner.adapter
    rel = Relation(schema="t_iofail", identifier="t")
    a.create_table_as(
        rel, select_sql="select id, id % 2 as p from range(4)",
        partition_by=["p"],
    )
    fired = []
    events, a.events = getattr(a, "events", None), SimpleNamespace(
        fire=fired.append)
    try:
        with pytest.raises(AnalysisException):
            a.insert_overwrite(rel, "select nope, 1 as p from range(4)")
    finally:
        a.events = events
    assert [(e.CODE, getattr(e, "status", None)) for e in fired] == [
        ("E016", None), ("E017", "ERROR")]
    assert "nope" in fired[0].sql


def _read_jobs(spark, table: str) -> int:
    """Spark jobs started by one filtered count of ``table``."""
    sc = spark.sparkContext
    group = f"read-{table}"
    sc.setJobGroup(group, group)
    try:
        spark.sql(f"select count(*) from {table} where id is null").collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_fresh_partitioned_table_listed_on_driver(make_project, spark):
    """The first read after overwriting a 40-partition table (more than
    Spark's default parallel-listing threshold of 32 directories) starts
    no listing job: it runs as many jobs as the same read of a
    1-partition table."""
    runner = _runner(make_project, "t_listing")
    a = runner.adapter
    wide = Relation(schema="t_listing", identifier="wide")
    narrow = Relation(schema="t_listing", identifier="narrow")
    src = "select id, id % {n} as p from range(400)"
    for rel, n in ((wide, 40), (narrow, 1)):
        a.create_table_as(rel, select_sql=src.format(n=n), partition_by=["p"])
        a.insert_overwrite(rel, src.format(n=n))
    assert spark.table(wide.render()).select("p").distinct().count() == 40
    a.insert_overwrite(wide, src.format(n=40))  # fresh listing again
    assert _read_jobs(spark, wide.render()) == _read_jobs(
        spark, narrow.render())


def test_optimize_table_via_run_operation(make_project, spark):
    """Macro path: {% do adapter.optimize_table('schema.table') %}."""
    files = {
        "dbt_project.yml": "name: surf\nmodel-paths: [models]\nmacro-paths: [macros]\n",
        "models/base.sql": "{{ config(materialized='table') }}\nselect 1 as id",
        "macros/maint.sql": (
            "{% macro compact_base() %}"
            "{% do adapter.optimize_table(schema ~ '.base') %}"
            "{% endmacro %}"
        ),
    }
    runner = make_project(files, schema="t_opt4")
    assert runner.run().ok
    runner.run_operation("compact_base")
    assert spark.table("`t_opt4`.`base`").count() == 1


def test_catalog_replay_out_of_order_views(spark, tmp_path):
    """Durable-catalog replay must not drop a view whose parent appears
    LATER in catalog.json (selective re-runs re-insert recreated
    relations at the end, breaking insertion-order dependencies).
    Regression: fixpoint replay, only no-progress entries are stale."""
    import json
    import os

    from sparkt.adapter import SparkAdapter

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    spark.sql("DROP DATABASE IF EXISTS t_replay CASCADE")
    # child listed BEFORE the parent it selects from + one truly stale
    with open(os.path.join(wh, "catalog.json"), "w") as f:
        json.dump({
            "t_replay.child_v": {
                "kind": "view",
                "sql": "select id from t_replay.parent_v",
            },
            "t_replay.stale_v": {
                "kind": "view",
                "sql": "select x from t_replay.never_exists",
            },
            "t_replay.parent_v": {"kind": "view", "sql": "select 1 as id"},
        }, f)
    adapter = SparkAdapter(spark, wh)
    assert spark.sql("select * from t_replay.child_v").count() == 1
    assert "t_replay.parent_v" in adapter._catalog
    assert "t_replay.child_v" in adapter._catalog
    assert "t_replay.stale_v" not in adapter._catalog


def test_catalog_replay_drops_entries_of_unknown_kind(spark, tmp_path):
    """An entry of a kind the restore cannot replay (a delta clone
    recorded by an older version) is stale: it leaves the in-memory
    catalog and catalog.json, and the entries around it restore."""
    import json
    import os

    from sparkt.adapter import SparkAdapter

    wh = str(tmp_path / "wh")
    os.makedirs(wh)
    spark.sql("DROP DATABASE IF EXISTS t_kinds CASCADE")
    path = os.path.join(wh, "catalog.json")
    with open(path, "w") as f:
        json.dump({
            "t_kinds.cloned": {"kind": "clone", "cloned_from": "prod.t"},
            "t_kinds.v": {"kind": "view", "sql": "select 1 as id"},
        }, f)
    adapter = SparkAdapter(spark, wh)
    assert list(adapter._catalog) == ["t_kinds.v"]
    with open(path) as f:
        assert list(json.load(f)) == ["t_kinds.v"]
    assert spark.table("t_kinds.v").count() == 1


def test_catalog_replay_retries_table_whose_partition_recovery_fails(
    spark, tmp_path
):
    """A restored partitioned table whose RECOVER PARTITIONS step raises
    must not stay registered: left in place it counts as restored on
    the next fixpoint round and scans 0 rows. The entry is retried and
    finally dropped as stale; the table's files stay on disk."""
    import os

    from sparkt.adapter import SparkAdapter
    from sparkt.relation import Relation

    wh = str(tmp_path / "wh")
    spark.sql("DROP DATABASE IF EXISTS t_recover CASCADE")
    adapter = SparkAdapter(spark, wh)
    part = Relation(schema="t_recover", identifier="part_t")
    flat = Relation(schema="t_recover", identifier="flat_t")
    adapter.create_table_as(
        part, select_sql="select 1 as id, 'a' as k union all "
        "select 2, 'b'", partition_by=["k"],
    )
    adapter.create_table_as(flat, select_sql="select 1 as id")
    location = adapter._catalog["t_recover.part_t"]["location"]
    spark.sql("DROP TABLE t_recover.part_t")
    spark.sql("DROP TABLE t_recover.flat_t")

    class NoRecover:
        """Session whose partition recovery always fails."""

        def __init__(self, inner):
            self._inner = inner

        def sql(self, text, *args, **kwargs):
            if "RECOVER PARTITIONS" in text:
                raise RuntimeError("recover failed")
            return self._inner.sql(text, *args, **kwargs)

        def __getattr__(self, name):
            return getattr(self._inner, name)

    restored = SparkAdapter(NoRecover(spark), wh)
    assert not restored.relation_exists(part)
    assert "t_recover.part_t" not in restored._catalog
    # the unpartitioned entry restored normally
    assert restored.relation_exists(flat)
    assert spark.table("t_recover.flat_t").count() == 1
    assert os.listdir(location)


def test_reserved_word_relation_roundtrip(make_project, spark):
    """A model named 'order' (reserved word) creates, is FOUND by the
    quoted catalog probe, and rebuilds on the second run (r12 adapter
    review #1 — the unquoted getTable probe made relation_exists
    always False, so run 2 crashed on the rename)."""
    files = {
        "dbt_project.yml": "name: rsv\nmodel-paths: [models]\n",
        "models/order.sql": (
            "{{ config(materialized='table') }}\nselect 1 as id"
        ),
    }
    runner = make_project(files, schema="t_rsv")
    assert runner.run().ok
    assert runner.run().ok  # second run exercises exists+swap
    assert spark.table("t_rsv.`order`").count() == 1
    assert runner.adapter.relation_exists(
        runner.compiler.relation_for(
            runner.manifest.nodes["model.rsv.order"]
        )
    )


def test_ns_repair_partitioned_dir_and_reserved_column(
    make_project, spark, tmp_path
):
    """ns-timestamp repair finds data files in hive-partitioned
    layouts (review #4) and quotes reserved-word columns (review #2);
    the footer cache refreshes when the file changes (review #5)."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from sparkt.relation import Relation
    from sparkt.sources import ns_timestamp_columns

    d = tmp_path / "src" / "day=2020-01-01"
    d.mkdir(parents=True)
    t = pa.table({
        "order": pa.array([1_700_000_000_000_000_000], pa.timestamp("ns")),
        "v": pa.array([1]),
    })
    pq.write_table(t, d / "part-0.parquet")
    src = str(tmp_path / "src")
    assert ns_timestamp_columns(src) == ("order",)

    runner = make_project(
        {"dbt_project.yml": "name: nsr\nmodel-paths: [models]\n"},
        schema="t_nsr",
    )
    rel = Relation(schema="t_nsr", identifier="ns_src")
    # recursiveFileLookup rides through to the __raw table (review #8
    # — the ns path used to drop user OPTIONS)
    runner.adapter.register_external_table(
        rel, src, fmt="parquet",
        options={"recursiveFileLookup": "true"},
    )
    row = spark.table("t_nsr.ns_src").first()
    assert str(row["order"]).startswith("2023-11-14")

    # cache refresh: rewrite the file without the ns column
    pq.write_table(
        pa.table({"v": pa.array([2])}), d / "part-0.parquet"
    )
    assert ns_timestamp_columns(src) == ()


def test_csv_dir_source_freshness_metadata(make_project, spark, tmp_path):
    """metadata_max_loaded_at counts any data file, so csv/json
    directory sources report freshness (review #9)."""
    from sparkt.relation import Relation

    d = tmp_path / "csvsrc"
    d.mkdir()
    (d / "part1.csv").write_text("id,v\n1,2\n")
    runner = make_project(
        {"dbt_project.yml": "name: csf\nmodel-paths: [models]\n"},
        schema="t_csf",
    )
    rel = Relation(schema="t_csf", identifier="csv_src")
    runner.adapter.register_external_table(rel, str(d), fmt="csv")
    assert runner.adapter.metadata_max_loaded_at(rel) is not None


def test_nonfetch_select_actually_executes(make_project, spark):
    """execute(SELECT..., fetch=False) runs the query (review #6):
    a validating SELECT raise_error must RAISE, not silently pass."""
    import pytest as _pytest

    runner = make_project(
        {"dbt_project.yml": "name: act\nmodel-paths: [models]\n"},
        schema="t_act",
    )
    with _pytest.raises(Exception, match="boom"):
        runner.adapter.execute(
            "SELECT assert_true(false, 'boom')", fetch=False
        )
