"""Record/replay support bundle (reference ``tests/functional/record/``
+ dbt-common record engine): capture a run's warehouse interactions to
JSONL, replay the invocation warehouse-free, diff run_results."""

from __future__ import annotations

import os

import pytest

FILES = {
    "dbt_project.yml": "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n",
    "seeds/raw.csv": "id,v\n1,10\n2,20\n",
    "models/a.sql": "select * from {{ ref('raw') }}",
    "models/b.sql": (
        "{{ config(materialized='table') }}\n"
        "select sum(v) as s from {{ ref('a') }}"
    ),
    "models/c.sql": (
        "{{ config(materialized='incremental') }}\n"
        "select * from {{ ref('b') }}"
    ),
}


def test_record_then_replay_warehouse_free(make_project, spark, tmp_path):
    """A recorded `run` replays with NO SparkSession: every adapter
    response is served from the bundle, statuses match the original,
    and the recording is fully consumed (the reference engine's
    replay-diff contract)."""
    rec = str(tmp_path / "recording.jsonl")
    runner = make_project(FILES, schema="t_rr")
    assert runner.seed().ok

    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr"}, record=rec,
    )
    res = recording.run()
    assert res.ok, [r.message for r in res.results]
    assert os.path.getsize(rec) > 0
    baseline = {r.unique_id: r.status for r in res.results}

    # replay: spark=None proves no session is created or touched — any
    # warehouse access would AttributeError on None
    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr"}, replay=rec,
    )
    assert replaying.spark is None
    res2 = replaying.run()
    assert {r.unique_id: r.status for r in res2.results} == baseline
    assert res2.ok
    # the replay consumed the full recording — a leftover call is a
    # divergence (something the original did that the replay skipped)
    assert replaying.adapter.remaining() == 0

    # SECOND invocation: model c now takes the INCREMENTAL path, whose
    # schema discovery goes through the adapter (DESCRIBE QUERY) — the
    # whole SQL incremental flow must replay too
    rec2 = str(tmp_path / "recording2.jsonl")
    recording2 = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr"}, record=rec2,
    )
    res3 = recording2.run()
    assert res3.ok
    inc = next(r for r in res3.results if r.unique_id == "model.rr.c")
    assert "INSERT INTO" in inc.message  # the incremental append path
    replaying2 = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr"}, replay=rec2,
    )
    res4 = replaying2.run()
    assert {r.unique_id: r.status for r in res4.results} == {
        r.unique_id: r.status for r in res3.results
    }
    assert res4.ok and replaying2.adapter.remaining() == 0


def test_replay_divergence_raises(make_project, spark, tmp_path):
    """A replayed invocation whose compiled SQL differs from the
    recording fails loudly (ReplayMismatch), never silently invents
    results."""
    rec = str(tmp_path / "recording.jsonl")
    files = dict(FILES)
    files["models/b.sql"] = (
        "{{ config(materialized='table') }}\n"
        "select sum(v) {{ '+ 1' if var('drift', false) else '' }} as s "
        "from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_rr_div")
    assert runner.seed().ok
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_div"}, record=rec,
    )
    assert recording.run().ok

    replaying = Runner(
        runner.project.project_root, spark=None,
        cli_vars={"drift": True},  # compiled SQL now differs
        project_overrides={"schema": "t_rr_div"}, replay=rec,
    )
    res = replaying.run()
    drifted = next(r for r in res.results if r.unique_id == "model.rr.b")
    assert drifted.status == "error"
    assert "replay" in drifted.message and "diverged" in drifted.message


def test_record_env_contract_cli(make_project, spark, tmp_path):
    """DBT_RECORDER_MODE=record + DBT_RECORDER_FILE_PATH (the reference
    dbt-common env contract) produce a bundle through the CLI path."""
    import subprocess
    import sys

    runner = make_project(FILES, schema="t_rr_cli")
    root = runner.project.project_root
    rec = str(tmp_path / "cli_recording.jsonl")
    env = dict(
        os.environ,
        PYTHONPATH="/root/repo",
    )
    # the seed runs in the SAME cross-process world the record run will
    # see (the pytest session's in-memory tables are invisible to a
    # subprocess)
    seed = subprocess.run(
        [sys.executable, "-m", "sparkt", "seed",
         "--project-dir", root],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert seed.returncode == 0, seed.stderr[-2000:]
    env["DBT_RECORDER_MODE"] = "record"
    env["DBT_RECORDER_FILE_PATH"] = rec
    out = subprocess.run(
        [sys.executable, "-m", "sparkt", "run",
         "--project-dir", root],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert os.path.getsize(rec) > 0
    env["DBT_RECORDER_MODE"] = "replay"
    out2 = subprocess.run(
        [sys.executable, "-m", "sparkt", "run",
         "--project-dir", root],
        env=env, capture_output=True, text=True, timeout=300,
    )
    assert out2.returncode == 0, out2.stderr[-2000:]


def test_replay_reproduces_recorded_failure(make_project, spark, tmp_path):
    """A recorded FAILING run replays as the same failure (original
    exception type + message via ReplayedError), not a bogus
    divergence — the primary support-bundle use case."""
    rec = str(tmp_path / "recording.jsonl")
    files = dict(FILES)
    files["models/b.sql"] = (
        "{{ config(materialized='table') }}\n"
        "select no_such_column from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_rr_fail")
    assert runner.seed().ok
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_fail"}, record=rec,
    )
    res = recording.run()
    assert not res.ok
    orig = next(r for r in res.results if r.unique_id == "model.rr.b")
    assert orig.status == "error"

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_fail"}, replay=rec,
    )
    res2 = replaying.run()
    rep = next(r for r in res2.results if r.unique_id == "model.rr.b")
    assert rep.status == "error"
    # the original Spark error class is carried through, and it is NOT
    # a divergence error
    assert "AnalysisException" in rep.message
    assert "diverged" not in rep.message


def test_replay_rows_support_positional_indexing(
    make_project, spark, tmp_path
):
    """jinja run_query consumers index rows positionally
    (r.rows[0][0]); replayed rows must support it like Spark Rows."""
    rec = str(tmp_path / "recording.jsonl")
    files = {
        "dbt_project.yml": "name: rr\nmodel-paths: [models]\n",
        "models/pos.sql": (
            "{% set q = run_query('select 41 + 1 as x') %}"
            "select {{ q.rows[0][0] }} as v"
        ),
    }
    runner = make_project(files, schema="t_rr_pos")
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_pos"}, record=rec,
    )
    assert recording.run().ok
    assert spark.table("t_rr_pos.pos").first()["v"] == 42

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_pos"}, replay=rec,
    )
    res = replaying.run()
    assert res.ok, [r.message for r in res.results]
    assert replaying.adapter.remaining() == 0


def test_replay_covers_tests_and_snapshots(make_project, spark, tmp_path):
    """Data tests are fully adapter-routed and snapshots' schema probe
    goes through DESCRIBE QUERY — both task types replay
    warehouse-free."""
    files = {
        "dbt_project.yml": (
            "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
            "snapshot-paths: [snapshots]\n"
        ),
        "seeds/raw.csv": "id,v\n1,10\n2,20\n",
        "models/a.sql": "select * from {{ ref('raw') }}",
        "models/schema.yml": (
            "version: 2\nmodels:\n  - name: a\n    columns:\n"
            "      - name: id\n        tests: [not_null, unique]\n"
        ),
        "snapshots/snap_a.sql": (
            "{% snapshot snap_a %}\n"
            "{{ config(strategy='check', unique_key='id', "
            "check_cols='all') }}\n"
            "select * from {{ ref('a') }}\n"
            "{% endsnapshot %}\n"
        ),
    }
    runner = make_project(files, schema="t_rr_ts")
    assert runner.seed().ok
    assert runner.run().ok
    from sparkt.runner import Runner

    for which, rec_name in (("test", "t.jsonl"), ("snapshot", "s.jsonl")):
        rec = str(tmp_path / rec_name)
        recording = Runner(
            runner.project.project_root, spark=spark,
            project_overrides={"schema": "t_rr_ts"}, record=rec,
        )
        res = getattr(recording, which)()
        assert res.ok, [r.message for r in res.results]
        replaying = Runner(
            runner.project.project_root, spark=None,
            project_overrides={"schema": "t_rr_ts"}, replay=rec,
        )
        res2 = getattr(replaying, which)()
        assert res2.ok, (which, [r.message for r in res2.results])
        assert {r.unique_id: r.status for r in res2.results} == {
            r.unique_id: r.status for r in res.results
        }
        assert replaying.adapter.remaining() == 0


def test_replay_serves_sql_builders_and_relation_types(
    make_project, spark, tmp_path
):
    """A bundle recorded on an incremental merge run replays: the
    parquet rewrite's statements are served from the recording and
    relation types round-trip (review-found gaps)."""
    rec = str(tmp_path / "recording.jsonl")
    files = {
        "dbt_project.yml": "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/raw.csv": "id,v\n1,10\n2,20\n",
        "models/a.sql": "select * from {{ ref('raw') }}",
        "models/m.sql": (
            "{{ config(materialized='incremental', unique_key='id', "
            "incremental_strategy='merge') }}\n"
            "select id, v from {{ ref('a') }}"
        ),
    }
    runner = make_project(files, schema="t_rr_merge")
    assert runner.seed().ok
    assert runner.run().ok  # first build (CTAS)

    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_merge"}, record=rec,
    )
    res = recording.run()
    assert res.ok, [r.message for r in res.results]
    m = next(r for r in res.results if r.unique_id == "model.rr.m")
    assert "rewrite" in m.message

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_merge"}, replay=rec,
    )
    res2 = replaying.run()
    assert res2.ok, [r.message for r in res2.results]
    m2 = next(r for r in res2.results if r.unique_id == "model.rr.m")
    assert m2.message == m.message
    assert replaying.adapter.remaining() == 0


def test_replay_covers_microbatch(make_project, spark, tmp_path):
    """Microbatch runs replay: window computation, crash-marker
    probes, per-batch compiles and window replaces are all
    adapter-routed, and the recorded batch_ts keeps the batch windows
    identical."""
    rec = str(tmp_path / "recording.jsonl")
    files = {
        "dbt_project.yml": "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n",
        "seeds/ev.csv": (
            "id,ts,v\n1,2024-01-01 10:00:00,5\n2,2024-01-02 12:00:00,7\n"
        ),
        "models/stg.sql": (
            "{{ config(materialized='table', event_time='ts') }}\n"
            "select id, cast(ts as timestamp) as ts, v from {{ ref('ev') }}"
        ),
        "models/mb.sql": (
            "{{ config(materialized='incremental', "
            "incremental_strategy='microbatch', event_time='ts', "
            "batch_size='day', begin='2024-01-01') }}\n"
            "select id, ts, v from {{ ref('stg') }}"
        ),
    }
    runner = make_project(files, schema="t_rr_mb")
    assert runner.seed().ok
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_mb"}, record=rec,
    )
    res = recording.run(event_time_end="2024-01-03 00:00:00")
    assert res.ok, [r.message for r in res.results]
    mb = next(r for r in res.results if "mb" in r.unique_id)
    assert mb.batch_results and len(mb.batch_results["successful"]) == 2

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_mb"}, replay=rec,
    )
    res2 = replaying.run(event_time_end="2024-01-03 00:00:00")
    assert res2.ok, [r.message for r in res2.results]
    mb2 = next(r for r in res2.results if "mb" in r.unique_id)
    assert mb2.batch_results == mb.batch_results
    assert replaying.adapter.remaining() == 0


def test_replay_covers_source_freshness(make_project, spark, tmp_path):
    """source-freshness replays: external-table registration, the
    metadata batch call and loaded_at queries are all adapter-routed."""
    rec = str(tmp_path / "recording.jsonl")
    files = {
        "dbt_project.yml": "name: rr\nmodel-paths: [models]\n",
        "models/sources.yml": (
            "version: 2\n"
            "sources:\n"
            "  - name: raw_src\n"
            "    freshness: {warn_after: {count: 9999999, period: hour}}\n"
            "    loaded_at_field: o_orderdate\n"
            "    tables:\n"
            "      - name: orders\n"
            "        external: {location: /root/testdata/sf0.001/orders.parquet}\n"
        ),
    }
    runner = make_project(files, schema="t_rr_fresh")
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_fresh"}, record=rec,
    )
    res = recording.source_freshness()
    assert res and all(r["status"] == "pass" for r in res)

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_fresh"}, replay=rec,
    )
    res2 = replaying.source_freshness()
    assert [
        (r["unique_id"], r["status"], r["max_loaded_at"]) for r in res2
    ] == [
        (r["unique_id"], r["status"], r["max_loaded_at"]) for r in res
    ]
    assert replaying.adapter.remaining() == 0


def test_replay_covers_seeds_and_python_models(
    make_project, spark, tmp_path
):
    """r6 documented gaps, closed in r7: seeds replay via the recorded
    ``create_seed`` summary (parsed rows, no CSV/session), and a
    table-materialized python model replays via the recorded
    ``python_model_result`` + a key-compatible DataFrame stand-in for
    its CTAS — warehouse-free end to end."""
    files = {
        "dbt_project.yml": (
            "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        ),
        "seeds/nums.csv": "id,v\n1,10\n2,20\n3,30\n",
        "models/py_double.py": (
            "def model(dbt, session):\n"
            "    df = dbt.ref('nums')\n"
            "    return df.selectExpr('id', 'v * 2 as v2')\n"
        ),
    }
    runner = make_project(files, schema="t_rr_pyseed")
    from sparkt.runner import Runner

    rec = str(tmp_path / "recording.jsonl")
    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_pyseed"}, record=rec,
    )
    res_seed = recording.seed()
    assert res_seed.ok
    assert "3 rows" in res_seed.results[0].message
    res_run = recording.run()
    assert res_run.ok, [r.message for r in res_run.results]

    # seed replay: parsed rows served from the bundle
    replay_seed = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_pyseed"}, replay=rec,
    )
    res2 = replay_seed.seed()
    assert res2.ok and "3 rows" in res2.results[0].message

    # python model replay continues from the same bundle (FIFO): no
    # user code re-execution, no session
    res3 = replay_seed.run()
    assert res3.ok, [r.message for r in res3.results]
    py = next(r for r in res3.results if "py_double" in r.unique_id)
    assert "replayed: 3 rows" in py.message
    assert replay_seed.adapter.remaining() == 0


def test_replay_covers_incremental_python_model(
    make_project, spark, tmp_path
):
    """Incremental python models replay too (r7): the recorded
    python_model_source schema drives strategy SQL generation, and the
    merge statements (which reference the temp view by name only)
    serve from the bundle — second-run INSERT/merge path,
    warehouse-free."""
    files = {
        "dbt_project.yml": (
            "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        ),
        "seeds/base.csv": "id,v\n1,10\n2,20\n",
        "models/py_inc.py": (
            "def model(dbt, session):\n"
            "    dbt.config(materialized='incremental', "
            "unique_key='id')\n"
            "    return dbt.ref('base').selectExpr("
            "'id', 'v * 3 as v3')\n"
        ),
    }
    runner = make_project(files, schema="t_rr_pyinc")
    assert runner.seed().ok
    # first run live (creates the table) so the RECORDED run below
    # takes the incremental merge path
    assert runner.run().ok

    from sparkt.runner import Runner

    rec = str(tmp_path / "recording.jsonl")
    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_pyinc"}, record=rec,
    )
    res = recording.run()
    assert res.ok, [r.message for r in res.results]
    inc = next(r for r in res.results if "py_inc" in r.unique_id)
    assert "first run" not in inc.message

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_pyinc"}, replay=rec,
    )
    res2 = replaying.run()
    assert res2.ok, [r.message for r in res2.results]
    assert {r.unique_id: r.status for r in res2.results} == {
        r.unique_id: r.status for r in res.results
    }
    inc2 = next(r for r in res2.results if "py_inc" in r.unique_id)
    assert inc2.message == inc.message
    assert replaying.adapter.remaining() == 0


def test_replay_covers_view_python_model_and_adhoc_sql_df(
    make_project, spark, tmp_path
):
    """r8 documented residuals, closed in r9 (VERDICT r8 #3): a
    jaffle-shaped run whose middle model is a VIEW-materialized
    python model replays warehouse-free (it is table-backed by
    necessity — Spark permanent views need SQL text — and its
    record/replay path mirrors the table python path), and an ad-hoc
    ``sql_df`` recorded during the session is served back as a
    session-free ReplayDataFrame with the recorded rows."""
    files = {
        "dbt_project.yml": (
            "name: rr\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        ),
        "seeds/raw_orders.csv": (
            "order_id,customer,amount\n1,ann,10\n2,bob,25\n3,ann,5\n"
        ),
        "models/stg_orders.sql": (
            "select order_id, customer, amount from {{ ref('raw_orders') }}"
        ),
        "models/py_totals.py": (
            "def model(dbt, session):\n"
            "    dbt.config(materialized='view')\n"
            "    df = dbt.ref('stg_orders')\n"
            "    return df.groupBy('customer').sum('amount')"
            ".withColumnRenamed('sum(amount)', 'total')\n"
        ),
        "models/top_spender.sql": (
            "{{ config(materialized='table') }}\n"
            "select customer, total from {{ ref('py_totals') }} "
            "order by total desc limit 1"
        ),
    }
    runner = make_project(files, schema="t_rr_pyview")
    from sparkt.record import ReplayDataFrame, ReplayMismatch
    from sparkt.runner import Runner

    rec = str(tmp_path / "recording.jsonl")
    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_pyview"}, record=rec,
    )
    assert recording.seed().ok
    res = recording.run()
    assert res.ok, [r.message for r in res.results]
    pv = next(r for r in res.results if "py_totals" in r.unique_id)
    assert pv.message == "CREATE VIEW (python, table-backed)"
    # ad-hoc support-engineer query captured into the same bundle;
    # record mode hands back the LIVE DataFrame
    live = recording.adapter.sql_df(
        "select customer, total from t_rr_pyview.py_totals "
        "order by customer"
    )
    live_rows = [tuple(r) for r in live.collect()]
    assert live_rows == [("ann", 15), ("bob", 25)]

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_pyview"}, replay=rec,
    )
    assert replaying.seed().ok
    res2 = replaying.run()
    assert res2.ok, [r.message for r in res2.results]
    pv2 = next(r for r in res2.results if "py_totals" in r.unique_id)
    assert pv2.message == (
        "CREATE VIEW (python, table-backed, replayed: 2 rows)"
    )
    # the ad-hoc query replays session-free with the recorded rows
    served = replaying.adapter.sql_df(
        "select customer, total from t_rr_pyview.py_totals "
        "order by customer"
    )
    assert isinstance(served, ReplayDataFrame)
    assert served.columns == ["customer", "total"]
    assert served.count() == 2
    assert [tuple(r) for r in served.collect()] == live_rows
    assert served.limit(1).toPandas().to_dict("records") == [
        {"customer": "ann", "total": 15}
    ]
    # transformations are not replayable — fail loudly, not silently
    with pytest.raises(ReplayMismatch):
        served.filter("total > 10")
    # a SECOND, un-recorded ad-hoc query diverges
    with pytest.raises(ReplayMismatch):
        replaying.adapter.sql_df("select 1")
    assert replaying.adapter.remaining() == 0


def test_replay_dataframe_tolerates_attribute_probing():
    """r9 review fix: underscore/dunder probes (IPython display
    machinery, hasattr on internals) get a plain AttributeError;
    only PUBLIC DataFrame API misuse raises the loud ReplayMismatch."""
    from sparkt.record import ReplayDataFrame, ReplayMismatch

    df = ReplayDataFrame([["a", "int"]], [{"a": 1}])
    assert getattr(df, "_repr_html_", None) is None
    assert getattr(
        df, "_ipython_canary_method_should_not_exist_", None
    ) is None
    assert not hasattr(df, "_anything_private")
    with pytest.raises(ReplayMismatch):
        df.filter("a > 0")
    with pytest.raises(ReplayMismatch):
        hasattr(df, "toJSON")  # public-surface probing stays loud


def test_replay_covers_contract_enforced_model(make_project, spark, tmp_path):
    """A contract-enforced model (schema check + not_null constraint)
    records and replays warehouse-free: both checks now route through
    the adapter surface (r12 core review #4 — check_contract's bare
    ctx.spark.sql crashed replay with spark=None)."""
    rec = str(tmp_path / "recording.jsonl")
    files = dict(FILES)
    files["models/b.sql"] = (
        "{{ config(materialized='table', contract={'enforced': true}) }}\n"
        "select cast(sum(v) as bigint) as s from {{ ref('a') }}"
    )
    files["models/schema.yml"] = """
version: 2
models:
  - name: b
    config:
      contract:
        enforced: true
    columns:
      - name: s
        data_type: bigint
        constraints:
          - type: not_null
"""
    runner = make_project(files, schema="t_rr_con")
    assert runner.seed().ok
    from sparkt.runner import Runner

    recording = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_rr_con"}, record=rec,
    )
    res = recording.run()
    assert res.ok, [str(r.message) for r in res.results]

    replaying = Runner(
        runner.project.project_root, spark=None,
        project_overrides={"schema": "t_rr_con"}, replay=rec,
    )
    res2 = replaying.run()
    assert res2.ok, [str(r.message) for r in res2.results]


def test_replay_covers_materialized_view(make_project, spark, tmp_path):
    """A materialized view records and replays warehouse-free: its
    stored definition hash is read and written through the recorded
    relation-meta calls, so replay reproduces both a refresh and the
    on_configuration_change='fail' error after the definition drifts."""
    from sparkt.runner import Runner

    def mv_sql(expr):
        return (
            "{{ config(materialized='materialized_view', "
            "on_configuration_change='fail') }}\n"
            f"select {expr} as n from {{{{ ref('a') }}}}"
        )

    files = dict(FILES)
    files["models/mv.sql"] = mv_sql("count(*)")
    runner = make_project(files, schema="t_rr_mv")
    assert runner.seed().ok
    assert runner.run().ok

    def record_then_replay(rec):
        recording = Runner(
            runner.project.project_root, spark=spark,
            project_overrides={"schema": "t_rr_mv"}, record=rec,
        )
        res = recording.run(select="mv")
        replaying = Runner(
            runner.project.project_root, spark=None,
            project_overrides={"schema": "t_rr_mv"}, replay=rec,
        )
        res2 = replaying.run(select="mv")
        assert replaying.adapter.remaining() == 0
        return res.results[0], res2.results[0]

    # unchanged definition: the stored hash matches and the MV refreshes
    rec, rep = record_then_replay(str(tmp_path / "refresh.jsonl"))
    assert rec.status == rep.status == "success", rep.message
    assert rep.message == rec.message

    # drifted definition under 'fail': the replay raises the same error
    with open(os.path.join(runner.project.project_root,
                           "models/mv.sql"), "w") as f:
        f.write(mv_sql("count(*) + 1"))
    rec, rep = record_then_replay(str(tmp_path / "drift.jsonl"))
    assert rec.status == rep.status == "error"
    assert "on_configuration_change" in str(rep.message)
    assert spark.table("t_rr_mv.mv").first()["n"] == 2
