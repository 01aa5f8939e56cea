"""state:modified / defer / clone / retry / docs / partial parsing /
materialized_view (reference: graph/selector_methods.py:609-787,
task/clone.py, task/retry.py, task/docs/generate.py,
parser/partial.py)."""

from __future__ import annotations

import os
import time

FILES = {
    "dbt_project.yml": "name: st\nmodel-paths: [models]\nseed-paths: [seeds]\n",
    "seeds/raw.csv": "id,v\n1,10\n2,20\n",
    "models/a.sql": "select * from {{ ref('raw') }}",
    "models/b.sql": "{{ config(materialized='table') }}\nselect sum(v) as s from {{ ref('a') }}",
}

# The published dbt JSON schemas, from a dbt-core checkout named
# ``reference`` beside this repository. When it is absent, the artifact
# tests check only the constraints the writers cite (required keys,
# ``additionalProperties: false``).
PUBLISHED_SCHEMAS = os.path.join(
    os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))),
    "reference", "schemas", "dbt",
)
# run-results v5 RunResultOutput (sparkt/runner.py RunResult.to_dict)
RUN_RESULT_V5_KEYS = {
    "status", "timing", "thread_id", "execution_time", "adapter_response",
    "message", "failures", "unique_id", "compiled", "compiled_code",
    "relation_name",
}
# sources v3 SourceFreshnessOutput (sparkt/runner.py source_freshness)
SOURCE_FRESHNESS_V3_KEYS = {
    "unique_id", "max_loaded_at", "snapshotted_at",
    "max_loaded_at_time_ago_in_s", "status", "criteria", "adapter_response",
    "timing", "thread_id", "execution_time",
}


def _validate_published(artifact: dict, schema_path: str) -> None:
    """Full JSON-schema validation of ``artifact`` against a published
    dbt schema (``schema_path`` relative to ``PUBLISHED_SCHEMAS``); a
    no-op when the published schemas are not available."""
    if not os.path.isdir(PUBLISHED_SCHEMAS):
        return
    import json

    import jsonschema

    with open(os.path.join(PUBLISHED_SCHEMAS, schema_path)) as f:
        jsonschema.validate(artifact, json.load(f))


def test_state_modified_and_defer(make_project, spark, tmp_path):
    runner = make_project(FILES, schema="t_state")
    assert runner.seed().ok
    assert runner.run().ok
    state_dir = str(tmp_path / "prod_state")
    os.makedirs(state_dir)
    import shutil

    shutil.copy(
        os.path.join(runner.project.target_dir, "manifest.json"),
        os.path.join(state_dir, "manifest.json"),
    )

    # modify model b only
    with open(os.path.join(runner.project.project_root, "models/b.sql"), "w") as f:
        f.write(
            "{{ config(materialized='table') }}\n"
            "select sum(v) + 1 as s from {{ ref('a') }}"
        )
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_state"},
    )
    from sparkt.graph.linker import link_graph
    from sparkt.graph.selector import select_nodes
    from sparkt.state import StateManifest

    sm = StateManifest(state_dir)
    g = link_graph(runner2.manifest)
    modified = select_nodes(g, runner2.manifest, "state:modified", state=sm)
    assert {u.split(".")[-1] for u in modified} == {"b"}

    res = runner2.execute_nodes(
        which="run", select="state:modified", state=state_dir
    )
    assert res.ok
    assert [r.unique_id for r in res.results] == ["model.st.b"]
    assert spark.table("t_state.b").first()["s"] == 31

    # defer: run modified model in a NEW schema; ref('a') must resolve
    # to the state manifest's relation since dev schema lacks it
    runner3 = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_state_dev"},
    )
    res = runner3.execute_nodes(
        which="run", select="b", state=state_dir, defer=True
    )
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_state_dev.b").first()["s"] == 31
    assert not spark.catalog.tableExists("t_state_dev.a")


def test_state_modified_unit_tests(make_project, spark, tmp_path):
    """Unit tests serialize into manifest v12's top-level 'unit_tests'
    (no checksum field); state:modified must compare them by definition
    fingerprint, not report every unit test as new/modified forever
    (ADVICE r4)."""
    import shutil

    ut_yaml = """
unit_tests:
  - name: ut_b_sum
    model: b
    given:
      - input: ref('a')
        rows:
          - {id: 1, v: 1}
          - {id: 2, v: 2}
    expect:
      rows:
        - {s: 3}
"""
    files = dict(FILES)
    files["models/units.yml"] = ut_yaml
    runner = make_project(files, schema="t_state_ut")
    assert runner.seed().ok and runner.build().ok
    state_dir = str(tmp_path / "prod_state")
    os.makedirs(state_dir)
    shutil.copy(
        os.path.join(runner.project.target_dir, "manifest.json"),
        os.path.join(state_dir, "manifest.json"),
    )
    from sparkt.graph.linker import link_graph
    from sparkt.graph.selector import select_nodes
    from sparkt.runner import Runner
    from sparkt.state import StateManifest

    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_state_ut"})
    sm = StateManifest(state_dir)
    g = link_graph(runner2.manifest)
    # untouched project: nothing modified, nothing new — in particular
    # not the unit test
    assert select_nodes(g, runner2.manifest, "state:modified", state=sm) == set()
    assert select_nodes(g, runner2.manifest, "state:new", state=sm) == set()

    # change only the expected rows → exactly the unit test is modified
    with open(os.path.join(runner.project.project_root, "models/units.yml"), "w") as f:
        f.write(ut_yaml.replace("{s: 3}", "{s: 4}"))
    runner3 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_state_ut"})
    g3 = link_graph(runner3.manifest)
    modified = select_nodes(g3, runner3.manifest, "state:modified", state=sm)
    assert {u.split(".")[-1] for u in modified} == {"ut_b_sum"}


def test_clone(make_project, spark, tmp_path):
    runner = make_project(FILES, schema="t_clone_src")
    assert runner.seed().ok
    assert runner.run().ok
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    import shutil

    shutil.copy(
        os.path.join(runner.project.target_dir, "manifest.json"),
        os.path.join(state_dir, "manifest.json"),
    )
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_clone_dst"},
    )
    cloned = runner2.clone(state=state_dir, select="b")
    assert cloned == ["t_clone_dst.b"]
    assert spark.table("t_clone_dst.b").first()["s"] == 30


def test_clone_of_delta_configured_model_copies_with_ctas(
    make_project, spark, tmp_path
):
    """A model's file_format is not read: a delta-configured table
    clones through the same CTAS copy as any other, and the copy is a
    plain table entry that the catalog restore can re-create."""
    files = dict(FILES)
    files["models/b.sql"] = (
        "{{ config(materialized='table', file_format='delta') }}\n"
        "select sum(v) as s from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_clone_dsrc")
    assert runner.seed().ok
    assert runner.run().ok
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    import shutil

    shutil.copy(
        os.path.join(runner.project.target_dir, "manifest.json"),
        os.path.join(state_dir, "manifest.json"),
    )
    from sparkt.runner import Runner

    runner2 = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_clone_ddst"},
    )
    cloned = runner2.clone(state=state_dir, select="b")
    assert cloned == ["t_clone_ddst.b"]
    assert spark.table("t_clone_ddst.b").first()["s"] == 30
    assert runner2.adapter._catalog["t_clone_ddst.b"]["kind"] == "table"


def test_retry(make_project, spark):
    files = dict(FILES)
    files["models/c.sql"] = (
        "select {{ 'broken_col' if var('break_it', true) else '1' }} as x "
        "from {{ ref('b') }}"
    )
    runner = make_project(files, schema="t_retry")
    assert runner.seed().ok
    res = runner.build()
    assert not res.ok
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_it": False},
        project_overrides={"schema": "t_retry"},
    )
    res2 = fixed.retry()
    # only the previously failed node reruns
    assert [r.unique_id for r in res2.results] == ["model.st.c"]
    assert res2.ok, [r.message for r in res2.results]
    # nothing left to retry
    res3 = fixed.retry()
    assert res3.results == []


def test_retry_from_state_dir(make_project, spark, tmp_path):
    """retry --state replays the prior run_results.json from the state
    dir, not the live target dir (reference core/dbt/task/retry.py)."""
    import shutil

    files = dict(FILES)
    files["models/c.sql"] = (
        "select {{ 'broken_col' if var('break_it', true) else '1' }} as x "
        "from {{ ref('b') }}"
    )
    runner = make_project(files, schema="t_retry_state")
    assert runner.seed().ok
    assert not runner.build().ok
    state_dir = str(tmp_path / "prior_target")
    shutil.copytree(runner.project.target_dir, state_dir)
    # wipe the live run_results: only --state knows what failed
    os.remove(os.path.join(runner.project.target_dir, "run_results.json"))
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_it": False},
        project_overrides={"schema": "t_retry_state"},
    )
    res = fixed.retry(state=state_dir)
    assert [r.unique_id for r in res.results] == ["model.st.c"]
    assert res.ok, [r.message for r in res.results]


def test_retry_replays_original_task_type(make_project, spark):
    """retry must replay the ORIGINAL command (reference retry.py
    restores the prior task class from run_results args) — a failed
    `run` retried as `build` would add test edges and execute tests the
    first invocation never ran (ADVICE r4)."""
    files = dict(FILES)
    files["models/c.sql"] = (
        "select {{ 'broken_col' if var('break_it', true) else '1' }} as x "
        "from {{ ref('b') }}"
    )
    runner = make_project(files, schema="t_retry_which")
    assert runner.seed().ok
    res = runner.run()
    assert not res.ok and res.args["which"] == "run"
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_it": False},
        project_overrides={"schema": "t_retry_which"},
    )
    res2 = fixed.retry()
    assert res2.ok and [r.unique_id for r in res2.results] == ["model.st.c"]
    # the replay recorded the original task type, not 'build'
    assert res2.args["which"] == "run"


def test_retry_ignores_default_selector(make_project, spark):
    """A selectors.yml entry marked default:true must not intersect the
    retry uid set (ADVICE r3: failed nodes outside the default selector
    were silently dropped, reporting a clean empty retry)."""
    files = dict(FILES)
    files["models/c.sql"] = (
        "select {{ 'broken_col' if var('break_it', true) else '1' }} as x "
        "from {{ ref('b') }}"
    )
    # default selector covers only model a — c is outside it
    files["selectors.yml"] = (
        "selectors:\n"
        "  - name: just_a\n"
        "    default: true\n"
        "    definition:\n"
        "      method: fqn\n"
        "      value: a\n"
    )
    runner = make_project(files, schema="t_retry_defsel")
    assert runner.seed().ok
    # build everything explicitly (bypass the default selector)
    res = runner.build(select="+c")
    assert not res.ok
    from sparkt.runner import Runner

    fixed = Runner(
        runner.project.project_root, spark=spark,
        cli_vars={"break_it": False},
        project_overrides={"schema": "t_retry_defsel"},
    )
    res2 = fixed.retry()
    assert [r.unique_id for r in res2.results] == ["model.st.c"]
    assert res2.ok, [r.message for r in res2.results]


def test_docs_generate(make_project, spark):
    runner = make_project(FILES, schema="t_docs")
    assert runner.seed().ok
    assert runner.run().ok
    cat = runner.docs_generate()
    assert "model.st.b" in cat["nodes"]
    cols = cat["nodes"]["model.st.b"]["columns"]
    assert "s" in cols
    # table-materialized nodes carry REAL adapter stats (the Spark
    # bytes/rows convention): b is `select sum(v)...` -> exactly 1 row
    stats = cat["nodes"]["model.st.b"]["stats"]
    assert stats["has_stats"]["value"] is True
    assert stats["rows"]["value"] == 1
    assert stats["bytes"]["value"] > 0
    assert os.path.exists(
        os.path.join(runner.project.target_dir, "catalog.json")
    )


def test_partial_parsing_cache(make_project, spark):
    runner = make_project(FILES, schema="t_pp")
    cache = os.path.join(runner.project.target_dir, "partial_parse.pickle")
    assert os.path.exists(cache)
    from sparkt.parsing.parser import ManifestLoader

    t0 = time.time()
    loader = ManifestLoader(runner.project)
    m = loader.load(partial=True)
    warm = time.time() - t0
    assert set(m.nodes) == set(runner.manifest.nodes)
    assert warm < 1.0
    # invalidation on file change
    with open(os.path.join(runner.project.project_root, "models/a.sql"), "a") as f:
        f.write("\n-- touched")
    loader2 = ManifestLoader(runner.project)
    m2 = loader2.load(partial=True)
    assert m2.nodes["model.st.a"].raw_code.endswith("-- touched")


def test_materialized_view(make_project, spark):
    files = dict(FILES)
    files["models/mv.sql"] = (
        "{{ config(materialized='materialized_view', "
        "on_configuration_change='apply') }}\n"
        "select count(*) as n from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_mv")
    assert runner.seed().ok
    assert runner.run().ok
    assert spark.table("t_mv.mv").first()["n"] == 2
    assert runner.run().ok  # re-apply (refresh) works


def test_contract_enforcement(make_project, spark):
    files = dict(FILES)
    files["models/contracted.sql"] = (
        "{{ config(materialized='table', contract={'enforced': True}) }}\n"
        "select id, cast(v as bigint) as v from {{ ref('raw') }}"
    )
    files["models/contract.yml"] = """
version: 2
models:
  - name: contracted
    columns:
      - {name: id, data_type: int}
      - {name: v, data_type: bigint}
"""
    runner = make_project(files, schema="t_contract")
    assert runner.seed().ok
    res = runner.run(select="contracted")
    assert res.ok, [r.message for r in res.results]

    # violate: declared bigint, actual string
    import os

    with open(os.path.join(runner.project.project_root,
                           "models/contracted.sql"), "w") as f:
        f.write(
            "{{ config(materialized='table', contract={'enforced': True}) }}\n"
            "select id, cast(v as string) as v from {{ ref('raw') }}"
        )
    from sparkt.runner import Runner

    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_contract"})
    res2 = runner2.run(select="contracted")
    assert not res2.ok
    assert "contract violation" in res2.results[0].message


def test_artifacts_validate_against_published_schemas(make_project, spark):
    """manifest.json / run_results.json / catalog.json keep the shape of
    the reference's published JSON schemas (manifest/v12, run-results/v5,
    catalog/v1) so external dbt tooling can consume them: the required,
    closed key sets always, and full validation when the published
    schemas are present."""
    import json

    files = dict(FILES)
    files["models/schema.yml"] = (
        "version: 2\n"
        "models:\n"
        "  - name: b\n"
        "    description: summed\n"
        "    columns:\n"
        "      - name: s\n"
        "        data_type: bigint\n"
        "        tests: [not_null]\n"
        "unit_tests:\n"
        "  - name: ut_b\n"
        "    model: b\n"
        "    given:\n"
        "      - input: ref('a')\n"
        "        rows:\n"
        "          - {id: 1, v: 5}\n"
        "    expect:\n"
        "      rows:\n"
        "        - {s: 5}\n"
    )
    files["models/sources.yml"] = (
        "version: 2\n"
        "sources:\n"
        "  - name: raw_src\n"
        "    tables:\n"
        "      - name: orders\n"
        "        external: {location: /root/testdata/sf0.001/orders.parquet}\n"
    )
    runner = make_project(files, schema="t_schema_val")
    assert runner.seed().ok
    assert runner.build().ok

    tgt = runner.project.target_dir
    with open(os.path.join(tgt, "manifest.json")) as f:
        manifest = json.load(f)
    with open(os.path.join(tgt, "run_results.json")) as f:
        rr = json.load(f)

    assert manifest["metadata"]["dbt_schema_version"].endswith(
        "/manifest/v12.json")
    assert rr["results"]
    for result in rr["results"]:  # all 11 required, nothing else
        assert set(result) == RUN_RESULT_V5_KEYS, result["unique_id"]
    _validate_published(manifest, "manifest/v12.json")
    _validate_published(rr, "run-results/v5.json")
    # catalog v1 as well (all four published artifact schemas)
    runner.docs_generate()
    with open(os.path.join(tgt, "catalog.json")) as f:
        catalog = json.load(f)
    assert catalog["nodes"] and catalog["sources"]
    for table in [*catalog["nodes"].values(), *catalog["sources"].values()]:
        assert set(table) == {"metadata", "columns", "stats", "unique_id"}
        assert set(table["metadata"]) == {
            "type", "schema", "name", "database", "comment", "owner"}
        for col in table["columns"].values():
            assert set(col) == {"type", "index", "name", "comment"}
    _validate_published(catalog, "catalog/v1.json")
    # the artifact still carries what state:modified/defer need
    assert manifest["nodes"]["model.st.b"]["checksum"]["checksum"]
    assert manifest["unit_tests"]["unit_test.st.ut_b"]["model"] == "b"
    assert manifest["sources"]["source.raw_src.orders"]["source_name"] == "raw_src"


def test_source_status_fresher(make_project, spark, tmp_path):
    """source_status:fresher selects only sources whose CURRENT
    max_loaded_at advanced past the previous run's (reference
    SourceStatusSelectorMethod) — not every source that merely passes
    its freshness thresholds."""
    import json
    import shutil

    src_a = tmp_path / "src_a.parquet"
    src_b = tmp_path / "src_b.parquet"
    spark.createDataFrame([(1, 10)], ["id", "v"]).write.parquet(str(src_a))
    spark.createDataFrame([(1, 20)], ["id", "v"]).write.parquet(str(src_b))
    files = {
        "dbt_project.yml": "name: fr\nmodel-paths: [models]\n",
        "models/sources.yml": f"""
version: 2
sources:
  - name: raw
    tables:
      - name: alpha
        external: {{location: {src_a}}}
        freshness: {{warn_after: {{count: 9999, period: day}}}}
      - name: beta
        external: {{location: {src_b}}}
        freshness: {{warn_after: {{count: 9999, period: day}}}}
""",
        "models/down_a.sql": "select * from {{ source('raw', 'alpha') }}",
    }
    runner = make_project(files, schema="t_fresher")
    res1 = runner.source_freshness()
    assert {r["status"] for r in res1} == {"pass"}
    assert all(r["max_loaded_at"] for r in res1)
    # the artifact keeps the published sources v3 shape
    with open(os.path.join(runner.project.target_dir, "sources.json")) as f:
        sources_artifact = json.load(f)
    for result in sources_artifact["results"]:  # all 10 required, no extras
        assert set(result) == SOURCE_FRESHNESS_V3_KEYS, result["unique_id"]
    _validate_published(sources_artifact, "sources/v3.json")
    state_dir = str(tmp_path / "state")
    os.makedirs(state_dir)
    shutil.copy(
        os.path.join(runner.project.target_dir, "sources.json"),
        os.path.join(state_dir, "sources.json"),
    )
    runner.manifest.write(os.path.join(state_dir, "manifest.json"))

    # only alpha gets newer data
    time.sleep(1.1)
    spark.createDataFrame([(2, 11)], ["id", "v"]).write.mode("append").parquet(str(src_a))
    runner.source_freshness()

    from sparkt.graph.linker import link_graph
    from sparkt.graph.selector import select_nodes
    from sparkt.state import StateManifest

    sm = StateManifest(state_dir)
    with open(os.path.join(runner.project.target_dir, "sources.json")) as f:
        sm.freshness_current = json.load(f)["results"]
    g = link_graph(runner.manifest)
    fresher = select_nodes(g, runner.manifest, "source_status:fresher", state=sm)
    assert fresher == {"source.raw.alpha"}
    # both still merely 'pass' — fresher is strictly narrower
    both = select_nodes(g, runner.manifest, "source_status:pass", state=sm)
    assert both == {"source.raw.alpha", "source.raw.beta"}

    # runner wiring: fresher+ builds only alpha's descendant
    res = runner.execute_nodes(
        which="run", select="source_status:fresher+", state=state_dir
    )
    assert [r.unique_id for r in res.results] == ["model.fr.down_a"]


def test_favor_state(make_project, spark, tmp_path):
    """--favor-state (providers.py:559): unselected refs defer to the
    state relation EVEN IF a local build exists; without it, an
    existing local relation wins."""
    import shutil

    runner = make_project(FILES, schema="t_favor_prod")
    assert runner.seed().ok
    assert runner.run().ok  # prod: a, b built (sum=30)
    state_dir = str(tmp_path / "prod_state")
    os.makedirs(state_dir)
    shutil.copy(
        os.path.join(runner.project.target_dir, "manifest.json"),
        os.path.join(state_dir, "manifest.json"),
    )

    # dev schema gets a STALE local 'a' (one row only)
    from sparkt.runner import Runner

    dev = Runner(
        runner.project.project_root, spark=spark,
        project_overrides={"schema": "t_favor_dev"},
    )
    spark.sql("CREATE DATABASE IF NOT EXISTS t_favor_dev")
    dev.adapter.execute(
        "CREATE OR REPLACE VIEW t_favor_dev.a AS SELECT 1 AS id, 5 AS v"
    )

    # plain defer: local dev.a exists -> b reads the stale local (5)
    res = dev.execute_nodes(which="run", select="b", state=state_dir,
                            defer=True)
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_favor_dev.b").first()["s"] == 5

    # favor_state: unselected 'a' defers to prod even though dev.a
    # exists -> b reads prod (30)
    res = dev.execute_nodes(which="run", select="b", state=state_dir,
                            defer=True, favor_state=True)
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_favor_dev.b").first()["s"] == 30


def test_constraint_enforcement_data_level(make_project, spark):
    """Constraints on a contract-enforced model are verified against
    the DATA before write (reference column-level constraints,
    tests/functional/adapter/constraints/fixtures.py:275-281):
    passing data builds; a NULL in a not_null column, a check
    violation, or a primary_key duplicate each abort the node with
    nothing replaced."""
    import os

    yml = """
version: 2
models:
  - name: strict
    constraints:
      - type: check
        expression: v < 1000
    columns:
      - name: id
        data_type: int
        constraints:
          - {type: not_null}
          - {type: primary_key}
          - {type: check, expression: id > 0}
      - name: v
        data_type: bigint
"""
    files = dict(FILES)
    files["models/strict.sql"] = (
        "{{ config(materialized='table', contract={'enforced': True}) }}\n"
        "select cast(id as int) as id, cast(v as bigint) as v "
        "from {{ ref('raw') }}"
    )
    files["models/strict.yml"] = yml
    runner = make_project(files, schema="t_cons")
    assert runner.seed().ok
    res = runner.run(select="strict")
    assert res.ok, [r.message for r in res.results]
    assert spark.table("t_cons.strict").count() == 2

    from sparkt.runner import Runner

    def rerun_with(sql_body):
        with open(os.path.join(runner.project.project_root,
                               "models/strict.sql"), "w") as f:
            f.write(
                "{{ config(materialized='table', "
                "contract={'enforced': True}) }}\n" + sql_body
            )
        r = Runner(runner.project.project_root, spark=spark,
                   project_overrides={"schema": "t_cons"})
        return r.run(select="strict")

    # not_null violation
    res = rerun_with(
        "select cast(if(id = 2, null, id) as int) as id, "
        "cast(v as bigint) as v from {{ ref('raw') }}"
    )
    assert not res.ok and "not_null(id)" in res.results[0].message
    # check violation (column-level)
    res = rerun_with(
        "select cast(-id as int) as id, cast(v as bigint) as v "
        "from {{ ref('raw') }}"
    )
    assert not res.ok and "check(id" in res.results[0].message
    # primary_key duplicate
    res = rerun_with(
        "select cast(1 as int) as id, cast(v as bigint) as v "
        "from {{ ref('raw') }}"
    )
    assert not res.ok and "primary_key(id)" in res.results[0].message
    # model-level check violation
    res = rerun_with(
        "select cast(id as int) as id, cast(v * 1000 as bigint) as v "
        "from {{ ref('raw') }}"
    )
    assert not res.ok and "check(model" in res.results[0].message
    # table untouched by the four failed builds
    assert spark.table("t_cons.strict").count() == 2


def test_primary_key_inference(make_project, spark):
    """manifest primary_key mirrors the reference's inference order
    (nodes.py:483-530; tests/functional/primary_keys): constraints
    first, then unique+not_null tests, then unique-only."""
    import json
    import os

    files = dict(FILES)
    files["models/pk_constraint.sql"] = "select 1 as id"
    files["models/pk_tests.sql"] = "select 1 as id, 2 as other"
    files["models/pk_unique_only.sql"] = "select 1 as id"
    files["models/pk_none.sql"] = "select 1 as id"
    files["models/pks.yml"] = """
version: 2
models:
  - name: pk_constraint
    columns:
      - name: id
        constraints:
          - {type: primary_key}
  - name: pk_tests
    columns:
      - name: id
        data_tests: [unique, not_null]
      - name: other
        data_tests: [not_null]
  - name: pk_unique_only
    columns:
      - name: id
        data_tests: [unique]
  - name: pk_none
"""
    runner = make_project(files, schema="t_pk")
    runner.parse_only() if hasattr(runner, "parse_only") else runner.compile()
    m = json.load(open(os.path.join(
        runner.project.target_dir, "manifest.json")))
    pk = {k.split(".")[-1]: v.get("primary_key")
          for k, v in m["nodes"].items() if v["resource_type"] == "model"}
    assert pk["pk_constraint"] == ["id"]
    assert pk["pk_tests"] == ["id"]  # unique AND not_null beats not_null-only
    assert pk["pk_unique_only"] == ["id"]
    assert pk["pk_none"] == []


def test_model_level_primary_key_constraint_enforced(make_project, spark):
    """Model-level multi-column primary_key constraints are DATA-
    enforced on contract models (review finding: only model-level
    'check' was verified; dup (a,b) tuples passed)."""
    files = {
        "dbt_project.yml": "name: pkc\nmodel-paths: [models]\n",
        "models/dup_pk.sql": (
            "{{ config(materialized='table', "
            "contract={'enforced': true}, "
            "constraints=[{'type': 'primary_key', "
            "'columns': ['a', 'b']}]) }}\n"
            "select a, b from (select 1 as a, 2 as b "
            "union all select 1, 2 union all select 3, 4)"
        ),
        "models/schema.yml": """
version: 2
models:
  - name: dup_pk
    columns:
      - {name: a, data_type: int}
      - {name: b, data_type: int}
""",
    }
    runner = make_project(files, schema="t_pkc")
    res = runner.run()
    assert not res.ok
    assert "primary_key" in res.results[0].message


def test_materialized_view_policy_survives_process_restart(
    make_project, spark
):
    """on_configuration_change is honored via a definition hash stored
    in the durable catalog entry, so a FRESH Runner (new process in real use)
    still detects the drift (r12 core review #6 — the old in-process
    dict forgot the definition at exit, silently rebuilding under
    'fail')."""
    import os

    from sparkt.runner import Runner

    files = dict(FILES)
    files["models/mvp.sql"] = (
        "{{ config(materialized='materialized_view', "
        "on_configuration_change='fail') }}\n"
        "select count(*) as n from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_mvp")
    assert runner.seed().ok
    assert runner.run().ok

    # change the definition, then run from a brand-new Runner (module
    # state plays no part — the hash comes from catalog.json)
    with open(os.path.join(runner.project.project_root,
                           "models/mvp.sql"), "w") as f:
        f.write(
            "{{ config(materialized='materialized_view', "
            "on_configuration_change='fail') }}\n"
            "select count(*) + 1 as n from {{ ref('a') }}"
        )
    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_mvp"})
    res = runner2.run(select="mvp")
    failed = next(r for r in res.results if "mvp" in r.unique_id)
    assert failed.status == "error"
    assert "on_configuration_change" in str(failed.message)
    # and the stored MV was NOT rebuilt
    assert spark.table("t_mvp.mvp").first()["n"] == 2


def test_materialized_view_policy_survives_catalog_restore(
    make_project, spark
):
    """Process-restart simulation (second-opinion review #2): the MV
    definition hash lives in the DURABLE catalog.json, because the
    restore path recreates tables WITHOUT TBLPROPERTIES. Drop the
    in-memory table, let a fresh Runner restore it from catalog.json,
    and the 'fail' policy must still detect the drift."""
    import os

    from sparkt.runner import Runner

    files = dict(FILES)
    files["models/mvr.sql"] = (
        "{{ config(materialized='materialized_view', "
        "on_configuration_change='fail') }}\n"
        "select count(*) as n from {{ ref('a') }}"
    )
    runner = make_project(files, schema="t_mvr")
    assert runner.seed().ok
    assert runner.run().ok

    # simulate a process restart: wipe the IN-MEMORY catalog entry;
    # the durable catalog.json (which carries no TBLPROPERTIES on
    # restore) is what the next Runner rebuilds from
    spark.sql("DROP TABLE t_mvr.mvr")
    with open(os.path.join(runner.project.project_root,
                           "models/mvr.sql"), "w") as f:
        f.write(
            "{{ config(materialized='materialized_view', "
            "on_configuration_change='fail') }}\n"
            "select count(*) + 1 as n from {{ ref('a') }}"
        )
    runner2 = Runner(runner.project.project_root, spark=spark,
                     project_overrides={"schema": "t_mvr"})
    res = runner2.run(select="mvr")
    failed = next(r for r in res.results if "mvr" in r.unique_id)
    assert failed.status == "error", failed.message
    assert "on_configuration_change" in str(failed.message)
