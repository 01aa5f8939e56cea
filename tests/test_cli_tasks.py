"""CLI tasks: list/ls output formats, clean, init, debug (reference
core/dbt/task/{list,clean,init,debug}.py)."""

from __future__ import annotations

import json
import os

from click.testing import CliRunner

from sparkt.cli import cli
from tests.conftest import write_files

FILES = {
    "dbt_project.yml": (
        "name: cliproj\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        "clean-targets: [target, dbt_packages]\n"
    ),
    "seeds/raw.csv": "id,v\n1,10\n",
    "models/a.sql": "select * from {{ ref('raw') }}",
    "models/b.sql": "{{ config(materialized='table', tags=['mart']) }}\nselect sum(v) as s from {{ ref('a') }}",
    "models/sources.yml": (
        "version: 2\n"
        "sources:\n"
        "  - name: ext\n"
        "    tables:\n"
        "      - name: orders\n"
        "        external: {location: /root/testdata/sf0.001/orders.parquet}\n"
    ),
}


def test_list_output_formats(spark, tmp_path):
    proj = str(tmp_path / "p")
    write_files(proj, FILES)
    r = CliRunner()

    out = r.invoke(cli, ["list", "--project-dir", proj]).output.splitlines()
    assert "cliproj.a" in out and "cliproj.b" in out
    assert "source:cliproj.ext.orders" in out

    out = r.invoke(cli, ["ls", "--project-dir", proj, "--output", "name",
                         "--resource-type", "model"]).output.splitlines()
    assert sorted(out) == ["a", "b"]

    out = r.invoke(cli, ["list", "--project-dir", proj, "--output", "path",
                         "--resource-type", "model"]).output.splitlines()
    # r14: reference original_file_path includes the resource dir
    assert sorted(out) == ["models/a.sql", "models/b.sql"]

    out = r.invoke(cli, ["list", "--project-dir", proj, "--output", "json",
                         "--select", "b"]).output.splitlines()
    d = json.loads(out[0])
    # reference ALLOWED_KEYS field names (core/dbt/task/list.py:42)
    assert d["name"] == "b" and d["resource_type"] == "model"
    assert d["package_name"] == "cliproj"
    assert d["original_file_path"] == "models/b.sql"
    assert d["unique_id"] == "model.cliproj.b"
    assert d["alias"] == "b" and d["tags"] == ["mart"]
    assert d["depends_on"] == {"nodes": ["model.cliproj.a"]}

    # selection composes with list
    out = r.invoke(cli, ["list", "--project-dir", proj, "--select", "+b",
                         "--output", "name"]).output.splitlines()
    assert set(out) >= {"a", "b", "raw"}


def test_clean(tmp_path):
    proj = str(tmp_path / "p")
    write_files(proj, FILES)
    os.makedirs(os.path.join(proj, "target", "compiled"), exist_ok=True)
    os.makedirs(os.path.join(proj, "dbt_packages", "x"), exist_ok=True)
    res = CliRunner().invoke(cli, ["clean", "--project-dir", proj])
    assert res.exit_code == 0, res.output
    assert not os.path.exists(os.path.join(proj, "target"))
    assert not os.path.exists(os.path.join(proj, "dbt_packages"))
    assert os.path.exists(os.path.join(proj, "models"))
    assert "Finished cleaning all paths." in res.output


def test_clean_refuses_source_paths(tmp_path):
    proj = str(tmp_path / "p")
    files = dict(FILES)
    files["dbt_project.yml"] = (
        "name: cliproj\nmodel-paths: [models]\nclean-targets: [models]\n"
    )
    write_files(proj, files)
    res = CliRunner().invoke(cli, ["clean", "--project-dir", proj])
    assert res.exit_code == 2
    assert os.path.exists(os.path.join(proj, "models"))


def test_clean_refuses_paths_outside_project(tmp_path):
    """clean_project_files_only (reference core/dbt/task/clean.py): a
    clean-targets entry of '..', an absolute path, or the project root
    itself must be refused, not rmtree'd."""
    outside = str(tmp_path / "precious")
    os.makedirs(outside)
    for target in ("..", outside, "."):
        proj = str(tmp_path / f"p_{abs(hash(target)) % 1000}")
        files = dict(FILES)
        files["dbt_project.yml"] = (
            f"name: cliproj\nmodel-paths: [models]\nclean-targets: ['{target}']\n"
        )
        write_files(proj, files)
        res = CliRunner().invoke(cli, ["clean", "--project-dir", proj])
        assert res.exit_code == 2, (target, res.output)
        assert "outside project" in res.output
        assert os.path.exists(os.path.join(proj, "models"))
    assert os.path.exists(outside)


def test_init_scaffold(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    res = CliRunner().invoke(cli, ["init", "new_proj"])
    assert res.exit_code == 0, res.output
    assert os.path.exists("new_proj/dbt_project.yml")
    assert os.path.exists("new_proj/models/example/my_first_model.sql")
    assert os.path.exists("new_proj/models/example/schema.yml")
    # scaffold parses
    from sparkt.parsing.parser import ManifestLoader
    from sparkt.project import load_project

    m = ManifestLoader(load_project("new_proj")).load()
    assert "model.new_proj.my_first_model" in m.nodes
    # second init refuses to overwrite
    res2 = CliRunner().invoke(cli, ["init", "new_proj"])
    assert res2.exit_code == 2


def test_debug(spark, tmp_path):
    proj = str(tmp_path / "p")
    write_files(proj, FILES)
    res = CliRunner().invoke(cli, ["debug", "--project-dir", proj])
    assert res.exit_code == 0, res.output
    assert "dbt_project.yml file: [OK" in res.output
    assert "connection test: [OK" in res.output
    assert "All checks passed!" in res.output

    res = CliRunner().invoke(cli, ["debug", "--project-dir", str(tmp_path / "nowhere")])
    assert res.exit_code == 1
    assert "[ERROR]" in res.output


def test_docs_serve_smoke(make_project, spark):
    """docs-serve serves index.html + catalog.json/manifest.json from
    the target dir (reference core/dbt/task/docs/serve.py:28)."""
    import json as _json
    import threading
    import urllib.request

    from sparkt.docs import make_server

    runner = make_project(FILES, schema="t_docs_serve")
    assert runner.seed().ok
    assert runner.run().ok
    runner.docs_generate()

    httpd = make_server(runner.project.target_dir, port=0)
    threading.Thread(target=httpd.serve_forever, daemon=True).start()
    base = f"http://127.0.0.1:{httpd.server_address[1]}"
    try:
        html = urllib.request.urlopen(f"{base}/index.html").read().decode()
        assert "sparkt project docs" in html
        cat = _json.loads(urllib.request.urlopen(f"{base}/catalog.json").read())
        assert any(uid.endswith(".b") for uid in cat["nodes"])
        man = _json.loads(urllib.request.urlopen(f"{base}/manifest.json").read())
        assert "nodes" in man
    finally:
        httpd.shutdown()


def test_fail_fast_and_warn_error(make_project, spark):
    """--fail-fast stops scheduling after the first failure (remaining
    nodes recorded as 'Skipping due to fail_fast', reference
    runnable.py:386); --warn-error promotes warn-severity test results
    to errors (reference cli/flags.py WARN_ERROR)."""
    files = {
        "dbt_project.yml": "name: ff\nmodel-paths: [models]\n",
        # alphabetical within topological level 0: a_bad runs first
        "models/a_bad.sql": "select no_such_column",
        "models/z_ok.sql": "select 1 as v",
    }
    runner = make_project(files, schema="t_failfast")
    res = runner.run(threads=1, fail_fast=True)
    by = {r.unique_id: r for r in res.results}
    assert by["model.ff.a_bad"].status == "error"
    assert by["model.ff.z_ok"].status == "skipped"
    assert by["model.ff.z_ok"].message == "Skipping due to fail_fast"
    # without fail_fast the sibling still runs
    res2 = runner.run(threads=1)
    by2 = {r.unique_id: r for r in res2.results}
    assert by2["model.ff.z_ok"].status == "success"

    warn_files = {
        "dbt_project.yml": "name: we\nmodel-paths: [models]\n",
        "models/m.sql": "select 1 as v union all select 1 as v",
        "models/schema.yml": (
            "version: 2\n"
            "models:\n"
            "  - name: m\n"
            "    columns:\n"
            "      - name: v\n"
            "        tests:\n"
            "          - unique:\n"
            "              config: {severity: warn}\n"
        ),
    }
    import tempfile

    from sparkt.runner import Runner

    warn_dir = tempfile.mkdtemp(prefix="sparkt_warnerr_")
    write_files(warn_dir, warn_files)
    wr = Runner(warn_dir, spark=spark,
                project_overrides={"schema": "t_warnerr"})
    assert wr.build().ok  # warn passes by default
    res3 = wr.build(warn_error=True)
    assert not res3.ok
    warn_res = [r for r in res3.results if r.unique_id.startswith("test.")][0]
    assert warn_res.status == "error"
    assert "[warn-error]" in warn_res.message


def test_env_var_flag_precedence(tmp_path, monkeypatch, spark):
    """DBT_TARGET_PATH and DBT_FAIL_FAST env vars apply when flags are
    absent (reference flags.py: flag > env > default)."""
    proj = str(tmp_path / "p")
    write_files(proj, {
        "dbt_project.yml": "name: envp\nmodel-paths: [models]\n",
        "models/a.sql": "select 1 as v",
    })
    monkeypatch.setenv("DBT_TARGET_PATH", "custom_target")
    from sparkt.project import load_project

    proj_obj = load_project(proj)
    assert proj_obj.target_dir.endswith("custom_target")
    monkeypatch.delenv("DBT_TARGET_PATH")

    # DBT_FAIL_FAST reaches the run command through click's envvar tier
    write_files(proj, {"models/a_bad.sql": "select no_such_column",
                       "models/zz.sql": "select 2 as v"})
    res = CliRunner().invoke(
        cli, ["run", "--project-dir", proj, "--threads", "1"],
        env={"DBT_FAIL_FAST": "1"},
    )
    assert res.exit_code == 1
    # zz would have run without DBT_FAIL_FAST (it has no upstream dep)
    assert "SKIPPED  model.envp.zz" in res.output


def test_profiles_dir_env(tmp_path, monkeypatch):
    """DBT_PROFILES_DIR points at an external profiles.yml that takes
    precedence over the project-root copy (reference profiles_dir)."""
    proj = str(tmp_path / "p")
    write_files(proj, {
        "dbt_project.yml": "name: pd\nmodel-paths: [models]\n",
        "profiles.yml": "target:\n  schema: local_schema\n  threads: 2\n",
    })
    ext = tmp_path / "ext_profiles"
    ext.mkdir()
    (ext / "profiles.yml").write_text(
        "target:\n  schema: env_schema\n  threads: 7\n"
    )
    from sparkt.project import load_project

    assert load_project(proj).schema == "local_schema"
    monkeypatch.setenv("DBT_PROFILES_DIR", str(ext))
    p = load_project(proj)
    assert p.schema == "env_schema" and p.threads == 7


def test_run_results_timing_present(make_project, spark):
    """run_results.json results carry v5 TimingInfo entries."""
    import json as _json

    runner = make_project(dict(FILES), schema="t_timing")
    assert runner.seed().ok
    assert runner.run().ok
    with open(os.path.join(runner.project.target_dir, "run_results.json")) as f:
        rr = _json.load(f)
    for r in rr["results"]:
        assert r["timing"], r["unique_id"]
        t = r["timing"][0]
        assert t["name"] == "execute"
        assert t["started_at"] <= t["completed_at"]


def test_profiles_outputs_and_target(tmp_path, monkeypatch):
    """dbt-shaped profiles.yml: named profile (dbt_project.yml
    `profile:`) with target/outputs; DBT_TARGET (--target/-t) selects
    the output; unknown targets error; the selected name surfaces as
    target_name (reference core/dbt/config/profile.py)."""
    import pytest

    from sparkt.exceptions import ParsingError
    from sparkt.project import load_project

    proj = str(tmp_path / "p")
    write_files(proj, {
        "dbt_project.yml": (
            "name: pt\nprofile: my_warehouse\nmodel-paths: [models]\n"
        ),
        "profiles.yml": """
my_warehouse:
  target: dev
  outputs:
    dev:
      type: spark
      schema: dev_schema
      threads: 2
    prod:
      type: spark
      schema: prod_schema
      threads: 8
""",
    })
    p = load_project(proj)
    assert (p.schema, p.threads, p.target_name) == ("dev_schema", 2, "dev")

    monkeypatch.setenv("DBT_TARGET", "prod")
    p = load_project(proj)
    assert (p.schema, p.threads, p.target_name) == ("prod_schema", 8, "prod")

    monkeypatch.setenv("DBT_TARGET", "nope")
    with pytest.raises(ParsingError, match="target 'nope' not found"):
        load_project(proj)


def test_docs_generate_static(make_project, spark):
    """--static writes a self-contained static_index.html with manifest
    and catalog inlined (reference docs/generate.py:315-331)."""
    import os

    files = {
        "dbt_project.yml": "name: ds\nmodel-paths: [models]\n",
        "models/m.sql": "{{ config(materialized='table') }}\nselect 1 as id",
    }
    runner = make_project(files, schema="t_docstatic")
    assert runner.run().ok
    runner.docs_generate()
    from sparkt.docs import write_static_index

    path = write_static_index(runner.project.target_dir)
    assert os.path.basename(path) == "static_index.html"
    html = open(path).read()
    assert "model.ds.m" in html          # manifest inlined
    assert '"columns"' in html           # catalog inlined
    assert "MANIFEST.JSON INLINE DATA" not in html


def test_docs_generate_empty_catalog(make_project, spark):
    files = {
        "dbt_project.yml": "name: dse\nmodel-paths: [models]\n",
        "models/m.sql": "{{ config(materialized='table') }}\nselect 1 as id",
    }
    runner = make_project(files, schema="t_docsempty")
    assert runner.run().ok
    cat = runner.docs_generate(empty_catalog=True)
    assert cat["nodes"] == {}


def test_flag_batch_version_quiet_resource_types(spark, tmp_path):
    """--version, --quiet, --resource-type/--exclude-resource-type,
    --no-partial-parse, --target-path (reference cli/params.py)."""
    proj = str(tmp_path / "p")
    write_files(proj, FILES)
    r = CliRunner()

    res = r.invoke(cli, ["--version"])
    assert res.exit_code == 0 and res.output.startswith("sparkt ")

    res = r.invoke(cli, ["seed", "--project-dir", proj, "-q"])
    assert res.exit_code == 0
    assert "SUCCESS" not in res.output and "Done." in res.output

    res = r.invoke(cli, [
        "build", "--project-dir", proj, "--resource-type", "model",
    ])
    assert res.exit_code == 0
    assert "model.cliproj.a" in res.output
    assert "seed.cliproj.raw" not in res.output

    res = r.invoke(cli, [
        "build", "--project-dir", proj,
        "--exclude-resource-type", "model",
    ])
    assert res.exit_code == 0
    assert "seed.cliproj.raw" in res.output
    assert "model.cliproj.a" not in res.output

    res = r.invoke(cli, [
        "run", "--project-dir", proj, "--no-partial-parse",
        "--target-path", "t_alt",
    ])
    assert res.exit_code == 0
    assert os.path.exists(os.path.join(proj, "t_alt", "manifest.json"))
    os.environ.pop("DBT_TARGET_PATH", None)


def test_sparkt_runner_programmatic(spark, tmp_path):
    """sparktRunner().invoke(...) — the reference dbtRunner analogue:
    in-process, returns (success, RunResults) instead of exiting."""
    from sparkt.cli import sparktRunner

    proj = str(tmp_path / "pr")
    write_files(proj, FILES)
    r = sparktRunner()
    res = r.invoke(["seed", "--project-dir", proj])
    assert res.success and res.result is not None
    res = r.invoke(["build", "--project-dir", proj])
    assert res.success
    assert {x.status for x in res.result.results} == {"success"}
    # failure surfaces as success=False, result still carried
    import os

    with open(os.path.join(proj, "models", "broken.sql"), "w") as f:
        f.write("select * from {{ ref('a') }} where no_such_col = 1")
    res = r.invoke(["run", "--project-dir", proj])
    assert not res.success
    assert any(x.status == "error" for x in res.result.results)
    # unknown command -> exception captured, no raise
    res = r.invoke(["definitely-not-a-command"])
    assert not res.success


def test_flag_batch_models_alias_store_failures_defer_state(
    spark, tmp_path
):
    """-m alias, --store-failures blanket, --no-write-json,
    --defer-state (separate deferral dir)."""
    import shutil

    from sparkt.runner import Runner

    proj = str(tmp_path / "p2")
    files = dict(FILES)
    files["models/schema.yml"] = """
version: 2
models:
  - name: b
    columns:
      - name: s
        data_tests: [not_null]
"""
    write_files(proj, files)
    r = CliRunner()
    assert r.invoke(cli, ["seed", "--project-dir", proj]).exit_code == 0
    assert r.invoke(cli, ["run", "--project-dir", proj]).exit_code == 0
    res = r.invoke(cli, ["run", "--project-dir", proj, "-m", "b"])
    assert res.exit_code == 0 and "model.cliproj.b" in res.output
    assert "model.cliproj.a" not in res.output  # -m selects only b

    runner = Runner(proj, spark=spark)
    # --store-failures blanket: test has no store_failures config but
    # the audit table appears
    res = runner.test(store_failures=True)
    assert res.ok
    audit = [t.name for t in spark.catalog.listTables(
        runner.project.schema + "_dbt_test__audit")]
    assert "not_null_b_s" in audit

    # --no-write-json: no run_results.json written
    import os

    rrp = os.path.join(runner.project.target_dir, "run_results.json")
    os.remove(rrp)
    assert runner.run(write_json=False).ok
    assert not os.path.exists(rrp)
    assert runner.run().ok
    assert os.path.exists(rrp)

    # --defer-state: deferral resolves from a SEPARATE dir than --state
    state_dir = str(tmp_path / "prodstate")
    shutil.copytree(runner.project.target_dir, state_dir)
    res = runner.run(
        select="b", defer=True, defer_state=state_dir, favor_state=True
    )
    assert res.ok


def test_clean_refuses_ancestor_of_source_path(tmp_path):
    """clean-targets resolving to an ANCESTOR of a source path is
    refused (r12 review: equality-only matching rmtree'd src/ while
    model-paths was src/models)."""
    import os

    from click.testing import CliRunner

    from sparkt.cli import cli

    proj = str(tmp_path / "anc")
    os.makedirs(os.path.join(proj, "src", "models"))
    with open(os.path.join(proj, "dbt_project.yml"), "w") as f:
        f.write(
            "name: anc\nmodel-paths: [src/models]\n"
            "clean-targets: [src]\n"
        )
    with open(os.path.join(proj, "src", "models", "m.sql"), "w") as f:
        f.write("select 1 as id")
    res = CliRunner().invoke(cli, ["clean", "--project-dir", proj])
    assert res.exit_code == 2
    assert "source path" in res.output
    assert os.path.exists(os.path.join(proj, "src", "models", "m.sql"))


def test_ls_unique_id_respects_resource_type(make_project, spark):
    """--output unique_id honors --resource-type (r12 review: it
    printed every node type)."""
    from click.testing import CliRunner

    from sparkt.cli import cli

    files = {
        "dbt_project.yml": (
            "name: lsf\nmodel-paths: [models]\nseed-paths: [seeds]\n"
        ),
        "models/m1.sql": "select 1 as id",
        "seeds/s1.csv": "id\n1\n",
    }
    runner = make_project(files, schema="t_lsf")
    res = CliRunner().invoke(cli, [
        "ls", "--project-dir", runner.project.project_root,
        "--output", "unique_id", "--resource-type", "model",
    ])
    assert res.exit_code == 0, res.output
    lines = [ln for ln in res.output.splitlines() if ln.strip()]
    assert "model.lsf.m1" in lines
    assert all(ln.startswith("model.") for ln in lines), lines


def test_list_selector_output_matches_reference_fqn(spark, tmp_path):
    """r14 review: reference generate_selectors
    (core/dbt/task/list.py:97-128) yields the dot-joined FQN —
    INCLUDING subdirectory segments — for fqn-searched node types, and
    a type-prefixed pkg.name for exposure/metric/semantic_model/
    saved_query/unit_test. The old pkg.name form dropped directories,
    so `ls --output selector | xargs run -s` re-selected the wrong
    subtree for any model in a subdirectory."""
    import json as _json

    from click.testing import CliRunner

    from sparkt.cli import cli

    proj = str(tmp_path / "selout")
    write_files(proj, {
        "dbt_project.yml": "name: selout\nmodel-paths: [models]\n",
        "models/top.sql": "select 1 as id",
        "models/staging/stg_orders.sql": "select 1 as id",
        "models/exposures.yml": (
            "version: 2\n"
            "exposures:\n"
            "  - name: weekly_kpis\n"
            "    type: dashboard\n"
            "    owner: {name: ops}\n"
            "    depends_on: [\"ref('top')\"]\n"
        ),
        "models/units.yml": (
            "version: 2\n"
            "unit_tests:\n"
            "  - name: ut_top\n"
            "    model: top\n"
            "    given: []\n"
            "    expect:\n"
            "      rows:\n"
            "        - {id: 1}\n"
        ),
    })
    out = CliRunner().invoke(
        cli, ["ls", "--project-dir", proj]
    ).output.splitlines()
    assert "selout.top" in out
    assert "selout.staging.stg_orders" in out          # fqn keeps subdir
    assert "selout.stg_orders" not in out
    assert "exposure:selout.weekly_kpis" in out        # type-prefixed
    assert "unit_test:selout.ut_top" in out

    # round-trip: the emitted selector must RE-SELECT exactly its node
    sel = CliRunner().invoke(cli, [
        "ls", "--project-dir", proj, "--select",
        "selout.staging.stg_orders", "--output", "unique_id",
    ]).output.splitlines()
    assert sel == ["model.selout.stg_orders"]

    # json output unchanged by the selector fix
    j = CliRunner().invoke(cli, [
        "ls", "--project-dir", proj, "--output", "json",
        "--select", "staging.stg_orders",
    ]).output.splitlines()
    assert _json.loads(j[0])["unique_id"] == "model.selout.stg_orders"

    # r14 review: yml-defined nodes (exposures, unit tests) carry
    # their defining schema file as path — `ls --output path` printed
    # the literal string 'None' for them before
    paths = CliRunner().invoke(cli, [
        "ls", "--project-dir", proj, "--output", "path",
        "--select", "exposure:weekly_kpis",
    ]).output.splitlines()
    assert paths == ["models/exposures.yml"]
    upaths = CliRunner().invoke(cli, [
        "ls", "--project-dir", proj, "--output", "path",
        "--select", "unit_test:ut_top",
    ]).output.splitlines()
    assert upaths == ["models/units.yml"]


def test_programmatic_ls_returns_listed_lines(spark, tmp_path):
    """r14 review: reference dbtRunner returns ListTask's node_results
    as dbtRunnerResult.result (cli/main.py:500-502); sparktRunner's ls
    previously returned result=None, so programmatic consumers had to
    scrape stdout."""
    from sparkt.cli import sparktRunner

    proj = str(tmp_path / "progls")
    write_files(proj, {
        "dbt_project.yml": "name: progls\nmodel-paths: [models]\n",
        "models/m1.sql": "select 1 as id",
        "models/sub/m2.sql": "select 1 as id",
    })
    res = sparktRunner().invoke(["ls", "--project-dir", proj])
    assert res.success
    assert sorted(res.result) == ["progls.m1", "progls.sub.m2"]
    res2 = sparktRunner().invoke(
        ["ls", "--project-dir", proj, "--output", "unique_id"]
    )
    assert res2.result == ["model.progls.m1", "model.progls.m2"]
