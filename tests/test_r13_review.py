"""Round-13 review campaign (VERDICT r12 ask #4): path-targeted review
of deps.py / docs.py / state.py / events.py — every
behavioral fix pinned here (selector fqn/path parity has its own file,
tests/test_selector_parity.py)."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


# ------------------------------------------------------------- deps.py
def test_partial_semver_versions_zero_fill():
    """`version: 1.2` reaches parse_specs as '1.2' (YAML float) and
    '>=1' is a legal dbt matcher — both previously raised 'invalid
    semver version'."""
    from sparkt.deps import Version, parse_specs, resolve_version

    assert Version.parse("1.2") == Version(1, 2, 0)
    assert Version.parse("2") == Version(2, 0, 0)
    specs = parse_specs(">=1")
    assert resolve_version(specs, ["0.9.0", "1.4.2", "1.10.0"]) == "1.10.0"
    # YAML float form
    assert resolve_version(parse_specs(1.2), ["1.1.0", "1.2.3"]) == "1.2.3"


def test_install_prerelease_flag_admits_prereleases():
    """reference RegistryPackage.install_prerelease: prereleases are
    installable only when the entry opts in (or a spec names one)."""
    from sparkt.deps import parse_specs, resolve_version

    avail = ["1.0.0", "1.1.0-b1"]
    specs = parse_specs(">=1.0.0")
    assert resolve_version(specs, avail) == "1.0.0"
    assert (
        resolve_version(specs, avail, install_prerelease=True) == "1.1.0-b1"
    )


def test_resolve_registry_packages_honors_install_prerelease(tmp_path):
    """End-to-end through the local registry: the entry flag reaches
    the resolver."""
    import json
    import tarfile

    from sparkt.deps import LocalRegistry, resolve_registry_packages

    api = tmp_path / "api" / "v1" / "org"
    api.mkdir(parents=True)
    # one tarball reused by both versions (content irrelevant here)
    pkgdir = tmp_path / "pkgsrc"
    pkgdir.mkdir()
    (pkgdir / "dbt_project.yml").write_text("name: demo_pkg\n")
    tb = tmp_path / "demo.tar.gz"
    with tarfile.open(tb, "w:gz") as tf:
        tf.add(pkgdir, arcname="demo_pkg")
    (api / "demo.json").write_text(json.dumps({
        "versions": {
            "1.0.0": {"downloads": {"tarball": str(tb)}},
            "1.1.0-rc1": {"downloads": {"tarball": str(tb)}},
        }
    }))
    reg = LocalRegistry(str(tmp_path))
    stable = resolve_registry_packages(
        [{"package": "org/demo", "version": ">=1.0.0"}], reg
    )
    assert stable[0].version == "1.0.0"
    pre = resolve_registry_packages(
        [{"package": "org/demo", "version": ">=1.0.0",
          "install-prerelease": True}], reg
    )
    assert pre[0].version == "1.1.0-rc1"


# ------------------------------------------------------------- docs.py
def test_docs_index_escapes_column_names(tmp_path):
    """Column names are user data rendered into a shareable HTML file —
    they must go through textContent, never innerHTML interpolation."""
    from sparkt.docs import _INDEX_HTML, write_static_index

    assert "td1.textContent=name" in _INDEX_HTML
    assert "${name}" not in _INDEX_HTML
    # static index inlines artifacts and must neutralize '</script>'
    (tmp_path / "manifest.json").write_text('{"k": "</script><b>x"}')
    (tmp_path / "catalog.json").write_text("{}")
    out = write_static_index(str(tmp_path))
    body = open(out).read()
    assert "</script><b>x" not in body


# ------------------------------------------------------------ state.py
def _write_state(tmp_path, manifest):
    import json

    d = tmp_path / "prev"
    d.mkdir(exist_ok=True)
    (d / "manifest.json").write_text(json.dumps(manifest.to_dict()))
    return str(d)


@pytest.fixture()
def state_proj(tmp_path):
    from sparkt.parsing.parser import ManifestLoader
    from sparkt.project import load_project

    root = tmp_path / "proj"
    (root / "models").mkdir(parents=True)
    (root / "dbt_project.yml").write_text("name: stproj\n")
    (root / "models" / "m1.sql").write_text("select 1 as id")
    (root / "models" / "sources.yml").write_text(
        "version: 2\nsources:\n- name: ext\n  tables:\n"
        "  - name: t1\n    description: first\n"
    )

    def load():
        project = load_project(str(root))
        return ManifestLoader(project).load(partial=False)

    return root, load


def test_state_modified_covers_sources(state_proj, tmp_path):
    """reference StateSelectorMethod walks all_nodes incl. sources
    (SourceDefinition.same_contents) — a changed source description
    must select the source under state:modified."""
    from sparkt.state import StateManifest, modified_nodes

    root, load = state_proj
    m1 = load()
    state = StateManifest(_write_state(tmp_path, m1))
    assert modified_nodes(m1, state) == set()
    (root / "models" / "sources.yml").write_text(
        "version: 2\nsources:\n- name: ext\n  tables:\n"
        "  - name: t1\n    description: CHANGED\n"
    )
    m2 = load()
    changed = modified_nodes(m2, state)
    assert any(uid.startswith("source.") for uid in changed)


def test_state_old_and_invalid_sub(state_proj, tmp_path):
    from sparkt.exceptions import SelectorError
    from sparkt.graph.linker import link_graph
    from sparkt.graph.selector import select_nodes
    from sparkt.state import StateManifest, modified_nodes

    root, load = state_proj
    m1 = load()
    state = StateManifest(_write_state(tmp_path, m1))
    (root / "models" / "m_new.sql").write_text("select 2 as id")
    m2 = load()
    graph = link_graph(m2, add_test_edges=True)
    old = select_nodes(graph, m2, "state:old", state=state)
    new = select_nodes(graph, m2, "state:new", state=state)
    assert "model.stproj.m_new" in new and "model.stproj.m_new" not in old
    assert "model.stproj.m1" in old
    # invalid sub raises (reference: 'Got an invalid selector')
    with pytest.raises(SelectorError):
        modified_nodes(m2, state, sub="bogus")
    with pytest.raises(SelectorError):
        select_nodes(graph, m2, "state:nonsense", state=state)


def test_state_modified_persisted_descriptions(state_proj, tmp_path):
    from sparkt.state import StateManifest, modified_nodes

    root, load = state_proj
    (root / "models" / "m1.yml").write_text(
        "version: 2\nmodels:\n- name: m1\n  description: one\n"
    )
    m1 = load()
    state = StateManifest(_write_state(tmp_path, m1))
    assert modified_nodes(m1, state, sub="persisted_descriptions") == set()
    (root / "models" / "m1.yml").write_text(
        "version: 2\nmodels:\n- name: m1\n  description: CHANGED\n"
    )
    m2 = load()
    got = modified_nodes(m2, state, sub="persisted_descriptions")
    assert "model.stproj.m1" in got
    # body is unchanged, so modified.body must NOT select it
    assert "model.stproj.m1" not in modified_nodes(m2, state, sub="body")


# ----------------------------------------------------------- events.py
def test_warn_error_options_exclusive_aliases():
    """reference exclusive_primary_alt_value_setting: include/error and
    exclude/warn are exclusive pairs — both set must raise, not
    silently prefer one."""
    from sparkt.events import WarnErrorOptions

    ok = WarnErrorOptions.from_yaml('{"error": ["X"]}')
    assert ok.includes("X")
    with pytest.raises(ValueError):
        WarnErrorOptions.from_yaml('{"include": "all", "error": ["X"]}')
    with pytest.raises(ValueError):
        WarnErrorOptions.from_yaml('{"exclude": ["A"], "warn": ["B"]}')

