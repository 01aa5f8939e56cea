"""scripts/span_timeline.py over a synthetic span file."""

from __future__ import annotations

import json
import os
import subprocess
import sys

SCRIPT = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "scripts", "span_timeline.py",
)


def test_span_timeline_orders_nodes_and_names_last(tmp_path):
    # id, parent, trace, name, start, end, thread, attrs
    spans = [
        [1, None, 3, "materializations.table", 10.0, 10.5, 111,
         {"uid": "model.p.a"}],
        [2, None, 3, "materializations.incremental", 10.2, 11.7, 222,
         {"uid": "model.p.agg"}],
        [3, 1, 3, "adapter.create_table_as", 10.1, 10.4, 111, None],
        [4, None, 5, "materializations.test", 20.0, 29.0, 111,
         {"uid": "test.p.other_iteration"}],
    ]
    path = tmp_path / "spans.jsonl"
    path.write_text("".join(json.dumps(s) + "\n" for s in spans))
    out = subprocess.run(
        [sys.executable, SCRIPT, str(path), "3"],
        capture_output=True, text=True, check=True,
    ).stdout
    lines = out.splitlines()
    rows = [ln for ln in lines if "model." in ln and "finished" not in ln]
    assert [r.split()[-1] for r in rows] == ["model.p.a", "model.p.agg"]
    assert rows[0].split()[:3] == ["0.000", "0.500", "0"]
    assert rows[1].split()[:4] == ["0.200", "1.500", "1", "incremental"]
    assert "other_iteration" not in out
    assert lines[-1] == "finished last: model.p.agg at 1.700 s"
