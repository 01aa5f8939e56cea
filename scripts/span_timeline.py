"""Print one traced benchmark iteration as a timeline of its nodes.

Usage::

    python scripts/span_timeline.py <spans.jsonl> [trace_id]

Reads the span file a traced ``perfbench/run.py --trace 1`` run writes
(one JSON list per line: id, parent id, trace id, name, start, end,
thread, attrs) and prints, for the given iteration (default: the first
one in the file), every ``materializations.*`` span in start order with
its start offset from the iteration's first span, its duration, a small
thread number and the node's unique_id, then the node that finished
last. On a DAG build that last node is the end of the critical path.
"""

from __future__ import annotations

import json
import sys


def load(path: str) -> list[list]:
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def timeline(spans: list[list], trace_id: int | None = None) -> str:
    """The printed report for one iteration of ``spans``."""
    if trace_id is None:
        trace_id = min(s[2] for s in spans)
    it = [s for s in spans if s[2] == trace_id]
    if not it:
        raise SystemExit(f"no spans with trace id {trace_id}")
    t0 = min(s[4] for s in it)
    nodes = sorted(
        (s for s in it if s[3].startswith("materializations.")),
        key=lambda s: s[4],
    )
    threads: dict[int, int] = {}
    lines = [f"trace {trace_id}: {len(nodes)} node spans, "
             f"iteration span {max(s[5] for s in it) - t0:.3f} s",
             f"{'start_s':>8} {'dur_s':>7} {'thr':>3}  kind        uid"]
    for s in nodes:
        thr = threads.setdefault(s[6], len(threads))
        kind = s[3].split(".", 1)[1]
        uid = (s[7] or {}).get("uid", "?")
        lines.append(f"{s[4] - t0:8.3f} {s[5] - s[4]:7.3f} {thr:3d}  "
                     f"{kind:<11} {uid}")
    if nodes:
        last = max(nodes, key=lambda s: s[5])
        lines.append(f"finished last: {(last[7] or {}).get('uid', '?')} "
                     f"at {last[5] - t0:.3f} s")
    return "\n".join(lines)


def main(argv: list[str]) -> None:
    if not 1 <= len(argv) <= 2:
        raise SystemExit(__doc__)
    trace_id = int(argv[1]) if len(argv) == 2 else None
    print(timeline(load(argv[0]), trace_id))


if __name__ == "__main__":
    main(sys.argv[1:])
