# Round workflow checks (VERDICT r5 ask #6: the off-SF oracle sweep is
# a STANDING check — the t2/q26 scale-robustness fixes, commit 712d76e,
# came out of exactly this sweep catching oracle fragility that a
# single scale factor hides).
#
#   make verify      - everything below (the pre-round-end gate)
#   make test        - pytest suite
#   make oracles     - full registry vs DuckDB under driver conf,
#                      sf0.01 and sf0.1, PLUS an sf0.001 drift sweep
#                      (no budgets — that SF has no recorded times;
#                      VERDICT r8 ask #4: off-SF sweeps have been the
#                      highest-yield bug-finder here)
#   make plan-lint   - forbidden-physical-plan scan
#   make bench       - headline suite at sf0.1 (one JSON line)
#   make perfbench   - the performance measure (BENCHMARK.json): its
#                      own tests, then both workloads once at seed 1
#   make trace       - one traced warehouse_daily run, then the node
#                      timeline of its first traced iteration

PY ?= python

.PHONY: verify test oracles plan-lint bench perfbench trace rotation

# run at round start, right after the driver writes CORRECTNESS_r*.json
# (check_oracles refuses to sweep while ROTATION.json is stale);
# `make rotation RESET="gate_a gate_b"` forces gates whose path changed
# to the front of the run order
rotation:
	$(PY) scripts/update_rotation.py $(if $(RESET),--reset $(RESET))

verify: test oracles plan-lint

test:
	$(PY) -m pytest tests/ -q

oracles:
	$(PY) scripts/check_oracles.py --driver-conf /root/testdata/sf0.01
	$(PY) scripts/check_oracles.py --driver-conf /root/testdata/sf0.1
	$(PY) scripts/check_oracles.py --driver-conf --no-budget /root/testdata/sf0.001

plan-lint:
	$(PY) scripts/plan_lint.py

bench:
	$(PY) bench.py

perfbench:
	$(PY) -m pytest perfbench -q
	$(PY) perfbench/run.py --workload warehouse_daily --seed 1 --seconds 36 --trace 0
	$(PY) perfbench/run.py --workload pipeline_ops --seed 1 --seconds 36 --trace 0

trace:
	$(PY) perfbench/run.py --workload warehouse_daily --seed 1 --seconds 36 --trace 1
	$(PY) scripts/span_timeline.py .perfbench/runs/warehouse_daily-seed1.spans.jsonl
