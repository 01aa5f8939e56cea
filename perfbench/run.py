"""perfbench runner: one workload, one seed, one measured window.

Usage (from the repository root):

    python3 perfbench/run.py --workload warehouse_daily --seed 1 \
        --seconds 36 --trace 0

After one cold iteration the run discards a fixed number of warm-up
iterations and measures a fixed number more; ``--seconds`` caps the
time those warm iterations may take. ``--trace 0`` measures the
end-to-end metrics with no tracing installed. ``--trace 1`` measures
twice as many iterations, alternating untraced and traced ones,
reports the per-layer metrics of the traced ones and the tracing
overhead, and writes the spans to ``.perfbench/runs/``. The last line
of stdout is one JSON object:
{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}.
The lines before it print every metric with its unit and sample count,
the output-check verdict and the host contamination counters.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import metrics  # noqa: E402

#: driver heap of the benchmark's SparkSession (inputs are a few MB)
DRIVER_MEM = "1g"


def parse_args(argv=None):
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.seconds <= 0:
        ap.error("--seconds must be positive")
    if args.seed < 0:
        ap.error("--seed must be non-negative")
    return args


def _vm_hwm_mb(pid) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def start_session(work: str, cpus: int):
    """The program's own session factory, pointed at ``work`` for every
    file Spark and Python write."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
    })
    from sparkt.session import get_spark

    spark = get_spark(
        app_name="perfbench", master=f"local[{cpus}]",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            # a fixed heap size keeps the JVM's resident peak from
            # depending on when the heap happened to grow
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEM}",
            "spark.ui.showConsoleProgress": "false",
        })
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the JVM (and with it the Python worker
    daemon it started) to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "sparkt", "__init__.py")):
        print("perfbench: run from a sparkt checkout (no ./sparkt package)",
              file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    import bench  # the repo's passive host-contamination counters
    import spans as tr
    from workloads import WORKLOADS, no_span

    cpus = len(os.sched_getaffinity(0))
    base = os.path.join(root, ".perfbench")
    work = os.path.join(base, "work", f"{args.workload}-{args.seed}-"
                        f"{os.getpid()}")
    runs = os.path.join(base, "runs")
    os.makedirs(runs, exist_ok=True)
    shutil.rmtree(work, ignore_errors=True)
    spark = start_session(work, cpus)
    try:
        wl = WORKLOADS[args.workload](spark, work, args.seed, cpus, no_span)
        setup_s = time.perf_counter() - T_START

        host0, cg0, h0 = (bench.host_cpu_times(), bench.cgroup_cpu_stat(),
                          time.perf_counter())
        cold = wl.iterate(0)
        tracer = tr.Tracer() if args.trace else None
        jvm = tr.JvmCounters(spark) if args.trace else None
        # a fixed number of iterations, so a slow run is not also
        # measured earlier on the warm-up curve; --seconds only caps
        # the window (at least one sample of each kind is kept)
        per = 2 if args.trace else 1
        n_iters = wl.warmup + per * wl.measured
        discarded, warm, traced, jvm_deltas = [], [], [], []
        deadline = time.perf_counter() + args.seconds
        for i in range(1, n_iters + 1):
            if i > wl.warmup + per and time.perf_counter() > deadline:
                break
            if i <= wl.warmup:
                discarded.append(wl.iterate(i))
            elif tracer is not None and (i - wl.warmup) % 2 == 0:
                tracer.trace_id = i
                wl.span = tracer.span
                before = jvm.snapshot()
                tracer.install()
                try:
                    it = wl.iterate(i)
                finally:
                    tracer.uninstall()
                    wl.span = no_span
                jvm_deltas.append(tr.delta(before, jvm.snapshot()))
                traced.append((i, it))
            else:
                warm.append(wl.iterate(i))
        host = metrics.host_report(bench, host0, cg0, h0, cpus)

        c0 = time.perf_counter()
        n_checks, bad = wl.check()
        check_s = time.perf_counter() - c0
        rss_mb = _vm_hwm_mb("self") + _vm_hwm_mb(
            spark._jvm.java.lang.ProcessHandle.current().pid())
    finally:
        stop_session(spark)
    shutil.rmtree(work, ignore_errors=True)

    iters = [cold] + discarded + warm + [it for _, it in traced]
    op_failures = [f for it in iters for f in it.failed]
    attempted = sum(len(it.op_s) for it in iters) + n_checks
    failed = len(op_failures) + len(bad)
    e2e = metrics.end_to_end(setup_s, cold, warm, rss_mb)
    # node percentiles carry no bound (their run-to-run spread exceeds
    # the largest bound BENCHMARK.json may set): printed, not in the JSON
    info = metrics.node_percentiles(warm)
    info["failed_frac"] = {"value": failed / attempted, "unit": "ratio",
                           "n": attempted}
    out = e2e
    if tracer is not None:
        out = metrics.per_layer(tracer, traced, jvm_deltas, warm, cpus,
                                getattr(wl, "rows", {}))
        tracer.write(os.path.join(
            runs, f"{args.workload}-seed{args.seed}.spans.jsonl"))
    with open(os.path.join(runs, f"{args.workload}-seed{args.seed}-"
                           f"trace{args.trace}.json"), "w") as f:
        json.dump({"args": vars(args), "cpus": cpus, "host": host,
                   "end_to_end": {**e2e, **info}, "metrics": out,
                   "failures": op_failures + bad,
                   "discarded_walls": [it.wall_s for it in discarded],
                   "warm_walls": [it.wall_s for it in warm],
                   "traced_walls": [it.wall_s for _, it in traced],
                   "cold_wall": cold.wall_s, "check_s": check_s,
                   "total_s": time.perf_counter() - T_START}, f, indent=1)

    for name, m in {**out, **info}.items():
        print(f"{args.workload} {name} = {m['value']:.6g} {m['unit']} "
              f"(n={m['n']})")
    print(f"{args.workload} host {json.dumps(host)}")
    for msg in (op_failures + bad)[:20]:
        print(f"{args.workload} FAILED {msg}")
    print(f"{args.workload} correct={failed == 0} attempted={attempted} "
          f"failed={failed}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                    for k, m in out.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
