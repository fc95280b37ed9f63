"""Benchmark of the engine, one workload per process.

    python3 perfbench/run.py --workload {queries,backtest} --seed N \\
        --seconds S --trace {0,1}

Run from the repository root, without the repository on ``PYTHONPATH``:
Python workers then find the package through the working directory, as
they do under ``bench.py``. ``--seed`` seeds the backtest's synthetic
market; the query workload runs on fixed tables in a fixed order.

Set-up runs from process start (interpreter, imports, JVM launch, session
start) to the workload's first gated operation, so it includes the
workload's warm-up: on ``queries`` a few untimed registry entries that
compile the engine paths the timed ones share; on ``backtest`` nothing
more, its first gated operation being the store build. The
workload then runs an amount of work that ``--seconds`` sets (see
``query_workload.py`` and ``backtest_workload.py``), its outputs are
checked, and the last line of standard output is one JSON object:
``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics, in wall-clock time:
  setup_s  set-up time, s
  suite_s  the workload's fixed work: the sum of the entries' (median)
           times, or the store build, the API's opening and all strategy
           days, s
Latency over the run's operations (one registry entry, plan build plus
action, on ``queries``; one strategy day on ``backtest``) is in the
details, not gated: a run has 9 or 10 operations, too few for a tail
percentile with ten samples beyond it, and on a shared 4-vCPU host their
median and geometric mean spread from run to run (quartile distance over
median, over 5-10 runs) by up to 0.25 on ``queries`` and 0.62 on
``backtest`` in a noisy phase of the host, too much for a 0.25 bound.

``--trace 1`` tags every Spark job with a job group, reads job, stage and
SQL-execution counters from Spark's status stores after each entry, API
call and store build, keeps spans (queries > warmup / pass > entry >
build / action / release; backtest > build_warehouse > write, open_api,
day > API call) and reports the per-layer metrics; spans go to
``.perfbench_run/trace-*.json``. ``trace.overhead_s`` is the time the
traced run spent reading status.

The line before the JSON holds details that are not gated: the set-up
split, the operation latency figures, the workload-specific figures
(``failed_frac``, per-class sums, store rows per second and bytes per row,
days per second), the peak resident memory of this process plus the JVM
(``peak_rss_mb``: it swings by a fifth with the JVM's heap growth, too
much to gate), the host calibration block of ``bench.py`` and every
problem found by the output checks.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

T_TOP = time.perf_counter()

WORKLOADS = ("queries", "backtest")


def process_age_s() -> float:
    """Seconds since this process started, from /proc."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


PROCESS_START = T_TOP - process_age_s()


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    for need in ("simtradedata_spark", "tools", "bench.py"):
        if not os.path.exists(os.path.join(root, need)):
            print(f"run from the repository root: {need} not found", file=sys.stderr)
            return 2
    sys.path.insert(0, root)

    import harness
    import metrics
    import query_workload

    problem = metrics.check_declared(os.path.join(root, "BENCHMARK.json"))
    if problem:
        print(problem, file=sys.stderr)
        return 3
    harness.prepare_env()
    workload = query_workload
    if args.workload == "backtest":
        import backtest_workload as workload

    tracer = harness.Tracer(args.trace == 1)
    setup = {}

    def ready() -> None:
        """End of set-up: the workload's next operation is gated."""
        setup["warmup_s"] = time.perf_counter() - t_session
        setup["setup_s"] = time.perf_counter() - PROCESS_START

    spark = None
    try:
        with tracer.span("session_start"):
            spark = harness.start_session()
        t_session = time.perf_counter()
        setup["start_s"] = t_session - PROCESS_START
        status = harness.SparkStatus(spark, tracer) if args.trace else None
        with tracer.span(args.workload, seed=args.seed):
            result = workload.run(spark, args.seed, args.seconds, tracer, status, ready)
        rss = harness.peak_rss_mb(spark)
        from bench import calibration_probe

        calibration = calibration_probe(spark)
    finally:
        if spark is not None:
            harness.stop_session(spark)

    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "setup": setup,
        "calibration": calibration,
        **metrics.op_figures(result),
        "failed_frac": result["failed"] / result["attempted"],
        "peak_rss_mb": rss,
        **result["detail"],
        "problems": result["problems"],
    }
    if args.trace:
        path = os.path.join(
            harness.RUN_DIR, f"trace-{args.workload}-{args.seed}-{tracer.run_id}.json"
        )
        tracer.write(path)
        detail["trace_file"] = os.path.relpath(path, root)
        values = metrics.per_layer(result, setup, tracer)
    else:
        values = metrics.end_to_end(result, setup)
    print(json.dumps(detail, default=float))
    out = {
        "correct": not result["problems"],
        "attempted": result["attempted"],
        "failed": result["failed"],
        "metrics": {
            name: {"value": v, "unit": metrics.UNITS[name]} for name, v in values.items()
        },
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
