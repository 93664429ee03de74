"""Benchmark entry point: run one workload with one seed.

    python3 perfbench/run.py --workload tpch_sql --seed 1 --seconds 10 --trace 0

Run from the root of a checkout.  The last line of standard output is
one JSON object with ``correct``, ``attempted``, ``failed`` and
``metrics``: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``.  The line before it (``{"context": …}``)
records the pinned environment, the sample count, the failure ratio
with its base, the machine's noise during the window and, traced, the
figures that are not per-layer metrics.  See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("tpch_sql", "interactive_http")
# a run that has not finished by then is stopped without a result; the
# rest of the 180 s goes to stopping its processes
DEADLINE_S = 140


def _mem_total_mib() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("no MemTotal in /proc/meminfo")


def pin_environment(run_dir: str, traced: bool) -> dict:
    """Pin what the engine reads from the environment, and keep every
    file Spark writes inside ``run_dir``.  Returns what was pinned."""
    cpus = len(os.sched_getaffinity(0))
    # a quarter of the machine's memory, between 1 and 8 GiB
    driver_mib = max(1024, min(8192, _mem_total_mib() // 4))
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    pins = {
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_GRAFT_DRIVER_MEM": f"{driver_mib}m",
        "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
        "TMPDIR": tmp,
        # no hsperfdata file: the JVM would write it to /tmp whatever tmpdir says
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        "PYTHONPATH": ROOT,  # the Python UDF workers import the engine
        "PYSPARK_PYTHON": sys.executable,
    }
    if traced:
        # the server reads its statements' stages only when its window
        # ends; by then a busy window has run past Spark's default of
        # 1000 retained stages, and evicted ones could not be counted
        pins["PYSPARK_SUBMIT_ARGS"] = (
            "--conf spark.ui.retainedStages=100000 --conf spark.ui.retainedJobs=100000 "
            "pyspark-shell")
    os.environ.update(pins)
    # spark-warehouse (the hive catalog's tables) lands in the cwd
    os.chdir(run_dir)
    return {**pins, "cwd": run_dir}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=None,
                    help="scale factor for every table (self-tests only)")
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "facebook_presto_spark")):
        print(f"perfbench: no engine sources under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    def _timeout(*_):
        raise TimeoutError(f"run did not finish within {DEADLINE_S} s")

    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)

    import workloads

    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    run_dir = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=runs)
    cwd = os.getcwd()
    try:
        pins = pin_environment(run_dir, bool(args.trace))
        run = workloads.Run(args.seed, args.seconds, bool(args.trace),
                            os.path.join(HERE, ".cache"), args.scale)
        if args.workload == "tpch_sql":
            metrics, info = workloads.tpch_sql(run)
        else:
            metrics, info = workloads.interactive_http(run, run_dir)
    finally:
        signal.alarm(0)
        os.chdir(cwd)
        shutil.rmtree(run_dir, ignore_errors=True)

    tracer = info.pop("tracer")
    if tracer.enabled:
        traces = os.path.join(HERE, ".traces")
        os.makedirs(traces, exist_ok=True)
        tracer.dump(os.path.join(traces, f"{args.workload}-seed{args.seed}.json"))
    units = workloads.PER_LAYER if args.trace else workloads.END_TO_END
    out = run.outcomes
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "environment": pins, **info,
        "failed_ratio": out.failed_ratio, "failed": out.failed,
        "attempted": out.attempted, "failures": out.reasons,
    }
    if args.trace:
        # figures of the layers only this workload enters, and of tracing itself
        context["layers"] = {k: v for k, v in metrics.items() if k not in units}
    print(json.dumps({"context": context}))
    print(json.dumps({
        "correct": out.failed == 0,
        "attempted": out.attempted,
        "failed": out.failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
