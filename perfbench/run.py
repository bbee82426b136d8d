"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. The run starts one Spark session on
``local[<cores>]`` (cores = the CPUs this process may use), warms up, measures
closed-loop operations for ``--seconds`` of measured time and checks every
operation's output. Every scratch file (warehouse, Spark local dirs, temp
files, generated drops) lives in a fresh directory under ``.perfbench/`` and
is removed at the end; a traced run keeps its spans in
``.perfbench/traces/``.

The last line of stdout is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` (the end-to-end metrics, or with ``--trace 1`` the
per-layer ones). The line before it records the inputs: cores, scale factor
and input sizes.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "certified_dogs_and_cats_spark"


def pin_environment(work: str, cores: int) -> None:
    """Everything the JVM, Python workers and the package read from the
    environment, pinned per run."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ.update({
        # Python workers import the package (streaming and UDF queries).
        "PYTHONPATH": ROOT,
        "SPARK_GRAFT_CPUS": str(cores),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_WAREHOUSE": os.path.join(work, "spark-warehouse"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    tempfile.tempdir = None  # re-read TMPDIR


def stop(spark) -> None:
    """Stop Spark and wait for the JVM process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: no {PACKAGE}/ under {ROOT}; run from a checkout",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    cores = len(os.sched_getaffinity(0))
    scratch = os.path.join(ROOT, ".perfbench")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    try:
        pin_environment(work, cores)
        from certified_dogs_and_cats_spark.session import get_spark

        t = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores, shuffle_partitions=cores)
        ctx = workloads.Context(spark, cores, work, bool(args.trace), T0,
                                session_start_s=time.perf_counter() - t)
        try:
            workloads.WORKLOADS[args.workload](ctx, args.seed, args.seconds)
            metrics = workloads.report(ctx)
        finally:
            stop(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info = {"workload": args.workload, "seed": args.seed, "cores": cores,
            "setup_harness_s": round(ctx.harness_s, 3), **ctx.info}
    if args.trace:
        traces = os.path.join(scratch, "traces")
        os.makedirs(traces, exist_ok=True)
        ctx.tracer.dump(
            os.path.join(traces, f"{args.workload}-seed{args.seed}.json"),
            {"info": info, "metrics": metrics})
    print(json.dumps({"info": info}))
    print(json.dumps({
        "correct": ctx.failed == 0,
        "attempted": ctx.attempted,
        "failed": ctx.failed,
        "metrics": {k: {"value": v, "unit": workloads.unit_of(k)}
                    for k, v in metrics.items()},
    }), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
