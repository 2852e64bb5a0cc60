"""Benchmark of the rust_timeseries_spark engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload tiers --seed 1 --seconds 5 --trace 0

Workloads (see README.md): tiers, dedup_ingest. All inputs are generated from ``--seed`` during set-up.
``--trace 0`` prints the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics and writes the spans to
``.perfbench/trace_<workload>_<seed>.json``. The last line of standard
output is one JSON object; failed operations and checks go to standard
error with their output.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))

WORKLOADS = {
    "tiers": ("wl_tier", "Tiers"),
    "dedup_ingest": ("wl_dedup", "DedupIngest"),
}


def parse_args(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--scale", choices=["full", "toy"], default="full",
                    help="input sizes; toy is for the benchmark's own tests")
    return ap.parse_args(argv)


def cores() -> int:
    """What ``nproc`` reports: the CPUs this process may run on."""
    return len(os.sched_getaffinity(0))


def task_threads() -> int:
    """Spark task threads: half of ``nproc``. Each task of a Python UDF
    stage keeps its JVM thread and its Python worker busy, and the
    driver, JIT and GC threads need the rest; with a thread per CPU the
    figures measure CPU contention more than the engine."""
    return max(1, cores() // 2)


def execute(args, root: str, patch=None):
    """One benchmark run in this process. ``patch()``, called once Spark
    is up, may replace engine functions (the tests use it to corrupt an
    output). Returns (result, ledger)."""
    import importlib

    import harness

    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in spec["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in spec["per_layer"]}
    n = task_threads()
    run_dir = harness.prepare_env(root, args.workload, n)
    spark = None
    try:
        spark = harness.start_spark(run_dir, n)
        if patch is not None:
            patch()
        mod, cls = WORKLOADS[args.workload]
        wl = getattr(importlib.import_module(mod), cls)(spark, args.seed, run_dir, args.scale)
        result, ledger, tracer = harness.run(wl, spark, args.seconds, bool(args.trace), e2e, layer)
        if args.trace:
            tracer.dump(os.path.join(root, ".perfbench", f"trace_{args.workload}_{args.seed}.json"))
        return result, ledger
    finally:
        if spark is not None:
            harness.stop_spark(spark)
        shutil.rmtree(run_dir, ignore_errors=True)


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "__spark_entry__.py"))
            and os.path.isdir(os.path.join(root, "rust_timeseries_spark"))):
        print(f"perfbench: no engine sources in {root}; run from the root of a checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    result, ledger = execute(args, root)
    for f in ledger.failures:
        print(f"perfbench: {f}", file=sys.stderr)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
