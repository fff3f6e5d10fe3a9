"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds inputs from ``--seed``, runs the
workload for about ``--seconds`` seconds, checks its outputs and prints one
JSON object as the last line of stdout: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. Everything it
writes goes under ``.perfbench_work/`` in the repository root.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOAD_NAMES = ("build_ingest", "query_graph")


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "codegraphcontext_spark")):
        print(f"perfbench: no codegraphcontext_spark package under {ROOT}", file=sys.stderr)
        return 2
    # the Python workers import the package too (the extraction UDF)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path.insert(1, ROOT)
    from workloads import WORKLOADS, Run
    from host import stop_spark

    run = Run(ROOT, args.workload, args.seed, args.seconds, bool(args.trace))
    # set before the JVM and its Python workers start, so their scratch
    # files land in the run directory
    os.environ["SPARK_LOCAL_DIRS"] = run.path("local")
    os.environ["TMPDIR"] = run.path("tmp")
    try:
        WORKLOADS[args.workload](run)
        result = run.result()
    finally:
        if run.spark is not None:
            stop_spark(run.spark)
        shutil.rmtree(run.dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
