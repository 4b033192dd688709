#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_tablelog_sync --seed 1 \
        --seconds 4 --trace 0

Run from the repository root. Generates the workload's inputs from
``--seed``, runs the workload against the package for ``--seconds`` of
timed ops, checks every output, and prints one JSON object as the last
line of standard output: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics, or with ``--trace 1`` the per-layer
ones). The line before it is a JSON object of run facts (error rate,
host probe quartiles, the first errors). All files go to a fresh work
directory under ``.perfbench_work/`` that is removed at exit. See
``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "cdc_local_data_pipeline_docker_spark"
WORKLOADS = ("cdc_batch_sync", "cdc_tablelog_sync", "analytic_mix")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", type=float, default=1.0,
                    help="multiplies the CDC snapshot sizes (for measuring how "
                         "cycle cost scales with table size; benchmark runs use 1)")
    args = ap.parse_args(argv)
    if args.seconds < 1:
        ap.error("--seconds must be at least 1")
    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "__init__.py")):
        print(f"perfbench: package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2

    parent = os.path.join(ROOT, ".perfbench_work")
    os.makedirs(parent, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=parent)
    os.makedirs(os.path.join(work, "tmp"))
    # before the package is imported: session.DEFAULT_CPUS is read at
    # import and would otherwise run local[32] on a smaller host
    os.environ["SPARK_GRAFT_CPUS"] = str(os.cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"  # the JVM's maximum heap
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = None
    sys.path[:0] = [HERE, ROOT]
    try:
        import workloads

        out = workloads.run_workload(args.workload, args.seed, args.seconds,
                                     bool(args.trace), work, args.scale)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(parent)
        except OSError:
            pass  # another run is using it
    print(json.dumps(out["info"]))
    print(json.dumps(out["result"]))
    return 0


if __name__ == "__main__":
    sys.exit(main())
