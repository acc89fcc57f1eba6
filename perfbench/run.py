"""The engine's benchmark: one run of one workload.

    python3 perfbench/run.py --workload live_reference_rate --seed 1 \
        --seconds 16 --trace 0

Run from the repository root. Inputs are generated from ``--seed``; every
run checks the engine's outputs against a DuckDB oracle. The last line of
standard output is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The line before it records the host
(nproc, load average at start and end, pyspark and Java versions).
Scratch files go to ``.perfbench_work/`` (removed at the end) and spans
of traced runs to ``.perfbench_out/``, both under the repository root. See
``perfbench/README.md`` for the metric definitions.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "pyspark_data_engineering_assignment_spark"
# the keys of workloads.WORKLOADS, listed here so arguments are checked
# before the engine is imported
WORKLOAD_NAMES = ("live_reference_rate", "backfill_wide_state")


def parse_args(argv=None) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    args = parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"perfbench: {PACKAGE}/ not found under {ROOT}; run from a full checkout",
              file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Python workers and every temp file stay inside the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    sys.path.insert(0, ROOT)

    from perfbench import workloads

    workloads.log("started")

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    try:
        result, host = workloads.run(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            os.path.join(ROOT, ".perfbench_out"), nproc,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
    host.update(nproc=nproc, loadavg_start=load_start, loadavg_end=os.getloadavg())
    workloads.log("finished")
    print(json.dumps({"host": host}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
