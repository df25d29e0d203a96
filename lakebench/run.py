"""Lakehouse benchmark entry point.

    python3 lakebench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload of ``lakebench.workloads`` against inputs generated
from ``--seed``, measures a one-client closed loop for ``--seconds``
and at least three operations, checks every output, and prints as its last stdout line one JSON object
``{"correct", "attempted", "failed", "metrics"}``: the end-to-end
metrics when ``--trace 0``, the per-layer metrics when ``--trace 1``.
The line before it carries workload-specific figures (input sizes,
planted shares, the named headline metrics).

Must be run from a checkout of the program: it imports
``clinical_data_lake_spark`` from the directory above this one and
exits non-zero without a result when that package is missing. All
files it writes go under ``.lakebench_out/`` in that directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "clinical_data_lake_spark", "__init__.py")):
        print(f"lakebench: no clinical_data_lake_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)

    from lakebench import runner, workloads

    workload = workloads.get(args.workload)
    out = os.path.join(ROOT, ".lakebench_out")
    work = os.path.join(out, f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result, detail = runner.run(workload, args.seed, args.seconds, bool(args.trace), work)
    finally:
        # keep only the spans and the input manifest of the run
        for name in os.listdir(work):
            path = os.path.join(work, name)
            if os.path.isdir(path):
                shutil.rmtree(path, ignore_errors=True)
    print(json.dumps({"workload": args.workload, "seed": args.seed, "detail": detail}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
