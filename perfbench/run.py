"""Pipeline benchmark entry point.

    python3 perfbench/run.py --workload flight_quality --seed 1 --seconds 10 --trace 0

Run from the root of a source checkout. One driver process runs one
workload at ``local[<cores>]``: it generates the seeded inputs, warms
up, then repeats the pipeline run until ``--seconds`` have passed,
checking every run's output. ``--trace 0`` reports the end-to-end
metrics; ``--trace 1`` turns on the event log and the function spans and
reports the per-layer metrics instead. The last line of stdout is one
JSON object; the lines before it restate every metric by name with its
unit. Exit status is 0 only when every run's output checked correct.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

PROCESS_T0 = time.perf_counter()

ROOT = os.getcwd()
# import perfbench as a package from the checkout root, never its modules
# as top-level names (perfbench/trace.py would shadow the stdlib's)
_HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:] = [ROOT] + [p for p in sys.path if os.path.abspath(p or ".") != _HERE]

HEAP = "2g"
WARMUP_SECONDS = 8
MIN_RUNS = 3
SETUP_REPEATS = 3


def _args(argv):
    from perfbench.layers import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def main(argv=None) -> int:
    if not os.path.isfile(os.path.join(ROOT, "databricks_flight_etl_spark", "__init__.py")):
        print("error: run from the root of a source checkout "
              "(databricks_flight_etl_spark/ not found)", file=sys.stderr)
        return 2
    args = _args(argv)
    from perfbench import harness

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    try:
        result, summary = harness.run_benchmark(
            args.workload, args.seed, args.seconds, bool(args.trace), work,
            process_t0=PROCESS_T0, heap=HEAP, warmup_seconds=WARMUP_SECONDS,
            min_runs=MIN_RUNS, setup_repeats=SETUP_REPEATS)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    for line in summary:
        print(line)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
