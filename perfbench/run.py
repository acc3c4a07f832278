"""Benchmark entry point.

    python3 perfbench/run.py --workload extract_joined --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Prints an info record (inputs and
output digests, per-job times) and, as the last line of stdout, the
result: {"correct", "attempted", "failed", "metrics"}. With --trace 0
the metrics are the end-to-end ones; with --trace 1 the per-layer ones.
Everything the run writes stays inside the checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def confine(tmp: str) -> None:
    """Point every temp-file location at `tmp` (inside the checkout)
    before Spark starts."""
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # the JVM that spark-submit starts to build the driver command
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable
    os.environ.pop("PYTHONPATH", None)
    import tempfile

    tempfile.tempdir = None


def main(argv=None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import bench

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(bench.SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    t_start = time.monotonic()

    for need in ("openocr_spark", "tests"):
        if not os.path.isdir(os.path.join(ROOT, need)):
            print(f"perfbench: {need}/ not found under {ROOT}", file=sys.stderr)
            return 2
    tmp = os.path.join(ROOT, ".perfbench_tmp", f"{os.getpid()}")
    confine(tmp)
    try:
        result, info = bench.run(ROOT, tmp, args.workload, args.seed, args.seconds,
                                 bool(args.trace))
    finally:
        bench.clean_tmp(tmp)
    info["run_s"] = round(time.monotonic() - t_start, 3)
    print(json.dumps({"info": info}), flush=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
