"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Runs one workload (see workloads.py) against the package in the directory
above this one, at local[nproc], and prints ONE JSON object as the last line
of standard output:

    {"correct": bool, "attempted": int, "failed": int, "metrics": {...}}

--trace 0 reports the end-to-end metrics, --trace 1 the per-layer metrics
(Spark event log folded by layer + timed calls into the layers' public
methods, see layers.py). Everything the run writes (Spark local dirs,
warehouses, event logs, temp files) lives under perfbench/.work/<pid> and is
removed at exit; the pinned crawl corpus is built once into perfbench/.cache.
Exit status is 0 when every output check passed, 1 when a check failed, and
2 when the package cannot be imported (e.g. a directory holding only the
benchmark files).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import harness  # noqa: E402


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="Run one benchmark workload.")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument(
        "--corrupt-oracle",
        action="store_true",
        help="perturb every expected output; the run must then report failures",
    )
    args = ap.parse_args(argv)

    # keep the real stdout for the result line only: anything the JVM, the
    # workers or the package print goes to stderr
    result_out = os.fdopen(os.dup(1), "w")
    os.dup2(2, 1)

    if not os.path.isdir(os.path.join(harness.ROOT, "distributed_web_crawler_spark")):
        harness.log(f"perfbench: package distributed_web_crawler_spark not found under {harness.ROOT}")
        return 2

    import workloads

    if args.workload not in workloads.WORKLOADS:
        harness.log(f"perfbench: unknown workload {args.workload!r}; one of {sorted(workloads.WORKLOADS)}")
        return 2

    work = os.path.join(HERE, ".work", str(os.getpid()))
    shutil.rmtree(work, ignore_errors=True)
    try:
        harness.prepare_env(work)
        result = workloads.run(
            args.workload,
            seed=args.seed,
            seconds=args.seconds,
            trace=bool(args.trace),
            work=work,
            corrupt=args.corrupt_oracle,
        )
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.join(HERE, ".work"))
        except OSError:
            pass
    result_out.write(json.dumps(result) + "\n")
    result_out.flush()
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
