"""Extra benchmarks for optimization work (round 9) — NOT the driver
metric. bench.py is frozen for measurement; this harness exists to
isolate individual queries per the optimization guide §1:

* times each named query with the noop sink (computes every column of
  every row, discards the result — no collect/driver transfer noise),
  best-of-k with all trials disclosed;
* optionally dumps .explain('formatted') for each query to a directory
  (plans/r09/<query>_<tag>.txt) so plan-shape claims are auditable.

Usage:
  python bench_extra.py q1 q2 ...            # time queries (noop sink)
  BENCH_EXTRA_PLANS=plans/r09 BENCH_EXTRA_TAG=before \\
      python bench_extra.py q1 ...           # also dump plans
  BENCH_EXTRA_TRIALS=3 python bench_extra.py q1

Env (same contract as bench.py): SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
TRIALS = int(os.environ.get("BENCH_EXTRA_TRIALS", "2"))
PLAN_DIR = os.environ.get("BENCH_EXTRA_PLANS", "")
TAG = os.environ.get("BENCH_EXTRA_TAG", "plan")


def main():
    from bench import _warm_session
    from distributed_web_crawler_spark.queries import bench_queries
    from distributed_web_crawler_spark.session import get_spark

    spark = get_spark(app="bench_extra")
    registry = bench_queries()
    names = sys.argv[1:] or sorted(registry)
    _warm_session(spark)
    out = {"sf": SF_DIR, "queries": {}, "trials": {}}
    for name in names:
        fn = registry[name]
        if PLAN_DIR:
            os.makedirs(PLAN_DIR, exist_ok=True)
            df = fn(spark, SF_DIR)
            with open(os.path.join(PLAN_DIR, f"{name}_{TAG}.txt"), "w") as f:
                f.write(df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"))
            spark.catalog.clearCache()
        runs = []
        for _ in range(TRIALS):
            spark.sparkContext.setJobDescription(f"bench_extra: {name}")
            t0 = time.monotonic()
            fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()
            runs.append(round(time.monotonic() - t0, 3))
            spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(None)
        out["queries"][name] = min(runs)
        out["trials"][name] = runs
        print(f"  {name}: {min(runs)} {runs}", file=sys.stderr, flush=True)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
