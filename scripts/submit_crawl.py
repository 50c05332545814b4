"""spark-submit entry point (north rule: "runs via spark-submit --py-files").

Package and launch:

    python - <<'PY'
    import shutil; shutil.make_archive("/tmp/dwcs", "zip", "/root/repo", "distributed_web_crawler_spark")
    PY
    $SPARK_HOME/bin/spark-submit --master local[8] \
        --py-files /tmp/dwcs.zip scripts/submit_crawl.py \
        --corpus /tmp/corpus --n 20000 --seeds 50 --depth 2 --warehouse /tmp/wh

On a cluster, swap --master for yarn/k8s and point --corpus/--warehouse at
shared storage; the engine code is identical (no local-mode assumptions —
executors reach blobs/state through the warehouse paths).
"""

from __future__ import annotations

import argparse
import json
import time


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--warehouse", required=True)
    ap.add_argument("--n", type=int, default=20000)
    ap.add_argument("--seeds", type=int, default=50)
    ap.add_argument("--depth", type=int, default=2)
    ap.add_argument("--politeness", action="store_true")
    args = ap.parse_args()

    # created by spark-submit; the package arrives via --py-files
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec, url_of
    from distributed_web_crawler_spark.functions.xxh64 import xxh64
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, RobotsPolicy
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
    from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    spec = CorpusSpec(n=args.n)
    build_corpus(spark, spec, args.corpus)
    cfg = EngineConfig(
        politeness=PolitenessPolicy() if args.politeness else None,
        robots=RobotsPolicy(),
    )
    eng = FrontierEngine(spark, args.warehouse, args.corpus, spec, cfg)
    svc = CrawlService(engine=eng, ledger=JobLedger(args.warehouse), cache=JobCache(args.warehouse))
    for j in range(args.seeds):
        seed = url_of(xxh64(f"submit:seed:{j}") % spec.n, spec)
        svc.submit(f"JOB{j}", f"client{j % 4}", seed, args.depth)
    t0 = time.monotonic()
    results = []
    while True:
        r = svc.run_next(owner="submit-master")
        if r is None:
            break
        results.append({"job_id": r["job_id"], "from_cache": r["from_cache"], "levels": [len(x) for x in r["results"]]})
    print(json.dumps({"jobs": results, "wall_sec": round(time.monotonic() - t0, 2)}))
    spark.stop()


if __name__ == "__main__":
    main()
