"""Benchmark harness. Prints ONE JSON line:

  {"metric": ..., "value": <total sec>, "unit": "sec",
   "queries": {name: sec, ...}, "sf": ...,
   "crawl": {"urls_fetched": n, "urls_per_sec": r, "wall_sec": s}, ...}

Env:
  SPARK_GRAFT_SF_DIR  parquet dir (default /root/testdata/sf0.1)
  SPARK_GRAFT_CPUS    local[N] cores (default: the CPUs in this
                      process's affinity mask)
  BENCH_ONLY          'crawl' | 'queries' (default: both)
  BENCH_CRAWL_N       corpus pages for the crawl bench (default 500000)
  BENCH_CRAWL_SEEDS   frontier seed count (default 100000)
  BENCH_QUERY_TRIALS  best-of-k per query (default 2) — the min is the
                      recorded number; all trials land in queries_trials
  BENCH_GRADED        '1' runs the drain with politeness ON (budget wide
                      enough to admit a depth per sub-round) and a coarse
                      8-value grade, measuring the priority-schedule path
                      at full seed scale with outputs identical to the
                      plain drain (admit_ms carries the ranking cost)

The crawl bench is the headline (BASELINE.json metric: frontier-drain
throughput, URLs fetched+deduped/sec): drain a multi-seed frontier to
depth 2 over a generated image+caption corpus with payload decode+verify
on, Bloom seen-filters on, politeness off (it rate-limits by design).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from distributed_web_crawler_spark.session import default_cores  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = default_cores()
ONLY = os.environ.get("BENCH_ONLY", "")
CRAWL_N = int(os.environ.get("BENCH_CRAWL_N", "500000"))
CRAWL_SEEDS = int(os.environ.get("BENCH_CRAWL_SEEDS", "100000"))
CACHE_DIR = os.environ.get("BENCH_CACHE_DIR", "/root/repo/.bench_cache")


def _warm_session(spark):
    """Untimed one-time session warm-up. Two costs would otherwise land on
    whichever query runs first (r7 verdict: the alphabetically-first query
    absorbed ~5-8 s of it, distorting cross-round per-query comparisons at
    BOTH ends — 9.9 s on the new first query, a phantom 2.4x 'win' on the
    query that used to be first):

    * Python worker interpreter spin-up (the first pandas stage);
    * JVM whole-stage codegen / shuffle machinery / broadcast-exchange /
      vectorized-parquet-reader class loading + JIT.
    """
    from pyspark.sql import functions as F

    spark.range(0, 1024, numPartitions=CPUS).mapInPandas(lambda it: it, schema="id long").count()
    big = spark.range(0, 1_000_000, numPartitions=CPUS).withColumn(
        "k", (F.col("id") % 997).cast("int")
    )
    dim = spark.range(0, 997).withColumn("k", F.col("id").cast("int")).drop("id")
    (
        big.join(F.broadcast(dim), "k")
        .groupBy("k").agg(F.sum("id").alias("s"), F.count("*").alias("c"))
        .orderBy("k").collect()
    )
    # one real parquet scan with a pushed filter: reader + footer machinery
    spark.read.parquet(os.path.join(SF_DIR, "documents.parquet")).filter(
        F.col("doc_id") % 1000 == 0
    ).count()
    spark.catalog.clearCache()


def bench_queries(spark):
    from distributed_web_crawler_spark.queries import bench_queries as queries

    _warm_session(spark)
    # per-query best-of-k (default 2): the sandbox window drifts ±40%
    # run-to-run (host CPU steal); a single shot per query let a degraded
    # window print a phantom +15% regression across 50 unchanged queries
    # in r7. The min is the comparable number; all trials are disclosed in
    # queries_trials alongside.
    k = int(os.environ.get("BENCH_QUERY_TRIALS", "2"))
    times, trials = {}, {}
    for name, fn in sorted(queries().items()):
        runs = []
        for _ in range(k):
            t0 = time.monotonic()
            fn(spark, SF_DIR).collect()
            runs.append(round(time.monotonic() - t0, 3))
            # the shingle/ranked caches some operators persist are held by
            # the CacheManager until cleared — drop them so queries (and
            # repeat trials) don't pay or profit from leftover
            # MEMORY_AND_DISK entries
            spark.catalog.clearCache()
        times[name] = min(runs)
        trials[name] = runs
    return times, trials


def _one_crawl_trial(spark, spec, corpus_path):
    from distributed_web_crawler_spark.fixtures.corpus import url_of
    from distributed_web_crawler_spark.functions.xxh64 import xxh64
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

    # round state goes to RAM: runs otherwise leave GBs of dirty pages whose
    # writeback stalls the next one. Flush leftover writeback before timing.
    os.system("sync")
    wh_root = "/dev/shm/bench_wh" if os.path.isdir("/dev/shm") else CACHE_DIR
    os.makedirs(wh_root, exist_ok=True)
    wh = os.path.join(wh_root, f"bench_wh_{os.getpid()}_{time.monotonic_ns()}")
    # BENCH_GRADED=1: measure the PRIORITY drain (r7 verdict #6) — politeness
    # ON with a per-host budget large enough to admit everything in one
    # sub-round, so the full schedule() ranking (with a coarse 8-value
    # grade, the hits/pagerank-octile stand-in) runs at full seed scale
    # while outputs and round count stay IDENTICAL to the plain drain; the
    # admit_ms phase then reads the priority path's cost directly.
    graded = os.environ.get("BENCH_GRADED", "0") == "1"
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy

    eng = FrontierEngine(
        spark, wh, corpus_path, spec,
        EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=1_000_000_000) if graded else None,
            politeness_grade="pmod(url_hash, 8)" if graded else None,
        ),
    )
    seeds = sorted({url_of(xxh64(f"bench:seed:{j}") % spec.n, spec) for j in range(CRAWL_SEEDS)})
    # seed the frontier (job admission/bootstrap), then time the DRAIN —
    # the BASELINE metric is frontier-drain throughput; at 10^10 scale the
    # one-time seed commit is amortized to nothing
    eng.run_job("bench", seeds, 2, max_rounds=0)
    t0 = time.monotonic()
    eng.run_job("bench", seeds, 2)
    wall = time.monotonic() - t0
    fetched = sum(r["n_admitted"] for r in eng.metrics_df("bench").collect())
    store = eng.store("bench")
    phase_totals: dict = {}
    for rd in store.committed_rounds():
        for k, v in store.read_commit(rd).get("phases", {}).items():
            phase_totals[k] = phase_totals.get(k, 0) + v
    shutil.rmtree(wh, ignore_errors=True)
    return {
        "urls_fetched": int(fetched),
        "wall_sec": round(wall, 3),
        "urls_per_sec": round(fetched / wall, 1),
        "phase_ms": phase_totals,
    }


def bench_crawl(spark):
    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    spec = CorpusSpec(n=CRAWL_N)
    corpus_path = os.path.join(CACHE_DIR, f"corpus_{CRAWL_N}")
    t0 = time.monotonic()
    build_corpus(spark, spec, corpus_path)
    gen_sec = round(time.monotonic() - t0, 3)
    # one-time executor/JVM bootstrap, not drain work (and the trial
    # protocol is median-of-3, which absorbs any residue)
    _warm_session(spark)
    # multiple trials: the sandbox VM shows ±3× run-to-run noise (host CPU
    # steal / writeback stalls); a single shot is a lottery. Median of an
    # odd trial count — the same protocol scaling_bench.py uses — so the
    # headline is not a best-of-N. All trials are disclosed alongside.
    trials = [_one_crawl_trial(spark, spec, corpus_path) for _ in range(int(os.environ.get("BENCH_TRIALS", "3")))]
    # lower-middle index: an EVEN trial count takes the slower middle trial
    # (the upper-middle would be best-of-2 at BENCH_TRIALS=2)
    best = sorted(trials, key=lambda r: r["urls_per_sec"])[(len(trials) - 1) // 2]
    return {
        **best,
        "corpus_pages": CRAWL_N,
        "corpus_gen_sec": gen_sec,
        "cpus": CPUS,
        "all_trials_urls_per_sec": [r["urls_per_sec"] for r in trials],
    }


def main():
    os.makedirs(CACHE_DIR, exist_ok=True)
    from distributed_web_crawler_spark.session import get_spark

    spark = get_spark(app="bench", cores=CPUS)
    out = {
        "metric": "headline wall sec (operator slices + frontier drain)",
        "unit": "sec",
        "sf": SF_DIR.rstrip("/").rsplit("sf", 1)[-1],
        "queries": {},
    }
    if ONLY != "crawl":
        out["queries"], out["queries_trials"] = bench_queries(spark)
    if ONLY != "queries":
        crawl = bench_crawl(spark)
        out["crawl"] = crawl
        out["queries"]["crawl_drain"] = crawl["wall_sec"]
        out["frontier_drain_urls_per_sec"] = crawl["urls_per_sec"]
    out["value"] = round(sum(out["queries"].values()), 3)
    spark.stop()
    print(json.dumps(out))


if __name__ == "__main__":
    main()
