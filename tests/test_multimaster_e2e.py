"""Two REAL master processes — each with its own SparkSession — drain one
shared warehouse concurrently through CrawlService. The CAS ledger
(catalog.AtomicTable) must make admission + acquisition exactly-once across
the processes (the reference lock server's whole job,
Server/LockServer/lockServer.go:105-197), and every crawl result must
still match the pure-Python oracle."""

import json
import multiprocessing as mp
import os

from conftest import _check_payloads

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import crawl

N_PAGES = 600
DEPTH = 2


def _master(owner, wh, corpus_path, out_path):
    import sys

    sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
    from distributed_web_crawler_spark.fixtures.corpus import CorpusSpec
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
    from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger
    from distributed_web_crawler_spark.session import get_spark

    spark = get_spark(app=f"master-{owner}", cores=2, shuffle_partitions=2)
    spec = CorpusSpec(n=N_PAGES)
    eng = FrontierEngine(spark, wh, corpus_path, spec, EngineConfig(seen_buckets=8))
    svc = CrawlService(engine=eng, ledger=JobLedger(wh), cache=JobCache(wh))
    done = []
    while True:
        r = svc.run_next(owner=owner)
        if r is None:
            break
        done.append({"job_id": r["job_id"], "results": r["results"], "from_cache": r["from_cache"]})
    with open(out_path, "w") as f:
        json.dump(done, f)
    spark.stop()


def test_two_masters_drain_shared_ledger(spark, tmp_path):
    spec = C.CorpusSpec(n=N_PAGES)
    corpus_path = str(tmp_path / "corpus")
    from distributed_web_crawler_spark.sources.corpus_source import build_corpus

    build_corpus(spark, spec, corpus_path)
    wh = str(tmp_path / "wh")

    from distributed_web_crawler_spark.plans.ledger import JobLedger

    led = JobLedger(wh)
    seeds = [i for i in range(spec.n) if len(C.out_links(i, spec)) >= 2][:4]
    for k, s in enumerate(seeds):
        assert led.submit(f"J{k}", f"c{k}", C.url_of(s, spec), DEPTH, now=100.0 + k)

    ctx = mp.get_context("spawn")
    outs = [str(tmp_path / f"m{k}.json") for k in range(2)]
    ps = [
        ctx.Process(target=_master, args=(f"m{k}", wh, corpus_path, outs[k]))
        for k in range(2)
    ]
    for p in ps:
        p.start()
    for p in ps:
        p.join(timeout=600)
        assert p.exitcode == 0

    per_master = [json.load(open(o)) for o in outs]
    all_jobs = [d["job_id"] for dm in per_master for d in dm]
    # exactly-once: each job completed by exactly ONE master, none lost,
    # none double-run (JVM startup skew can legitimately let one master
    # grab more — the invariant is the partition, not the balance)
    assert sorted(all_jobs) == [f"J{k}" for k in range(len(seeds))]
    # every result equals the oracle crawl, and every round fetched and
    # verified its pages
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

    eng = FrontierEngine(spark, wh, corpus_path, spec, EngineConfig(seen_buckets=8))
    by_job = {d["job_id"]: d for dm in per_master for d in dm}
    for k, s in enumerate(seeds):
        oracle = crawl(s, DEPTH, spec)
        got = [sorted(level) for level in by_job[f"J{k}"]["results"]]
        assert got == oracle.levels_sorted(), f"J{k}"
        _check_payloads(eng, f"J{k}")
