"""Multi-job flow mirroring the reference's load script (TestClients/
index.js: 20 concurrent clients, repeated seeds). Jobs run through the full
CrawlService path; repeated seeds exercise the depth-monotone cache, and
every result is checked against the oracle. Kept at 6 jobs / 3 distinct
seeds for CI time — the flow is identical at 20."""

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger


def test_concurrent_jobs_with_repeated_seeds(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    wh = str(tmp_path / "wh")
    eng = FrontierEngine(spark, wh, path, spec, EngineConfig(seen_buckets=8))
    svc = CrawlService(engine=eng, ledger=JobLedger(wh), cache=JobCache(wh))

    seeds = [i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3][:3]
    # (job, client, seed, depth): J3 repeats J0's seed shallower (cache hit),
    # J4 repeats it deeper (cache miss, recrawl), J5 repeats J4 (cache hit)
    jobs = [
        ("J0", "c0", seeds[0], 2),
        ("J1", "c1", seeds[1], 2),
        ("J2", "c2", seeds[2], 1),
        ("J3", "c3", seeds[0], 1),
        ("J4", "c0", seeds[0], 3),
        ("J5", "c1", seeds[0], 3),
    ]
    for jid, cid, s, depth in jobs:
        assert svc.submit(jid, cid, C.url_of(s, spec), depth)

    results, cached = {}, {}
    while True:
        r = svc.run_next(owner="m1", now=1000.0)
        if r is None:
            break
        results[r["job_id"]] = r["results"]
        cached[r["job_id"]] = r["from_cache"]

    assert set(results) == {j[0] for j in jobs}
    assert not cached["J0"] and cached["J3"] and not cached["J4"] and cached["J5"]
    for jid, cid, s, depth in jobs:
        oracle = crawl(s, depth, spec)
        assert results[jid] == oracle.levels_sorted(), jid
