"""The reference's complete job lifecycle in one flow (SURVEY.md §3.1):
client JSON jobs → streaming ingress (exactly-once ledger admission) →
CrawlService drain (cache-aware) → DoneJob outbox → streaming egress to
live clients. Every delivered result must equal the oracle crawl."""

import json
import os

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger
from distributed_web_crawler_spark.streaming.egress import ClientRegistry, run_result_egress
from distributed_web_crawler_spark.streaming.ingress import run_job_intake


def test_ingress_crawl_egress_roundtrip(spark, corpus_1k, tmp_path):
    spec, corpus_path = corpus_1k
    wh = str(tmp_path / "wh")
    ingress = str(tmp_path / "ingress")
    outbox = str(tmp_path / "outbox")
    egress = str(tmp_path / "egress")
    os.makedirs(ingress)

    seeds = [i for i in range(spec.n) if len(C.out_links(i, spec)) >= 2][:2]
    jobs = [
        {"jobId": f"J{k}", "clientId": f"c{k}", "urlToCrawl": C.url_of(s, spec), "depthToCrawl": 2}
        for k, s in enumerate(seeds)
    ]
    # the wire queue: one newline-JSON file per client submission, plus a
    # duplicate redelivery of J0 (must admit exactly once)
    with open(ingress + "/batch1.json", "w") as f:
        f.write("\n".join(json.dumps(j) for j in jobs))
    with open(ingress + "/redelivery.json", "w") as f:
        f.write(json.dumps(jobs[0]))

    ledger = JobLedger(wh)
    run_job_intake(spark, ingress, ledger, str(tmp_path / "ckpt_in"))
    assert ledger.get("J0") is not None and ledger.get("J1") is not None

    eng = FrontierEngine(spark, wh, corpus_path, spec, EngineConfig(seen_buckets=8))
    svc = CrawlService(engine=eng, ledger=ledger, cache=JobCache(wh), outbox=outbox)
    n_run = 0
    while svc.run_next(owner="m1") is not None:
        n_run += 1
    assert n_run == 2  # the redelivered J0 was not re-admitted

    reg = ClientRegistry(wh)
    reg.register("c0", now=0.0)
    reg.register("c1", now=0.0)
    run_result_egress(spark, outbox, egress, reg, str(tmp_path / "ckpt_out"), now=1.0)

    for k, s in enumerate(seeds):
        with open(os.path.join(egress, f"c{k}", f"J{k}.json")) as f:
            got = json.load(f)
        oracle = crawl(s, 2, spec)
        assert [sorted(level) for level in got["results"]] == oracle.levels_sorted()
        assert got["clientId"] == f"c{k}"
