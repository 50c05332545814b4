"""Result egress + connection registry (S6/J2/W3 — the reference's
ClientFacingServer subsystem, server.go:134-248): live-conn registration
with idle reaping, DoneJob push to live clients only, idempotent
redelivery, and the CrawlService outbox hook."""

import json
import os

from distributed_web_crawler_spark.streaming.egress import (
    ClientRegistry,
    publish_done,
    run_result_egress,
)


def test_registry_register_heartbeat_reap(tmp_path):
    reg = ClientRegistry(str(tmp_path), idle_timeout_s=60.0)
    reg.register("c0", now=0.0)
    reg.register("c1", now=10.0)
    assert reg.live_clients(now=20.0) == ["c0", "c1"]
    assert reg.heartbeat("c0", now=50.0)
    assert not reg.heartbeat("ghost", now=50.0)
    # c1 idle since 10.0: reaped at 80.0 (>60 s); c0 heartbeated at 50.0
    assert reg.reap_idle(now=80.0) == ["c1"]
    assert reg.live_clients(now=80.0) == ["c0"]
    # re-register after reap works (reference reconnect path)
    reg.register("c1", now=81.0)
    assert reg.live_clients(now=82.0) == ["c0", "c1"]


def test_egress_pushes_to_live_clients_only(spark, tmp_path):
    outbox = str(tmp_path / "outbox")
    egress = str(tmp_path / "egress")
    reg = ClientRegistry(str(tmp_path / "wh"), idle_timeout_s=60.0)
    reg.register("alive", now=0.0)
    reg.register("gone", now=0.0)
    reg.reap_idle(now=100.0)  # both idle > 60 → both reaped
    reg.register("alive", now=100.0)  # alive reconnects

    publish_done(outbox, "J1", "alive", [["u1"], ["u2", "u3"]])
    publish_done(outbox, "J2", "gone", [["x"]])
    run_result_egress(
        spark, outbox, egress, reg, str(tmp_path / "ckpt"), available_now=True, now=100.0
    )
    with open(os.path.join(egress, "alive", "J1.json")) as f:
        got = json.load(f)
    assert got == {"jobId": "J1", "clientId": "alive", "results": [["u1"], ["u2", "u3"]]}
    # the reaped client's result was dropped (cache serves a re-request)
    assert not os.path.exists(os.path.join(egress, "gone"))

    # redelivery is idempotent: new outbox file for the same job overwrites
    publish_done(outbox, "J1", "alive", [["u1"], ["u2", "u3"]])
    run_result_egress(
        spark, outbox, egress, reg, str(tmp_path / "ckpt2"), available_now=True, now=100.0
    )
    assert sorted(os.listdir(os.path.join(egress, "alive"))) == ["J1.json"]


def test_crawl_service_outbox(spark, corpus_1k, tmp_path):
    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
    from distributed_web_crawler_spark.plans.ledger import CrawlService, JobCache, JobLedger

    spec, path = corpus_1k
    wh = str(tmp_path / "wh")
    outbox = str(tmp_path / "outbox")
    eng = FrontierEngine(spark, wh, path, spec, EngineConfig())
    svc = CrawlService(engine=eng, ledger=JobLedger(wh), cache=JobCache(wh), outbox=outbox)
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 2)
    svc.submit("J1", "c7", C.url_of(seed_i, spec), 2)
    r = svc.run_next(owner="m1", now=1000.0)
    with open(os.path.join(outbox, "J1.json")) as f:
        done = json.load(f)
    assert done["jobId"] == "J1" and done["clientId"] == "c7"
    assert done["results"] == r["results"]
    # cache-served repeat publishes too (reference: DoneJob also flows on hits)
    svc.submit("J2", "c8", C.url_of(seed_i, spec), 2)
    r2 = svc.run_next(owner="m1", now=1001.0)
    assert r2["from_cache"]
    with open(os.path.join(outbox, "J2.json")) as f:
        assert json.load(f)["clientId"] == "c8"
