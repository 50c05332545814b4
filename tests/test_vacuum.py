"""Storage lifecycle (Iceberg expire-snapshots / orphan-cleanup analog):
JobStateStore.vacuum drops superseded Bloom generations, drained deferred
sets, and crash staging WITHOUT changing any reader-visible state;
AtomicTable.compact expires old control-table versions while current reads
and the CDC window over kept versions keep working."""

import os

from distributed_web_crawler_spark.catalog.changes import changes_pdf, snapshots
from distributed_web_crawler_spark.catalog.tables import AtomicTable
from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.plans.ledger import JobLedger


def test_vacuum_preserves_results_and_resume(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)  # sub-rounds → deferred sets
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig(politeness=pol, seen_buckets=8)
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    eng.run_job("v", C.url_of(seed_i, spec), 3)
    store = eng.store("v")
    before = eng.client_payload("v", 3)
    # plant crash staging beyond the last commit
    os.makedirs(store.round_dir(store.last_committed() + 1))

    # default vacuum age-guards staging: a fresh round dir could be the
    # ACTIVE round of a live master, so it must survive
    stats = store.vacuum()
    assert stats["aborted_rounds"] == 0
    assert stats["stale_blooms"] > 0  # buckets rewritten across rounds left old generations
    assert os.path.isdir(store.round_dir(store.last_committed() + 1))
    # job known not-acquired -> caller may force the sweep
    assert store.vacuum(staging_age_s=0.0)["aborted_rounds"] == 1

    # reader-visible state unchanged
    assert eng.client_payload("v", 3) == before == crawl(seed_i, 3, spec, politeness=pol).levels_sorted()
    # live bloom blobs all still present
    for b, paths in store.bloom_blobs().items():
        assert paths and all(os.path.exists(p) for p in paths), b
    # vacuuming again is a no-op
    again = store.vacuum()
    assert again == {
        "aborted_rounds": 0,
        "stale_blooms": 0,
        "stale_deferred": 0,
        "stale_fcompact": 0,
        "stale_compacts": 0,
        "compacted_deltas": 0,
        "covered_tombstones": 0,
    }


def test_vacuum_mid_crawl_then_resume(spark, corpus_1k, tmp_path):
    """Vacuum between rounds of an INTERRUPTED politeness crawl must keep
    every file-set the latest manifest references (deferred politeness
    remainders included) — resume after vacuum must land on the exact
    oracle state."""
    spec, path = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig(politeness=pol, seen_buckets=8)
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    s1 = eng.run_job("mid", C.url_of(seed_i, spec), 3, max_rounds=1)
    assert not s1["done"]
    eng.store("mid").vacuum()
    s2 = eng.run_job("mid", C.url_of(seed_i, spec), 3)  # resume over vacuumed store
    assert s2["done"]
    o = crawl(seed_i, 3, spec, politeness=pol)
    assert eng.client_payload("mid", 3) == o.levels_sorted()
    m = eng.metrics_df("mid").orderBy("round").collect()
    got = [(r["depth"], r["sub_round"], r["n_admitted"]) for r in m]
    assert got == [(d, su, len(urls)) for d, su, urls in o.schedule]


def test_atomic_table_compact(tmp_path):
    led = JobLedger(str(tmp_path))
    for k in range(12):
        led.submit(f"J{k}", "c", f"u{k}", 1, now=100.0 + k)
    t = AtomicTable(str(tmp_path), "job_ledger")
    n_before = len(snapshots(t))
    assert n_before == 12
    dropped = t.compact(keep_last=4)
    assert dropped == 8
    assert len(snapshots(t)) == 4
    # current read unaffected: all 12 jobs still in the table
    df = led._t.read()
    assert sorted(df["job_id"]) == sorted(f"J{k}" for k in range(12))
    # CDC over the kept window still works (first kept version reads as inserts)
    pdf = changes_pdf(t, key="job_id")
    assert (pdf["_op"] == "insert").sum() >= 9  # snapshot baseline + 3 increments
    # writes continue normally after compaction
    assert led.submit("J99", "c", "u99", 1, now=200.0)
    assert led.get("J99") is not None


def test_verify_stats_survive_vacuum(spark, corpus_1k, tmp_path):
    """Payload-verify stats live in each round's commit.json, which vacuum
    never touches: a forced full sweep leaves every round's stats in
    place and no admitting round unverified."""
    from distributed_web_crawler_spark.oracle.crawler import RobotsPolicy

    spec, path = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(politeness=pol, robots=RobotsPolicy(), seen_buckets=8),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    eng.run_job("v", C.url_of(seed_i, spec), 2)
    store = eng.store("v")
    stats_before = eng.payload_stats("v")
    assert stats_before, "the run committed no verify stats"
    assert eng.unverified_rounds("v") == []

    store.vacuum(staging_age_s=0.0)
    assert eng.payload_stats("v") == stats_before
    assert eng.unverified_rounds("v") == []
    for s in stats_before.values():
        assert s["n"] == s["n_pixels_ok"] == s["n_phash_ok"] == s["n_caption_ok"] > 0
