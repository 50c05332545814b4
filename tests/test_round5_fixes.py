"""Round-5 hardening regressions: per-thread FAIR pools, round-failure
cache release, seen-compact pointer read races, and the bfs helper's
cache release."""

import json
import os

import pytest
from pyspark.sql import functions as F

from distributed_web_crawler_spark.catalog.tables import JobStateStore
from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.plans.frontier import (
    EngineConfig,
    FrontierEngine,
    _pool_submit,
)


def test_pool_submit_tags_fair_pools(spark):
    """Each _POOL worker thread runs its Spark actions under its OWN
    spark.scheduler.pool (auto-created pools fair-share against each
    other); without the tag every concurrent job lands in the single
    FIFO default pool and FAIR mode schedules exactly like FIFO."""
    import threading

    def probe():
        return (
            threading.current_thread().name,
            spark.sparkContext.getLocalProperty("spark.scheduler.pool"),
        )

    results = [_pool_submit(spark, probe).result() for _ in range(8)]
    for tname, pool in results:
        assert pool == tname
        assert tname.startswith("frontier-io")
    # the main thread is NOT tagged — its jobs stay in the default pool
    assert spark.sparkContext.getLocalProperty("spark.scheduler.pool") in (None, "default")


def test_run_round_failure_releases_caches(spark, corpus_1k, tmp_path, monkeypatch):
    """A mid-round failure (commit refused) must drain the concurrent
    verify future and unpersist every frame the round cached."""
    spec, path = corpus_1k
    eng = FrontierEngine(
        spark,
        str(tmp_path / "wh"),
        path,
        spec,
        EngineConfig(verify_payloads=True),
    )
    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    calls = {"n": 0}
    orig = JobStateStore.commit_round

    def boom(self, r, info, touched_blooms=()):
        calls["n"] += 1
        raise RuntimeError("simulated commit failure")

    monkeypatch.setattr(JobStateStore, "commit_round", boom)
    seed = C.url_of(1, spec)
    with pytest.raises(RuntimeError, match="simulated commit failure"):
        eng.run_job("failjob", seed, depth=2)
    monkeypatch.setattr(JobStateStore, "commit_round", orig)
    assert calls["n"] == 1
    # id-SET difference, not a count compare: the async ContextCleaner may
    # drop unrelated GC'd entries mid-test (order-dependent flake found by
    # review) — what matters is that THIS call left nothing new behind
    after = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    assert not (after - before)


def test_read_seen_compact_tolerates_vanishing_and_corrupt_pointers(tmp_path):
    """vacuum() deletes superseded pointer files concurrently with
    readers; a vanished or torn pointer must be skipped, not crash the
    seen scan. Corrupt file stands in for the vanish race (same handler)."""
    store = JobStateStore(str(tmp_path / "wh"), "j")
    os.makedirs(store.dir, exist_ok=True)
    with open(os.path.join(store.dir, "seen_compact_v3.json"), "w") as f:
        json.dump({"upto": 3, "path": "seen_compact/g3"}, f)
    with open(os.path.join(store.dir, "seen_compact_v5.json"), "w") as f:
        f.write("{ torn write")
    sc = store.read_seen_compact()
    assert sc == {"upto": 3, "path": "seen_compact/g3"}


def test_bfs_releases_interim_caches(spark):
    """bfs() must not pin O(depth) persisted generations: after it
    returns, only the final self-contained result may hold storage."""
    from distributed_web_crawler_spark.operators.bfs import bfs

    from distributed_web_crawler_spark.operators.bfs import release_checkpoint

    before = set(spark.sparkContext._jsc.getPersistentRDDs().keys())
    edges = spark.createDataFrame(
        [(f"u{i}", f"u{i + 1}") for i in range(20)], ["src", "dst"]
    )
    seed = spark.createDataFrame([("u0",)], ["url"])
    out = bfs(edges, seed, max_depth=10, checkpoint_every=3)
    got = {r["url"]: r["depth"] for r in out.collect()}
    assert got == {f"u{i}": i for i in range(11)}
    # the returned localCheckpoint is the only storage allowed to remain,
    # and releasing it leaves nothing of ours behind
    new_ids = set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before
    assert len(new_ids) <= 1
    release_checkpoint(out)
    assert not (set(spark.sparkContext._jsc.getPersistentRDDs().keys()) - before)

