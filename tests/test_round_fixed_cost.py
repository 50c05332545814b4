"""Every Spark job a crawl round submits does crawl work: frontier reads
list their bucket dirs on the driver, the page pass finds each page in the
corpus's fetch index instead of a corpus scan or join, manifest entries
carry no per-entry corpus bookkeeping, and the fused write keeps the width
the engine sized for it instead of whatever AQE coalesces it to."""

import os
import re

import pandas as pd
from conftest import _check_payloads
from pyspark.sql import functions as F

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions import urls as U
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, RobotsPolicy, crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.session import sized_tasks
from distributed_web_crawler_spark.sources import fetch


def _entries(eng, job_id) -> list:
    """Every committed manifest entry of a job, as (round, entry)."""
    store = eng.store(job_id)
    return [(r, e) for r in store.committed_rounds() for e in store.read_commit(r)["frontier_manifest"]]


def test_index_lookup_is_page_index(spark, corpus_1k):
    """The page pass's lookup keeps a row exactly when the JVM's
    page_index (the full-URL rule) names a corpus page, and finds that
    page's record."""
    spec, path = corpus_1k
    urls = [C.url_of(i, spec) for i in (0, 3, 31, 32, 77, 999)] + [
        "http://h0001.test/p/5\r",
        "http://h0001.test/p/6\n",
        "http://h0001.test/p/7\r\n",
        "http://h0001.test/p/8 ",
        "http://h0001.test/p/9\n\n",
        "http://h0001.test/p/10 ",
        "http://h0001.test/p/١٢",
        "https://h0002.test/p/000011",
        "http://other.example/p/12",
        "http://h0001.test/p/13/x",
        f"http://h0001.test/p/{spec.n}",
        f"http://h0001.test/p/{spec.n + 5}",
        "http://h0001.test/p/99999999999999999999",
        "",
    ]
    admitted = spark.createDataFrame(pd.DataFrame({"url": urls})).withColumn(
        "page_id", U.page_index(F.col("url"))
    )
    rows = (
        fetch._pages_in(admitted, len(urls))
        .select("url", "page_id", U.page_index(F.col("url")).alias("i"))
        .collect()
    )
    pos, rec, captions = fetch._lookup([r["page_id"] for r in rows], path, {})
    want = [k for k, r in enumerate(rows) if r["i"] is not None and 0 <= r["i"] < spec.n]
    assert pos.tolist() == want, [rows[k]["url"] for k in pos]
    assert rec["id"].tolist() == [rows[k]["i"] for k in want]
    assert captions == [C.caption_of(rows[k]["i"], spec) for k in want]


def _status_store(spark):
    sc = spark.sparkContext._jsc.sc()
    sc.listenerBus().waitUntilEmpty()
    return sc.statusStore()


def _job_ids(spark) -> set:
    jobs = _status_store(spark).jobsList(None)
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def _sql_owned_jobs(spark) -> set:
    """Ids of the jobs some SQL execution owns (the SQL status store)."""
    _status_store(spark)
    execs = spark._jsparkSession.sharedState().statusStore().executionsList()
    owned = set()
    for i in range(execs.size()):
        keys = execs.apply(i).jobs().keys().toList()
        owned.update(keys.apply(k) for k in range(keys.size()))
    return owned


def test_every_round_job_belongs_to_a_sql_execution(spark, corpus_1k, tmp_path):
    """The driver-side work of a round — listing a frontier root's 64
    bucket dirs, inferring the corpus schema, finding the corpus buckets —
    submits no Spark job of its own."""
    spec, path = corpus_1k
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig())
    seeds = [C.url_of(i, spec) for i in range(120)]
    before = max(_job_ids(spark), default=-1)
    assert eng.run_job("fx", seeds, 2)["done"]
    store = eng.store("fx")
    # both drained frontier roots have more bucket dirs than Spark's
    # default parallel-listing threshold (32)
    for r in (0, 1):
        dirs = [d for d in os.listdir(store.new_path(r)) if d.startswith("seen_bucket=")]
        assert len(dirs) >= 33, (r, len(dirs))
    ids = {j for j in _job_ids(spark) if j > before}
    assert ids, "the crawl ran no job"
    assert not ids - _sql_owned_jobs(spark), sorted(ids - _sql_owned_jobs(spark))
    _check_payloads(eng, "fx")


def test_every_entry_kind_has_four_elements(spark, corpus_1k, tmp_path):
    """Without politeness every entry kind — seed, new-URL, reseed — is
    [relpath, depth, n_rows, due_sub], and every admitting round, the
    reseed drain included, verifies each admitted page."""
    spec, path = corpus_1k
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig())
    seeds = [C.url_of(i, spec) for i in range(3, 40, 3)]
    assert eng.run_job("mk", seeds, 3)["done"]
    victims = [C.url_of(i, spec) for i in (3, 6)]
    assert eng.unsee_urls("mk", victims, reseed=True)["n_reseeded"] == 2
    assert eng.run_job("mk", seeds, 3)["done"]
    entries = {e[0]: e for _, e in _entries(eng, "mk")}
    assert len(entries) == 4  # seed, 2 new-URL, 1 reseed
    assert all(len(e) == 4 for e in entries.values()), entries
    store = eng.store("mk")
    last = store.read_commit(store.last_committed())
    assert last["n_admitted"] == last["payload"]["n"] == 2  # the reseed drain
    _check_payloads(eng, "mk")


def test_politeness_rounds_verify_every_admitted_page(spark, corpus_1k, tmp_path):
    """Under politeness every round, sub-round 0 included, drains a
    written schedule slice and verifies each of its pages; deferred-slice
    and fcompact entries are four-element entries too."""
    spec, path = corpus_1k
    # 12 mega-host seeds (i % 10 == 0 lives on host 0) at budget 1 per
    # sub-round, plus one page per other bucket
    seeds = [C.url_of(i, spec) for i in range(0, 120, 10)] + [C.url_of(i, spec) for i in (1, 2, 3)]
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=500), frontier_compact_every=2,
            seen_buckets=8,
        ),
    )
    assert eng.run_job("pm", seeds, 2)["done"]
    store = eng.store("pm")
    assert sum(store.read_commit(r).get("n_admitted", 0) > 0 for r in store.committed_rounds()) >= 12
    entries = _entries(eng, "pm")
    assert {k for _, e in entries for k in ("deferred", "fcompact") if k in e[0]} == {"deferred", "fcompact"}
    assert all(len(e) == 4 for _, e in entries), entries
    _check_payloads(eng, "pm")


def test_four_element_entries_resume(spark, corpus_1k, tmp_path):
    """A store cut after one round, whose committed manifest holds
    4-element entries, resumes: the crawl and payload stats equal an
    uninterrupted run's."""
    spec, path = corpus_1k
    seeds = [C.url_of(i, spec) for i in range(5, 60, 5)]
    cfg = EngineConfig()
    ref = FrontierEngine(spark, str(tmp_path / "ref"), path, spec, cfg)
    assert ref.run_job("old", seeds, 3)["done"]

    eng = FrontierEngine(spark, str(tmp_path / "four"), path, spec, cfg)
    assert not eng.run_job("old", seeds, 3, max_rounds=1)["done"]
    store = eng.store("old")
    assert all(len(e) == 4 for e in store.read_commit(store.last_committed())["frontier_manifest"])
    assert eng.run_job("old", seeds, 3)["done"]
    assert eng.client_payload("old", 3) == ref.client_payload("old", 3)
    assert eng.payload_stats("old") == ref.payload_stats("old")
    _check_payloads(eng, "old")


def test_bulk_write_is_not_coalesced(spark, corpus_1k, tmp_path, monkeypatch):
    """The new-URL write of a bulk round runs sized_tasks(approx_rows)
    tasks: its final adaptive plan keeps the explicit bucket exchange
    and reads it with no coalesced shuffle read."""
    from pyspark.sql.group import GroupedData

    frames = []
    orig = GroupedData.applyInPandas

    def spy(self, *a, **k):
        df = orig(self, *a, **k)
        frames.append(df)
        return df

    monkeypatch.setattr(GroupedData, "applyInPandas", spy)
    spec, path = corpus_1k
    n = 300
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec)
    eng.run_job("bw", [C.url_of(i, spec) for i in range(n)], 2, max_rounds=1)
    plans = [df._jdf.queryExecution().executedPlan().toString() for df in frames]
    (plan,) = [p for p in plans if "MapInPandas expand(" in p]
    assert "isFinalPlan=true" in plan, plan
    width = sized_tasks(spark, n * C.MAX_OUT_DEGREE)
    assert width > 1
    m = re.search(r"Exchange hashpartitioning\(seen_bucket#\d+, (\d+)\)", plan)
    assert m and int(m.group(1)) == width, plan
    assert "AQEShuffleRead" not in plan, plan


def test_small_schedule_runs_three_jobs(spark, corpus_1k, tmp_path, monkeypatch):
    """A politeness sub-round 0 whose depth holds at most
    politeness.RANK_CHUNK_ROWS pending rows ranks in one plain window over
    host, so its schedule write runs at most 3 Spark jobs (the window's
    shuffle, the write's shuffle, the write) — for 1 pending row and for
    1,000 alike. Counted from the status store, by a job group set
    around each `_schedule` call."""
    spec, path = corpus_1k
    sc = spark.sparkContext
    calls = []
    orig = FrontierEngine._schedule

    def grouped(self, rnd, paths, n_pending):
        group = f"schedule-{len(calls)}"
        sc.setLocalProperty("spark.jobGroup.id", group)
        try:
            return orig(self, rnd, paths, n_pending)
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
            calls.append((n_pending, group))

    monkeypatch.setattr(FrontierEngine, "_schedule", grouped)
    pol = PolitenessPolicy(round_duration_ms=20_000)
    for job_id, seeds in (("one", [C.url_of(5, spec)]), ("all", [C.url_of(i, spec) for i in range(spec.n)])):
        eng = FrontierEngine(spark, str(tmp_path / job_id), path, spec, EngineConfig(politeness=pol, seen_buckets=8))
        assert eng.run_job(job_id, seeds, 1)["done"]
        _check_payloads(eng, job_id)
    _status_store(spark)  # drain the listener bus
    jobs = {n: len(sc.statusTracker().getJobIdsForGroup(g)) for n, g in calls}
    assert sorted(jobs) == [1, spec.n], jobs
    assert all(0 < k <= 3 for k in jobs.values()), jobs


def test_service_job_fixed_work_job_counts(spark, corpus_1k, tmp_path, monkeypatch):
    """Around the rounds of a service-shaped job (politeness, robots,
    compact_seen_every=2, depth 3), the seen compaction runs exactly 1
    Spark job (a mapInPandas over the bucket ids), the client payload
    none (it is read on the driver) and the seed round at most 2 (the
    write's shuffle and the write). Counted from the status store, by a
    job group set around each call."""
    spec, path = corpus_1k
    sc = spark.sparkContext
    calls = []

    def grouping(name):
        orig = getattr(FrontierEngine, name)

        def grouped(self, *a, **k):
            group = f"{name}-{len(calls)}"
            sc.setLocalProperty("spark.jobGroup.id", group)
            try:
                return orig(self, *a, **k)
            finally:
                sc.setLocalProperty("spark.jobGroup.id", None)
                calls.append((name, group))

        monkeypatch.setattr(FrontierEngine, name, grouped)

    for name in ("_seed_round", "compact_seen", "client_payload"):
        grouping(name)
    pol, rob = PolitenessPolicy(round_duration_ms=4000), RobotsPolicy()
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(politeness=pol, robots=rob, compact_seen_every=2),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 4)
    assert eng.run_job("svc", C.url_of(seed_i, spec), 3)["done"]
    assert eng.store("svc").read_seen_compact() is not None
    assert eng.client_payload("svc", 3) == crawl(seed_i, 3, spec, pol, rob).levels_sorted()
    _check_payloads(eng, "svc")
    _status_store(spark)  # drain the listener bus
    ids = {group: set(sc.statusTracker().getJobIdsForGroup(group)) for _, group in calls}
    jobs: dict = {}
    for name, group in calls:
        jobs.setdefault(name, []).append(len(ids[group]))
    assert jobs["compact_seen"] and all(k == 1 for k in jobs["compact_seen"]), jobs
    # the compaction's mapInPandas job is a SQL execution's, like a round's
    compacts = set().union(*(ids[g] for name, g in calls if name == "compact_seen"))
    assert compacts <= _sql_owned_jobs(spark), compacts
    assert jobs["client_payload"] == [0], jobs
    assert jobs["_seed_round"] and all(0 < k <= 2 for k in jobs["_seed_round"]), jobs
