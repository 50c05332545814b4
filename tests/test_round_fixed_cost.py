"""Every Spark job a crawl round submits does crawl work: frontier reads
list their bucket dirs on the driver, the fetch join's corpus buckets come
from the manifest (each entry's corpus_mask) instead of a collect, the
corpus scan takes an explicit schema, and the fused write keeps the width
the engine sized for it instead of whatever AQE coalesces it to."""

import json
import os
import re

import pandas as pd
from pyspark.sql import functions as F

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.functions import urls as U
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy
from distributed_web_crawler_spark.plans import frontier
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine
from distributed_web_crawler_spark.session import sized_tasks


def _corpus_buckets(df) -> set:
    """The corpus buckets of a frame's URLs by the JVM's own page_index,
    so the check does not lean on the numpy twin it checks."""
    b = F.pmod(U.page_index(F.col("url")), F.lit(C.N_BUCKETS))
    return {r[0] for r in df.select(b).distinct().collect() if r[0] is not None}


def _spy_verify(monkeypatch):
    """Record (buckets passed to the fetch join, JVM buckets of the
    admitted rows) for every round's payload verify."""
    calls = []
    orig = frontier.fetch_and_verify

    def spy(spark, corpus_path, admitted, buckets, *a):
        calls.append((set(buckets), _corpus_buckets(admitted)))
        return orig(spark, corpus_path, admitted, buckets, *a)

    monkeypatch.setattr(frontier, "fetch_and_verify", spy)
    return calls


def _check_entry_masks(spark, eng, job_id) -> int:
    """Every committed manifest entry carries the exact corpus buckets of
    its file-set; returns how many entries were checked."""
    store = eng.store(job_id)
    n = 0
    for r in store.committed_rounds():
        for e in store.read_commit(r)["frontier_manifest"]:
            assert len(e) == 5, (r, e)
            got = set(C.mask_buckets(e[4]))
            assert got == _corpus_buckets(eng._read_components([os.path.join(store.dir, e[0])])), (r, e)
            n += 1
    return n


def _check_payloads(eng, job_id) -> None:
    store = eng.store(job_id)
    for r in store.committed_rounds():
        c = store.read_commit(r)
        if c.get("n_admitted", 0) > 0:
            assert c["payload"]["n"] == c["n_admitted"], (r, c["payload"])


def test_corpus_mask_is_page_index_in_numpy(spark, corpus_1k):
    spec, _ = corpus_1k
    urls = [C.url_of(i, spec) for i in (0, 3, 31, 32, 77, 999)] + [
        "http://h0001.test/p/5\r",
        "http://h0001.test/p/6\n",
        "http://h0001.test/p/7\r\n",
        "http://h0001.test/p/8 ",
        "http://h0001.test/p/9\n\n",
        "http://h0001.test/p/10 ",
        "http://h0001.test/p/١٢",
        "https://h0002.test/p/000011",
        "http://other.example/p/12",
        "http://h0001.test/p/13/x",
        "",
    ]
    for u in urls:
        want = _corpus_buckets(spark.createDataFrame(pd.DataFrame({"url": [u]})))
        assert set(C.mask_buckets(C.corpus_mask([u]))) == want, repr(u)
    assert C.corpus_mask([]) == 0
    assert C.mask_buckets(C.ALL_BUCKETS) == list(range(C.N_BUCKETS))


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
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(verify_payloads=True))
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


def test_manifest_masks_are_exact_and_prune_the_fetch(spark, corpus_1k, tmp_path, monkeypatch):
    """Without politeness every round drains whole file-sets, so the fetch
    join's buckets equal the admitted rows' buckets; every entry kind —
    seed, new-URL, reseed — carries its set's exact buckets."""
    spec, path = corpus_1k
    calls = _spy_verify(monkeypatch)
    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(verify_payloads=True))
    seeds = [C.url_of(i, spec) for i in range(3, 40, 3)]
    assert eng.run_job("mk", seeds, 3)["done"]
    assert len(calls) == 3
    for buckets, admitted in calls:
        assert buckets == admitted and len(admitted) > 1
    # reseed entries: one deferred/due=<depth> set per depth
    victims = [C.url_of(i, spec) for i in (3, 6)]
    assert eng.unsee_urls("mk", victims, reseed=True)["n_reseeded"] == 2
    assert eng.run_job("mk", seeds, 3)["done"]
    assert calls[-1][0] == calls[-1][1] == {C.bucket_of(3), C.bucket_of(6)}
    assert _check_entry_masks(spark, eng, "mk") == 4  # seed, 2 new-URL, 1 reseed
    _check_payloads(eng, "mk")


def test_politeness_masks_equal_the_admitted_rows(spark, corpus_1k, tmp_path, monkeypatch):
    """Under politeness every round, sub-round 0 included, drains a
    written schedule slice, so the fetch join's buckets equal the admitted
    rows' buckets; deferred-slice and fcompact entries carry their own
    sets' exact buckets."""
    spec, path = corpus_1k
    calls = _spy_verify(monkeypatch)
    # 12 mega-host seeds (i % 10 == 0 lives on host 0) at budget 1 per
    # sub-round, plus one page per other bucket
    seeds = [C.url_of(i, spec) for i in range(0, 120, 10)] + [C.url_of(i, spec) for i in (1, 2, 3)]
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=500), frontier_compact_every=2,
            seen_buckets=8, verify_payloads=True,
        ),
    )
    assert eng.run_job("pm", seeds, 2)["done"]
    assert len(calls) >= 12
    assert all(buckets == admitted for buckets, admitted in calls)
    store = eng.store("pm")
    kinds = {
        k for r in store.committed_rounds() for e in store.read_commit(r)["frontier_manifest"]
        for k in ("deferred", "fcompact") if k in e[0]
    }
    assert kinds == {"deferred", "fcompact"}
    _check_entry_masks(spark, eng, "pm")
    _check_payloads(eng, "pm")


def test_four_element_entries_resume(spark, corpus_1k, tmp_path, monkeypatch):
    """A store whose entries predate corpus_mask resumes: a 4-element
    entry stands for every corpus bucket, and the crawl and its payload
    stats equal an uninterrupted run's."""
    spec, path = corpus_1k
    seeds = [C.url_of(i, spec) for i in range(5, 60, 5)]
    ref = FrontierEngine(spark, str(tmp_path / "ref"), path, spec, EngineConfig(verify_payloads=True))
    assert ref.run_job("old", seeds, 3)["done"]

    eng = FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(verify_payloads=True))
    assert not eng.run_job("old", seeds, 3, max_rounds=1)["done"]
    store = eng.store("old")
    last = store.last_committed()
    commit = os.path.join(store.round_dir(last), "commit.json")
    with open(commit) as f:
        info = json.load(f)
    info["frontier_manifest"] = [e[:4] for e in info["frontier_manifest"]]
    with open(commit, "w") as f:
        json.dump(info, f)

    calls = _spy_verify(monkeypatch)
    assert eng.run_job("old", seeds, 3)["done"]
    assert calls[0][0] == set(range(C.N_BUCKETS))  # the old entry: all buckets
    assert calls[1][0] == calls[1][1]  # the next round's entries carry masks
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
