"""Engine ↔ oracle equivalence (SURVEY.md §5.1): per-depth URL sets are
compared order-insensitively within a depth and ordered across depths; the
seen set and the per-(depth, sub-round) politeness schedule must match
exactly. Also covers resume (W2) and payload verification (input_hint)."""

import os

import pytest
from conftest import _check_payloads

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import (
    PolitenessPolicy,
    RobotsPolicy,
    crawl,
)
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine


def pick_seed(spec, min_degree=3, skip=0):
    found = 0
    for i in range(spec.n):
        if len(C.out_links(i, spec)) >= min_degree:
            if found == skip:
                return i
            found += 1
    raise AssertionError


def engine_for(spark, tmp_path, corpus, cfg=None):
    spec, path = corpus
    return FrontierEngine(spark, str(tmp_path / "wh"), path, spec, cfg)


def assert_matches_oracle(engine, job_id, seed_i, depth, oracle_res, spec, check_schedule=False):
    payload = engine.client_payload(job_id, depth)
    assert payload == oracle_res.levels_sorted()
    seen = {r["url"] for r in engine.seen_df(job_id).collect()}
    assert seen == oracle_res.seen
    if check_schedule:
        m = engine.metrics_df(job_id).orderBy("round").collect()
        got = [(r["depth"], r["sub_round"], r["n_admitted"]) for r in m]
        want = [(d, s, len(urls)) for d, s, urls in oracle_res.schedule]
        assert got == want
    _check_payloads(engine, job_id)


@pytest.mark.parametrize("depth", [1, 2, 3])
def test_plain_bfs_matches_oracle(spark, corpus_1k, tmp_path, depth):
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig())
    s = eng.run_job(f"plain{depth}", C.url_of(seed_i, spec), depth)
    assert s["done"]
    assert_matches_oracle(eng, f"plain{depth}", seed_i, depth, crawl(seed_i, depth, spec), spec)


def test_forced_false_positives_are_rescued(spark, corpus_1k, tmp_path):
    from distributed_web_crawler_spark.functions.bloom import BloomParams

    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    # tiny filters force false positives → exact re-check must rescue them
    # (1,024-bit filters gave none on this 13-URL crawl; 8 bits give 4)
    cfg = EngineConfig(seen_buckets=8, bloom=BloomParams(n_bits=8, n_hashes=1))
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s = eng.run_job("bloom", C.url_of(seed_i, spec), 3)
    assert s["done"]
    assert_matches_oracle(eng, "bloom", seed_i, 3, crawl(seed_i, 3, spec), spec)
    # the fused write's probe counters: new = distinct candidates minus the
    # positives the exact re-check confirmed as seen, and the forced false
    # positives show up
    m = eng.metrics_df("bloom").collect()
    for row in m:
        assert row["n_new"] == row["n_candidates"] - (row["n_probe_pos"] - row["n_probe_fp"]), row
        # the re-check loads seen hashes exactly when a group has positives
        assert (row["n_recheck_rows"] > 0) == (row["n_probe_pos"] > 0), row
    assert sum(row["n_probe_fp"] for row in m) > 0


def test_politeness_schedule_matches_oracle(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    pol = PolitenessPolicy(round_duration_ms=4000)
    seed_i = pick_seed(spec)
    cfg = EngineConfig(politeness=pol)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("pol", C.url_of(seed_i, spec), 3)
    assert_matches_oracle(
        eng, "pol", seed_i, 3, crawl(seed_i, 3, spec, politeness=pol), spec, check_schedule=True
    )


@pytest.mark.parametrize("detailed_metrics", [True, False])
def test_robots_matches_oracle(spark, corpus_1k, tmp_path, detailed_metrics):
    """n_blocked is the oracle's count whatever detailed_metrics says: the
    fused write counts it for free, so the flag is ignored."""
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    seed_i = pick_seed(spec)
    cfg = EngineConfig(robots=rob, detailed_metrics=detailed_metrics)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("rob", C.url_of(seed_i, spec), 3)
    o = crawl(seed_i, 3, spec, robots=rob)
    assert_matches_oracle(eng, "rob", seed_i, 3, o, spec)
    total_blocked = sum(r["n_blocked"] for r in eng.metrics_df("rob").collect())
    assert total_blocked == o.n_blocked


def test_robots_blocked_count_deep(spark, corpus_1k, tmp_path):
    """Regression (ADVICE r1): n_blocked must be multiplicity-preserving —
    a blocked URL discovered twice within one round counts twice, like the
    oracle's per-occurrence check (oracle/crawler.py:141-147). The depth-3
    fixture has no within-round duplicate of a blocked URL; depth 6 from
    seed 1 does, and diverged before the fix (oracle 3 vs engine 2)."""
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(robots=rob))
    eng.run_job("robd", C.url_of(1, spec), 6)
    o = crawl(1, 6, spec, robots=rob)
    assert_matches_oracle(eng, "robd", 1, 6, o, spec)
    total_blocked = sum(r["n_blocked"] for r in eng.metrics_df("robd").collect())
    assert total_blocked == o.n_blocked


def test_resume_after_crash_before_first_commit(spark, corpus_1k, tmp_path):
    """Regression (ADVICE r1): a crash BETWEEN the round-0 staging writes and
    commit_round(0) must not wedge the job — resume drops the uncommitted r0
    dir instead of failing the seed write with path-already-exists."""
    import os

    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig())
    store = eng.store("crash0")
    os.makedirs(store.round_dir(0), exist_ok=True)
    spark.createDataFrame([(C.url_of(seed_i, spec),)], "url string").write.parquet(
        store.new_path(0)
    )
    assert store.last_committed() is None  # staged but never committed
    s = eng.run_job("crash0", C.url_of(seed_i, spec), 2)
    assert s["done"]
    assert_matches_oracle(eng, "crash0", seed_i, 2, crawl(seed_i, 2, spec), spec)


def test_full_stack_matches_oracle(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    pol, rob = PolitenessPolicy(), RobotsPolicy()
    seed_i = pick_seed(spec, skip=1)
    cfg = EngineConfig(politeness=pol, robots=rob, seen_buckets=16)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("full", C.url_of(seed_i, spec), 3)
    o = crawl(seed_i, 3, spec, politeness=pol, robots=rob)
    assert_matches_oracle(eng, "full", seed_i, 3, o, spec, check_schedule=True)


def test_resume_mid_crawl(spark, corpus_1k, tmp_path):
    """W2: kill after round r's commit, restart, final state identical."""
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    cfg = EngineConfig(seen_buckets=8)
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s1 = eng.run_job("res", C.url_of(seed_i, spec), 3, max_rounds=1)
    assert not s1["done"]
    s2 = eng.run_job("res", C.url_of(seed_i, spec), 3)  # resume
    assert s2["done"] and s2["last_round"] > s1["last_round"]
    assert_matches_oracle(eng, "res", seed_i, 3, crawl(seed_i, 3, spec), spec)


def test_payload_verification(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    cfg = EngineConfig()
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    eng.run_job("pay", C.url_of(seed_i, spec), 2)
    store = eng.store("pay")
    stats = [store.read_commit(r).get("payload") for r in store.committed_rounds()]
    stats = [s for s in stats if s]
    assert stats, "payload stats recorded"
    for s in stats:
        assert s["n"] == s["n_pixels_ok"] == s["n_phash_ok"] == s["n_caption_ok"]
        assert s["min_psnr"] >= 40.0


def test_malformed_seed_completes_with_seed_only(spark, corpus_1k, tmp_path):
    """A seed outside the corpus URL scheme must not crash (ANSI casts on
    the host/page regexes yield NULL via try_cast, falling through robots
    and getting politeness budget 1): the job completes with only the seed
    seen and no extracted links."""
    spec, _ = corpus_1k
    from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy

    cfg = EngineConfig(politeness=PolitenessPolicy(), robots=RobotsPolicy())
    eng = engine_for(spark, tmp_path, corpus_1k, cfg)
    s = eng.run_job("mal", "http://nonsense.example/xyz", 2)
    assert s["done"] and s["n_seen"] == 1
    assert eng.client_payload("mal", 2) == [["http://nonsense.example/xyz"], []]
    # a malformed URL whose PATH matches a disallow prefix: the NULL host
    # must coalesce to not-blocked, not to a silently-dropped NULL row
    s2 = eng.run_job("mal2", "http://nonsense.example/p/33", 2)
    assert s2["done"] and s2["n_seen"] == 1
    assert eng.client_payload("mal2", 2) == [["http://nonsense.example/p/33"], []]


def test_blocked_seed_yields_empty_job(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    rob = RobotsPolicy()
    blocked = [i for i in range(spec.n) if rob.blocked(i, spec)]
    if not blocked:
        pytest.skip("no blocked page at this corpus size")
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(robots=rob))
    s = eng.run_job("blk", C.url_of(blocked[0], spec), 2)
    assert s["done"] and s["n_seen"] == 0


def test_fused_dedup_across_arrow_batches(spark, corpus_1k, tmp_path, fused_probe):
    """The fused write task dedups, Bloom-probes and exact-checks a whole
    bucket group at once, however many ARROW BATCHES it arrives in
    (maxRecordsPerBatch=2048; each group here holds ~3,600 rows): a
    candidate set with every URL duplicated many times must be written
    exactly once per URL, with seen URLs dropped and unseen kept, and the
    task's counters must be true counts (fixtures keep the candidate sets
    far below one batch, so this path is otherwise untested until
    production scale)."""
    from distributed_web_crawler_spark.fixtures import corpus as C
    from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

    spec, path = corpus_1k
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec, EngineConfig(seen_buckets=2)
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    eng.run_job("fb", C.url_of(seed_i, spec), 2)
    store = eng.store("fb")
    seen_urls = {r["url"] for r in eng.seen_df("fb").collect()}
    assert len(seen_urls) >= 4

    # 600 distinct URLs (some seen, some not) x 12 copies = 7200 rows in
    # 2 bucket groups
    distinct_urls = sorted(seen_urls) + [C.url_of(i, spec) for i in range(600 - len(seen_urls))]
    distinct_urls = sorted(set(distinct_urls))
    got, task = fused_probe(eng, store, distinct_urls * 12, store.last_committed() + 1)
    assert len(got) == len(set(got)), "duplicates leaked into the written part"
    assert set(got) == set(distinct_urls) - seen_urls
    assert task["n_candidates"] == len(distinct_urls)
    # no false negatives: every seen URL is a Bloom positive, and exactly
    # the positives the exact re-check rejected as seen are dropped
    assert task["n_probe_pos"] - task["n_probe_fp"] == len(seen_urls & set(distinct_urls))


def test_all_seen_bucket_keeps_its_blob(spark, corpus_1k, tmp_path, fused_probe):
    """A fused-write group whose candidates were ALL seen writes no part and
    no blob and stays out of touched_blooms. Otherwise commit_round points
    that bucket's bloom manifest at a round with no blob file, the next
    probe reads an empty filter (false negatives) and URLs are crawled
    twice."""
    import numpy as np

    from distributed_web_crawler_spark.functions import bloom as B
    from distributed_web_crawler_spark.functions.xxh64 import xxh64_signed

    spec, path = corpus_1k
    nb = 64

    def bucket(i):
        return xxh64_signed(C.url_of(i, spec)) % nb

    # seeds S = {p} ∪ out_links(p): round 1's candidates are out_links(S).
    # Find a p where some bucket's round-1 candidates all lie in S, while
    # other buckets still get new URLs.
    for p in range(spec.n):
        seeds = {p} | set(C.out_links(p, spec))
        by_b: dict = {}
        for t in {t for s in seeds for t in C.out_links(s, spec)}:
            by_b.setdefault(bucket(t), set()).add(t)
        full = [b for b, ts in sorted(by_b.items()) if ts <= seeds]
        if full and any(not ts <= seeds for ts in by_b.values()):
            break
    else:
        raise AssertionError("no seed set with an all-seen bucket")
    b = full[0]

    eng = engine_for(
        spark, tmp_path, corpus_1k,
        EngineConfig(seen_buckets=nb, compact_seen_every=None),
    )
    urls = sorted(C.url_of(i, spec) for i in seeds)
    eng.run_job("as", urls, 3, max_rounds=1)
    store = eng.store("as")
    m0, m1 = store.read_commit(0)["bloom_manifest"], store.read_commit(1)["bloom_manifest"]
    assert m0[str(b)] == m1[str(b)] == 0, "all-seen bucket moved its manifest round"
    assert 1 in m1.values(), "round 1 wrote no blob at all"
    assert not os.path.exists(os.path.join(store.new_path(1), f"seen_bucket={b}"))

    # a later round still finds those hashes: the blob the manifest names
    # exists and holds them, and a fused write over them writes nothing
    params = eng.cfg.bloom
    hashes = np.array([xxh64_signed(C.url_of(i, spec)) for i in by_b[b]], dtype=np.int64)
    assert store.bloom_blobs()[b]
    assert B.contains(B.load_blobs(store.bloom_blobs()[b], params), hashes, params).all()
    got, task = fused_probe(eng, store, [C.url_of(i, spec) for i in by_b[b]], 2)
    assert got == [] and task["n_probe_pos"] == len(by_b[b]) and task["n_probe_fp"] == 0

    # resume to the end: no URL twice, same set as a plain multi-seed BFS
    eng.run_job("as", urls, 3)
    seen = [r["url"] for r in eng.seen_df("as").collect()]
    assert len(seen) == len(set(seen))
    want, level = set(seeds), sorted(seeds)
    for _ in range(2):  # depths 1 and 2 (the last depth discards links)
        level = sorted({t for i in level for t in C.out_links(i, spec)} - want)
        want |= set(level)
    assert sorted(seen) == sorted(C.url_of(i, spec) for i in want)


@pytest.mark.parametrize("robots", [None, RobotsPolicy()], ids=["plain", "robots"])
def test_new_url_path_has_one_exchange(spark, corpus_1k, tmp_path, monkeypatch, robots):
    """The round's new-URL write job shuffles once: extraction output →
    groupBy(seen_bucket) write. No probe exchange, and no persisted probe
    or robots-count frame in between."""
    from pyspark.sql.group import GroupedData

    plans = []
    orig = GroupedData.applyInPandas

    def spy(self, *a, **k):
        df = orig(self, *a, **k)
        plans.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(GroupedData, "applyInPandas", spy)
    spec, _ = corpus_1k
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig(robots=robots))
    eng.run_job("ex", C.url_of(pick_seed(spec), spec), 2)
    # the extraction stage is the page pass's mapInPandas `expand`
    # (sources/fetch.py)
    writes = [p for p in plans if "MapInPandas expand(" in p]
    assert len(writes) == 1, plans  # round 1's new-URL write
    above_extract = writes[0].split("MapInPandas expand(")[0]
    assert above_extract.count("Exchange") == 1, writes[0]
    assert "InMemory" not in above_extract, writes[0]


def test_verifying_round_runs_one_python_pass(spark, corpus_1k, tmp_path, monkeypatch):
    """A verifying extracting round reads, verifies and extracts its pages
    in ONE mapInPandas (the page pass `expand`) inside its fused write, and
    the write's stats carry the verify partials: the commit's payload
    covers every admitted page, and the partials touch no seen bucket."""
    from pyspark.sql.group import GroupedData

    DataFrame = type(spark.range(1))  # the concrete class, not the API base
    stages, writes = [], []
    orig_map, orig_apply = DataFrame.mapInPandas, GroupedData.applyInPandas

    def spy_map(self, func, *a, **k):
        stages.append(func.__name__)
        return orig_map(self, func, *a, **k)

    def spy_apply(self, *a, **k):
        df = orig_apply(self, *a, **k)
        writes.append(df._jdf.queryExecution().executedPlan().toString())
        return df

    monkeypatch.setattr(DataFrame, "mapInPandas", spy_map)
    monkeypatch.setattr(GroupedData, "applyInPandas", spy_apply)
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    rounds = []
    eng = engine_for(spark, tmp_path, corpus_1k, EngineConfig())
    eng.run_job("one", C.url_of(seed_i, spec), 2, max_rounds=1, on_round=rounds.append)
    assert stages == ["expand"], stages
    (write,) = [p for p in writes if "MapInPandas" in p]
    assert write.count("MapInPandas") == 1, write
    store = eng.store("one")
    c = store.read_commit(1)
    assert c["n_admitted"] == 1
    assert c["payload"] == {
        "n": 1.0, "n_pixels_ok": 1.0, "n_phash_ok": 1.0, "n_caption_ok": 1.0,
        "min_psnr": c["payload"]["min_psnr"],
    }
    assert c["payload"]["min_psnr"] >= 40.0
    assert c["phases"]["page_tasks"] == 1
    assert rounds[0].n_candidates == len(C.out_links(seed_i, spec)) == c["n_new"]
    assert all(int(b) >= 0 for b in c["bloom_manifest"])
    assert not os.path.exists(os.path.join(store.new_path(1), "seen_bucket=-1"))


def _check_verify_stats(eng, job_id):
    """Every admitting round committed its payload stats inside its own
    commit.json, with every admitted page verified and no sidecar file."""
    store = eng.store(job_id)
    stats = eng.payload_stats(job_id)
    admitting = [r for r in store.committed_rounds() if store.read_commit(r).get("n_admitted", 0) > 0]
    assert admitting and sorted(stats) == admitting
    for r in admitting:
        c = store.read_commit(r)
        s = c["payload"]
        assert s["n"] == c["n_admitted"] == s["n_pixels_ok"] == s["n_phash_ok"] == s["n_caption_ok"]
        assert s["min_psnr"] >= 40.0
        assert not os.path.exists(os.path.join(store.round_dir(r), "verify.json"))
    return stats


def test_pipelined_verify_same_stats_and_results(spark, corpus_1k, tmp_path):
    """Payload verify runs inside the round: its stats are committed with
    the round, a max_rounds cut plus resume reproduces them exactly, and
    the ignored pipeline_verify flag changes nothing (no sidecar, same
    stats, same crawl)."""
    spec, _ = corpus_1k
    seed_i = pick_seed(spec)
    sync = engine_for(
        spark, tmp_path / "a", corpus_1k, EngineConfig()
    )
    piped = engine_for(
        spark, tmp_path / "b", corpus_1k,
        EngineConfig(pipeline_verify=True),
    )
    rs = sync.run_job("pay", C.url_of(seed_i, spec), 3)
    rp = piped.run_job("pay", C.url_of(seed_i, spec), 3)
    assert rp["done"] and rp["n_seen"] == rs["n_seen"] == sync.seen_df("pay").count()
    assert sync.client_payload("pay", 3) == piped.client_payload("pay", 3)
    ss = _check_verify_stats(sync, "pay")
    assert _check_verify_stats(piped, "pay") == ss

    # a cut after one round commits that round's stats; the resume adds
    # the rest, equal to the uninterrupted run's
    cut = engine_for(
        spark, tmp_path / "c", corpus_1k, EngineConfig()
    )
    assert not cut.run_job("res", C.url_of(seed_i, spec), 3, max_rounds=1)["done"]
    assert sorted(cut.payload_stats("res")) == [1]
    assert cut.payload_stats("res")[1] == ss[1]
    assert cut.run_job("res", C.url_of(seed_i, spec), 3)["n_seen"] == rs["n_seen"]
    assert _check_verify_stats(cut, "res") == ss


def test_pipelined_verify_with_politeness_subrounds(spark, corpus_1k, tmp_path):
    """The same holds when a depth drains in politeness sub-rounds (many
    small rounds, one verify per admitted slice): stats committed per
    round, a cut plus resume equal to the uninterrupted run, the ignored
    pipeline_verify flag without effect, and the crawl equal to the
    oracle."""
    spec, _ = corpus_1k

    def shares_a_host(i):
        links = set(C.out_links(i, spec))
        return len({C.host_of(j, spec) for j in links}) < len(links)

    # budget 1 per host: two depth-1 links on one host need two sub-rounds
    seed_i = next(i for i in range(spec.n) if shares_a_host(i))
    pol = PolitenessPolicy(round_duration_ms=500)
    mk = lambda sub, pv: engine_for(  # noqa: E731
        spark, tmp_path / sub, corpus_1k,
        EngineConfig(politeness=pol, pipeline_verify=pv),
    )
    sync, piped, cut = mk("a", False), mk("b", True), mk("c", False)
    rs = sync.run_job("p", C.url_of(seed_i, spec), 2)
    rp = piped.run_job("p", C.url_of(seed_i, spec), 2)
    assert rp["done"] and rp["n_seen"] == rs["n_seen"] == sync.seen_df("p").count()
    ss = _check_verify_stats(sync, "p")
    assert len(ss) > 2  # the depth really drained in sub-rounds
    assert _check_verify_stats(piped, "p") == ss
    want = crawl(seed_i, 2, spec, politeness=pol)
    assert piped.client_payload("p", 2) == want.levels_sorted()
    cut.run_job("p", C.url_of(seed_i, spec), 2, max_rounds=1)
    assert cut.run_job("p", C.url_of(seed_i, spec), 2)["n_seen"] == rs["n_seen"]
    assert _check_verify_stats(cut, "p") == ss
