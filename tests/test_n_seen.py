"""run_job's n_seen is commit arithmetic (seed rows, then each round's
n_new + reseed, minus its tombstones) — it must equal a scan of the seen
table after every kind of round: crawl, politeness sub-round, cut and
resume, unsee with and without reseed, predicate unsee, compaction and
vacuum. Also pins the dedup of seed and unsee lists on the CANONICAL URL,
which the arithmetic depends on."""

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy, RobotsPolicy
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine


def _engine(spark, corpus_1k, tmp_path, **cfg):
    spec, path = corpus_1k
    cfg = {"seen_buckets": 8, **cfg}
    return FrontierEngine(spark, str(tmp_path / "wh"), path, spec, EngineConfig(**cfg))


def _seed(spec, min_degree=3):
    return next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= min_degree)


def _check(eng, job, res):
    assert res["done"]
    assert res["n_seen"] == eng.seen_df(job).count()
    return res["n_seen"]


def _spellings(url):
    """Three spellings of one URL that canonicalize to the same string."""
    return [url, "HTTP://" + url[len("http://"):].upper(), url + "#frag"]


def test_seed_spellings_are_one_seen_row(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    eng = _engine(spark, corpus_1k, tmp_path)
    res = eng.run_job("s", _spellings(C.url_of(_seed(spec), spec)), 1)
    rows = eng.seen_df("s").collect()
    assert len(rows) == len({r["url_hash"] for r in rows}) == 1
    assert _check(eng, "s", res) == 1


def test_unsee_spellings_are_one_tombstone(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    eng = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(_seed(spec), spec)
    n0 = eng.run_job("u", seed, 2)["n_seen"]
    victim = next(r["url"] for r in eng.seen_df("u").collect() if r["depth"] == 1)
    res = eng.unsee_urls("u", [victim, victim + "#x"], reseed=True)
    assert (res["n_unseen"], res["n_reseeded"]) == (1, 1)
    assert [r["url"] for r in eng.seen_df("u").collect()].count(victim) == 1
    assert _check(eng, "u", eng.run_job("u", seed, 2)) == n0


def test_n_seen_through_unsee_compaction_and_vacuum(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    eng = _engine(spark, corpus_1k, tmp_path, robots=RobotsPolicy(), compact_seen_every=None)
    seed = C.url_of(_seed(spec), spec)
    n = _check(eng, "m", eng.run_job("m", seed, 3))
    by_depth = sorted((r["depth"], r["url"]) for r in eng.seen_df("m").collect())
    victims = [u for d, u in by_depth if d > 0]

    eng.unsee_urls("m", victims[:2])
    assert _check(eng, "m", eng.run_job("m", seed, 3)) == n - 2
    assert eng.unsee_urls("m", victims[2:4], reseed=True)["n_reseeded"] == 2
    _check(eng, "m", eng.run_job("m", seed, 3))
    assert eng.unsee_matching("m", f"depth = {by_depth[-1][0]}")["n_unseen"] > 0
    n_after = _check(eng, "m", eng.run_job("m", seed, 3))

    assert eng.compact_seen("m")["compacted"]
    eng.store("m").vacuum(staging_age_s=0.0)
    assert _check(eng, "m", eng.run_job("m", seed, 3)) == n_after


def test_n_seen_politeness_cut_and_resume(spark, corpus_1k, tmp_path):
    spec, _ = corpus_1k
    # every i % 10 == 0 is on the mega-host: budget 1 per sub-round
    seeds = [C.url_of(i, spec) for i in range(0, 40, 10)]
    pol = PolitenessPolicy(round_duration_ms=500)
    eng = _engine(spark, corpus_1k, tmp_path, politeness=pol)
    assert not eng.run_job("p", seeds, 2, max_rounds=1)["done"]
    res = eng.run_job("p", seeds, 2, max_rounds=2)
    assert not res["done"]
    res = eng.run_job("p", seeds, 2)
    store = eng.store("p")
    subs = [store.read_commit(r)["sub_round"] for r in store.committed_rounds()[1:]]
    assert max(subs) >= 3  # the seeds drained one per sub-round
    n = _check(eng, "p", res)
    ref = FrontierEngine(spark, str(tmp_path / "ref"), corpus_1k[1], spec, EngineConfig(seen_buckets=8))
    assert _check(ref, "p", ref.run_job("p", seeds, 2)) == n
