"""The merge-on-read bucket reader (plans/frontier._live_seen) that the
probe's exact re-check, the seen compaction and the client payload share:
the compaction refuses to flip its pointer when the rows it wrote differ
from the live count the commits sum to, and the payload read through the
reader equals the results_df view and the oracle at every step of a
store's life (crawl, compaction, unsee, unsee + reseed + resume,
vacuum)."""

import glob
import os

import pytest
from conftest import _check_payloads
from pyspark.sql import functions as F
from test_unsee_model import _model_drain

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import crawl
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

DEPTH = 3


def _engine(spark, corpus_1k, tmp_path):
    spec, path = corpus_1k
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(seen_buckets=8, compact_seen_every=None),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    return eng, spec, seed_i


def test_compaction_refuses_a_short_merge(spark, corpus_1k, tmp_path):
    """A seen delta that lost a part file makes the compaction write fewer
    rows than the commits count: it raises before the pointer flip, the
    live compaction stays the one before, and vacuum sweeps the staging."""
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    assert not eng.run_job("cx", seed, DEPTH, max_rounds=1)["done"]
    assert eng.compact_seen("cx")["compacted"]
    assert eng.run_job("cx", seed, DEPTH)["done"]
    store = eng.store("cx")
    pointer = store.read_seen_compact()
    assert pointer["upto"] == 1
    live = [p for _, p in store.seen_components()]
    assert len(live) == 2  # the compaction, and round 2's delta
    (victim, *_) = sorted(glob.glob(os.path.join(live[1], "seen_bucket=*", "*.parquet")))
    os.unlink(victim)

    with pytest.raises(AssertionError, match="seen compaction wrote"):
        eng.compact_seen("cx")
    assert store.read_seen_compact() == pointer
    staged = [d for d in os.listdir(store.seen_compact_dir()) if d != os.path.basename(pointer["path"])]
    assert len(staged) == 1, staged
    assert store.vacuum(staging_age_s=0)["stale_compacts"] == 1
    assert os.listdir(store.seen_compact_dir()) == [os.path.basename(pointer["path"])]


def _results_view(eng, job_id):
    rows = (
        eng.results_df(job_id)
        .groupBy("depth")
        .agg(F.sort_array(F.collect_set("url")).alias("urls"))
        .collect()
    )
    by_depth = {row["depth"]: row["urls"] for row in rows}
    return [sorted(by_depth.get(i, [])) for i in range(DEPTH)]


def test_payload_matches_results_view_and_oracle(spark, corpus_1k, tmp_path):
    eng, spec, seed_i = _engine(spark, corpus_1k, tmp_path)
    seed = C.url_of(seed_i, spec)
    # model: url -> depth, starting from the oracle's crawl
    model = {u: d for d, urls in enumerate(crawl(seed_i, DEPTH, spec).levels_sorted()) for u in urls}
    steps = []

    def check(step):
        want = [sorted(u for u, d in model.items() if d == i) for i in range(DEPTH)]
        got = eng.client_payload("pp", DEPTH)
        assert got == _results_view(eng, "pp") == want, step
        steps.append(step)

    assert eng.run_job("pp", seed, DEPTH)["done"]
    check("crawl")
    assert eng.compact_seen("pp")["compacted"]
    check("compact")
    by_depth = {d: sorted(u for u, dd in model.items() if dd == d) for d in range(1, DEPTH)}
    gone = [by_depth[1][0], by_depth[2][0]]
    assert eng.unsee_urls("pp", gone)["n_unseen"] == 2
    for u in gone:
        del model[u]
    check("unsee")
    again = {u: model[u] for u in (by_depth[1][1], by_depth[2][1])}
    assert eng.unsee_urls("pp", sorted(again), reseed=True)["n_reseeded"] == 2
    assert eng.run_job("pp", seed, DEPTH)["done"]
    # the reseeds re-enter at their depths, and their drain re-discovers
    # any unseen link target
    _model_drain(model, again, spec)
    check("reseed")
    eng.store("pp").vacuum(staging_age_s=0)
    check("vacuum")
    assert steps == ["crawl", "compact", "unsee", "reseed", "vacuum"]
    _check_payloads(eng, "pp")
