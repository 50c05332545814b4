"""Frontier-manifest growth audit (r7 verdict #5): a politeness-throttled
depth appends one new/ manifest entry PER SUB-ROUND, so without
compaction a 10^4-sub-round drain grows commit.json and the next depth's
sub-round-0 union linearly with rounds. _compact_manifest (LSM smallest-K
merge into fcompact/d=<depth>/) must bound every (depth, due=0) group at
K entries over a 40+ sub-round drain, without changing any crawl
result, and vacuum must sweep superseded fcompact generations."""

import os

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.oracle.crawler import PolitenessPolicy
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

N_SEEDS = 40  # all on the mega-host -> budget-1 politeness = 40 sub-rounds
K = 4  # small merge threshold so the drain exercises many generations


def test_manifest_bounded_over_40_subrounds(spark, corpus_1k, tmp_path):
    spec, corpus = corpus_1k
    # every i % 10 == 0 lives on host 0 (FIXTURES mega-host rule);
    # round_duration 500 ms -> max_per_round = 1 for every host
    seeds = [C.url_of(i, spec) for i in range(0, N_SEEDS * 10, 10)]
    assert all(C.host_of(i, spec) == 0 for i in range(0, N_SEEDS * 10, 10))
    cfg = dict(seen_buckets=8, compact_seen_every=8)
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), corpus, spec,
        EngineConfig(
            politeness=PolitenessPolicy(round_duration_ms=500),
            frontier_compact_every=K, **cfg,
        ),
    )
    store = eng.store("fc")
    max_group = {}
    fcompact_paths = set()
    rounds = [0]

    def on_round(_stats):
        r = store.last_committed()
        rounds[0] = r
        man = store.read_commit(r)["frontier_manifest"]
        by_group: dict = {}
        for e in man:
            if (e[3] if len(e) > 3 else 0) == 0:
                by_group[e[1]] = by_group.get(e[1], 0) + 1
            if "fcompact" in e[0]:
                fcompact_paths.add(e[0])
        for depth, n in by_group.items():
            max_group[depth] = max(max_group.get(depth, 0), n)
            # THE bound: a committed manifest never carries more than K
            # entries per group (the compactor fires pre-commit the round
            # the group would reach K+1)
            assert n <= K, (r, depth, n, man)

    res = eng.run_job("fc", seeds, 2, on_round=on_round)
    assert res["done"]
    # the drain really was politeness-bound: >= N_SEEDS committed sub-rounds
    assert rounds[0] >= N_SEEDS, rounds[0]
    # compaction actually fired, across multiple generations
    assert len(fcompact_paths) >= 2, fcompact_paths
    # the bound was EXERCISED, not vacuous: some group reached the cap
    assert max(max_group.values()) == K, max_group

    # results are identical to an unthrottled, uncompacted run: politeness
    # and manifest compaction are schedule/layout-only
    ref = FrontierEngine(
        spark, str(tmp_path / "wh_ref"), corpus, spec,
        EngineConfig(politeness=None, frontier_compact_every=None, **cfg),
    )
    assert ref.run_job("fc", seeds, 2)["done"]
    mine = {(r["url"], r["depth"]) for r in eng.seen_df("fc").collect()}
    want = {(r["url"], r["depth"]) for r in ref.seen_df("fc").collect()}
    assert mine == want
    assert eng.client_payload("fc", 2) == ref.client_payload("fc", 2)

    # superseded fcompact generations are garbage once dereferenced
    stats = store.vacuum(staging_age_s=0.0)
    assert stats["stale_fcompact"] >= 1, stats
    # and the live state still reads back whole
    assert {(r["url"], r["depth"]) for r in eng.seen_df("fc").collect()} == want
