"""Model-based sequence test for the seen table's delete path.

A pure-Python model of the seen set (url -> current discovery depth,
BFS re-drain over the fixture link graph C.out_links) is driven through
a seeded-random interleaving of unsee / unsee+reseed+drain /
compact_seen / vacuum against the real engine, checking full
(url, depth) state equality after every operation. This pins the
interplays a single-scenario test can't: re-discovery of a previously
unseen URL through another URL's reseed drain (its depth may legally
CHANGE to the new discovery path's), tombstones layered over
compactions, delete files swept mid-sequence, and suppression of
multiple tombstone generations over one component."""

import random

import pytest

from distributed_web_crawler_spark.fixtures import corpus as C
from distributed_web_crawler_spark.plans.frontier import EngineConfig, FrontierEngine

DEPTH = 3


def _model_drain(seen: dict, victims: dict, spec: C.CorpusSpec) -> None:
    """BFS re-drain of reseeded `victims` (url -> depth) over the current
    `seen` state — the engine's resumed run_job: a page at depth d is
    re-fetched; iff d+1 < DEPTH its links are extracted and any target NOT
    currently seen enters at d+1 and recurses (F3/F4 guards)."""
    frontier: dict = {}
    for u, d in victims.items():
        frontier.setdefault(d, set()).add(u)
    while frontier:
        d = min(frontier)
        batch = frontier.pop(d)
        if d + 1 >= DEPTH:
            continue
        for u in sorted(batch):
            for t in C.out_links(C.index_of_url(u), spec):
                tu = C.url_of(t, spec)
                if tu not in seen:
                    seen[tu] = d + 1
                    frontier.setdefault(d + 1, set()).add(tu)


def _engine_state(eng, job):
    return {r["url"]: r["depth"] for r in eng.seen_df(job).collect()}


@pytest.mark.parametrize("seed", [7, 23])
def test_unsee_sequences_match_model(spark, corpus_1k, tmp_path, seed):
    spec, path = corpus_1k
    eng = FrontierEngine(
        spark, str(tmp_path / "wh"), path, spec,
        EngineConfig(seen_buckets=8, compact_seen_every=None),
    )
    seed_i = next(i for i in range(spec.n) if len(C.out_links(i, spec)) >= 3)
    seed_url = C.url_of(seed_i, spec)
    job = f"m{seed}"
    eng.run_job(job, seed_url, DEPTH)

    model = _engine_state(eng, job)  # initial crawl state (oracle-checked elsewhere)
    assert len(model) > 10
    rng = random.Random(seed)
    ops = []
    vacuumed = False
    for _ in range(10):
        kind = rng.choice(["unsee", "unsee", "reseed", "reseed", "compact", "vacuum"])
        ops.append(kind)
        if kind in ("unsee", "reseed"):
            pool = sorted(model)
            if len(pool) < 6:  # keep the table non-trivial mid-sequence
                continue
            k = min(len(pool), rng.randint(1, 4))
            urls = rng.sample(pool, k)
            # sprinkle in never-seen / already-unseen URLs: must be ignored
            if rng.random() < 0.5:
                urls.append(C.url_of((seed_i * 31 + 9999) % spec.target_space, spec))
            res = eng.unsee_urls(job, urls, reseed=(kind == "reseed"))
            victims = {u: model[u] for u in urls if u in model}
            assert res["n_unseen"] == len(victims), (kind, urls)
            for u in victims:
                del model[u]
            if kind == "reseed":
                assert res["n_reseeded"] == len(victims)
                model.update(victims)  # re-enter at original depths...
                summary = eng.run_job(job, seed_url, DEPTH)
                assert summary["done"]
                _model_drain(model, victims, spec)  # ...then BFS closure
        elif kind == "compact":
            eng.compact_seen(job)
        else:
            eng.store(job).vacuum(staging_age_s=0.0)
            vacuumed = True
        assert _engine_state(eng, job) == model, (ops, len(model))
        if not vacuumed:
            # the incremental changelog must fold to the live view after
            # EVERY operation (valid until vacuum expires history)
            rows = eng.seen_changes(job).collect()
            folded: dict = {}
            by_round: dict = {}
            for row in rows:
                by_round.setdefault(row["round"], []).append(row)
            for rnd in sorted(by_round):
                for row in by_round[rnd]:
                    if row["change_type"] == "delete":
                        folded.pop(row["url"], None)
                for row in by_round[rnd]:
                    if row["change_type"] == "insert":
                        folded[row["url"]] = row["depth"]
            assert folded == model, (ops, len(model))

    # end state: a full-table unsee empties the engine view exactly
    if model:
        eng.unsee_urls(job, sorted(model), reseed=False)
    assert _engine_state(eng, job) == {}
